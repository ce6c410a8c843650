package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Plan-shape regressions: the physical plans the 100 TB design depends on
  * (broadcast joins where intended, filters pushed to the parquet scan,
  * single-shuffle as-of join) must not silently degrade.
  */
class PlanShapeSpec extends SparkSpec {

  private def executed(name: String) = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan
  }

  /** Full traversal that crosses AQE stage boundaries (plain `collect`
    * treats QueryStageExec as a leaf). */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: allNodes(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      r +: allNodes(r.child)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(allNodes)
  }

  private def collectAll[A](p: org.apache.spark.sql.execution.SparkPlan)(
      f: PartialFunction[org.apache.spark.sql.execution.SparkPlan, A]): Seq[A] =
    allNodes(p).collect(f)

  test("broadcast-hinted dimension joins plan as BroadcastHashJoin") {
    val plan = executed("q_join_broadcast")
    val bhj = collectAll(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"expected a broadcast hash join in:\n$plan")
  }

  test("selective filters are pushed down to the parquet scan (TPC-H Q6)") {
    val plan = executed("q_tpch_q6")
    val scans = collectAll(plan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"),
      s"shipdate filters not pushed: $pushed")
  }

  test("column pruning: a 2-column projection reads only those columns") {
    import spark.implicits._
    val df = Tables.t(spark, sfDir, "lineitem").select($"l_orderkey", $"l_quantity")
    df.collect()
    val scans = collectAll(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    val read = scans.head.metadata.getOrElse("ReadSchema", "")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_comment") && !read.contains("l_extendedprice"),
      s"scan reads more than the projection: $read")
  }

  test("partition pruning: a partitioned table scans only the matching partition") {
    import spark.implicits._
    val tmp = tempDir("pp").toString
    Tables.t(spark, sfDir, "events")
      .write.partitionBy("event_type").mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp).where($"event_type" === "error")
      .select($"event_id")
    df.collect()
    val scans = collectAll(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    val parts = scans.head.metadata.getOrElse("PartitionFilters", "")
    assert(parts.contains("event_type"),
      s"expected a partition filter on event_type, got: $parts")
    // the scan must touch fewer files than the full table holds
    val scanned = scans.head.metrics("numFiles").value
    val total = scans.head.relation.location.inputFiles.length
    assert(scanned < total,
      s"pruning had no effect: scanned $scanned of $total files")
  }

  test("bruteTopK reduces per-partition before the per-query rank") {
    val plan = executed("q_sim_topk")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected the phase-2 merge window in:\n$plan")
    // Every window must rank the phase-1 reduced relation (the bounded-heap
    // mapPartitions), never the raw |corpus|×|queries| scored relation — the
    // shape that funnelled a full corpus through one reducer per query.
    windows.foreach { w =>
      val reduced = allNodes(w).exists {
        case _: org.apache.spark.sql.execution.MapPartitionsExec => true
        case _ => false
      }
      assert(reduced, s"window ranks the raw scored relation:\n$w")
    }
  }

  test("seq-pack prefix sum never plans a globally-ordered (one-reducer) window") {
    val plan = executed("q_seq_pack")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected the per-partition cumsum window in:\n$plan")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"window with empty PARTITION BY = global total order through one task:\n$w")
    }
  }

  // q_equidepth_hist and q_skyline drain their driver-small outputs into a
  // local relation to release the operator caches (ADVICE r6), so the
  // registry query's own plan is a LocalTableScan — the shape to pin lives
  // on the OPERATOR's pre-drain DataFrame, inspected directly here.

  test("equi-depth histogram cumsum never plans a single-partition window") {
    import org.apache.spark.sql.functions._
    val hist = Tables.t(spark, sfDir, "lineitem")
      .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
      .groupBy("c").agg(count(lit(1)).as("cnt"))
    val (cached, cum, _) =
      graft.operators.Packing.prefixSumInclusive(hist, "c", "cnt")
    try {
      cum.collect() // finalize AQE
      val plan = cum.queryExecution.executedPlan
      val windows = collectAll(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"expected the per-partition cumsum window in:\n$plan")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"window with empty PARTITION BY = global total order through one task:\n$w")
      }
    } finally cached.unpersist(blocking = true)
  }

  test("skyline prefix max never plans a single-partition window") {
    import org.apache.spark.sql.functions._
    val pts = Tables.t(spark, sfDir, "orders")
      .select(col("o_totalprice").as("price"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day"))
    val (cached, frontier) =
      graft.operators.Skyline.skyline2D(pts, "price", "day")
    try {
      frontier.collect() // finalize AQE
      val plan = frontier.queryExecution.executedPlan
      val windows = collectAll(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"expected the per-partition running max in:\n$plan")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"window with empty PARTITION BY = global total order through one task:\n$w")
      }
    } finally cached.unpersist(blocking = true)
  }

  test("per-source cap windows only histogram rows and boundary ties, never a full per-group sort") {
    val plan = executed("q_source_cap")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected the histogram + boundary windows in:\n$plan")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"window with empty PARTITION BY = global total order through one task:\n$w")
      // both windows rank tiny relations: the (source, quality) histogram
      // and the single boundary tie-class per source — never the corpus
      // projection itself (which would make this the per-group sort the
      // operator exists to avoid)
    }
  }

  test("correlated scalar AVG (Q17) decorrelates — no per-outer-row nested loop") {
    val plan = executed("q_tpch_q17")
    val nlj = collectAll(plan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(nlj.isEmpty, s"scalar subquery re-executes per outer row:\n$plan")
  }

  test("LATERAL ORDER BY/LIMIT decorrelates to a per-key window rank") {
    val plan = executed("q_lateral")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => g
    }
    assert(windows.nonEmpty, s"expected the decorrelated rank window in:\n$plan")
    val nlj = collectAll(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(nlj.isEmpty, s"lateral executed as a cartesian product:\n$plan")
  }

  test("binned range join plans hash joins only — no nested loop") {
    val plan = executed("q_range_join_binned")
    val nlj = collectAll(plan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(nlj.isEmpty, s"binned range join degenerated to a nested loop:\n$plan")
  }

  test("runtime bloom-filter pruning injects a might-contain filter on the fact side") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // local fixtures are far below the production-size defaults
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val sel = Tables.t(spark, sfDir, "orders").where($"o_totalprice" > 450000.0)
      val joined = Tables.t(spark, sfDir, "lineitem")
        .join(sel, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").count()
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("BloomFilter"),
        s"no runtime bloom filter injected on the fact scan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning plants a runtime subquery on the fact scan") {
    val plan = executed("q_dpp")
    val scans = collectAll(plan) { case s: FileSourceScanExec => s }
    val factDir = new org.apache.hadoop.fs.Path(artifactPath("dpp/orders")).toUri.getPath
    val fact = scans.find(_.relation.location.rootPaths.exists(_.toUri.getPath == factDir))
    assert(fact.nonEmpty, s"no partitioned fact scan found in:\n$plan")
    val pf = fact.get.partitionFilters
    assert(pf.exists(_.exists(e =>
        e.getClass.getSimpleName.contains("DynamicPruning"))),
      s"fact scan's partition filters carry no dynamicpruning subquery: " +
        s"${pf.mkString("; ")}\n$plan")
    // and the pruning actually happened at runtime: only the three Q1-1995
    // month directories were read, out of the full month range
    fact.get.metrics.get("numPartitions").foreach { m =>
      assert(m.value <= 3,
        s"DPP subquery present but ${m.value} partitions were still read")
    }
  }

  test("as-of join plans exactly one shuffle (union + single window sort)") {
    val plan = executed("q_asof_join")
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.length === 1,
      s"expected the single as-of exchange, got ${shuffles.length}:\n$plan")
  }

  test("ngram-Jaccard hot-shingle cap anti-joins via broadcast, never a shuffle of the index") {
    // on an honest corpus the df>cap hot list is tiny: it must arrive at
    // the anti join as a broadcast, not by re-exchanging the exploded
    // index. There is deliberately NO broadcast() hint in the operator —
    // the planner picks broadcast from size estimates here, and on a
    // boilerplate-heavy corpus where the hot list is huge, AQE may fall
    // back to a shuffled anti join instead of OOMing the driver.
    // Asserted on the pre-AQE plan — at runtime an EMPTY hot list lets
    // AQE remove the anti join altogether, which is better still.
    val plan = SparkEntry.queries("q_ngram_jaccard")(spark, sfDir)
      .queryExecution.sparkPlan
    val bcastAnti = collectAll(plan) {
      case b: BroadcastHashJoinExec
          if b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => b
    }
    assert(bcastAnti.nonEmpty,
      s"expected a broadcast left-anti join for the hot-shingle cap in:\n$plan")
  }

  test("co-located bucketed join plans with no exchange below the join") {
    // force the merge join (at spec scale the small side would broadcast,
    // which hides the property under test: the bucketed SCANS already
    // satisfy the join's required distribution)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = executed("q_bucketed_join")
      val smj = collectAll(plan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a sort-merge join in:\n$plan")
      val below = smj.flatMap(allNodes).collect {
        case e: ShuffleExchangeExec => e
      }
      assert(below.isEmpty,
        s"bucketed join must read pre-shuffled buckets; found:\n$below")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed scan ordering elides the join sorts under the ordering conf") {
    // Spark ignores bucket sort metadata on read by default (the ordering
    // guarantee needs one file per bucket, which writeBucketed ensures via
    // the aligned repartition); with the conf on, the sorts vanish too.
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val plan = executed("q_bucketed_join")
      val smj = collectAll(plan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a sort-merge join in:\n$plan")
      val below = smj.flatMap(allNodes).collect {
        case e: ShuffleExchangeExec => e
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(below.isEmpty,
        s"expected neither exchange nor sort below the join; found:\n$below")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf
        .set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    }
  }

  test("bloom semi-join probes at the scan, below any exchange") {
    val plan = executed("q_bloom_semi_join")
    val probeFilters = collectAll(plan) {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("bloom_might_contain") => f
    }
    assert(probeFilters.nonEmpty,
      s"expected a bloom_might_contain filter in:\n$plan")
    val exchangesBelow = probeFilters.flatMap(allNodes).collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchangesBelow.isEmpty,
      "the bloom probe must prune BEFORE the fact side is exchanged")
  }

  test("image near-dup candidate join is banded equi, never cartesian") {
    import org.apache.spark.sql.functions.col
    val (cached, pairs) = graft.multimodal.Multimodal.imageNearDupPairs(
      graft.multimodal.Multimodal.pngNearFixtures(
        Tables.t(spark, sfDir, "documents").select(col("doc_id")), "doc_id"))
    try {
      pairs.collect()
      val plan = pairs.queryExecution.executedPlan
      val bad = collectAll(plan) {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
      }
      assert(bad.isEmpty, s"non-equi join in image near-dup:\n$plan")
    } finally cached.unpersist(blocking = true)
  }

  test("audio and video near-dup candidate joins are banded equi, never cartesian") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.t(spark, sfDir, "documents").select(col("doc_id"))
    for ((label, build) <- Seq[(String, () => (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame))](
        "audio" -> (() => graft.multimodal.Multimodal.audioNearDupPairs(
          graft.multimodal.Multimodal.audioNearFixtures(docs, "doc_id"))),
        "video" -> (() => graft.multimodal.Multimodal.videoNearDupPairs(
          graft.multimodal.Multimodal.videoNearFixtures(docs, "doc_id"))))) {
      val (cached, pairs) = build()
      try {
        pairs.collect()
        val plan = pairs.queryExecution.executedPlan
        val bad = collectAll(plan) {
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
          case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
        }
        assert(bad.isEmpty, s"non-equi join in $label near-dup:\n$plan")
      } finally cached.unpersist(blocking = true)
    }
  }

  test("archive explode plans are scan-shaped: the only shuffle is archive assembly") {
    // zipExplode/warcSplit/tarExplode are mapPartitions over archive rows —
    // at scale (archives already on disk) they are shuffle-free scans. The
    // fixture path's single exchange is the groupBy that PACKS the
    // archives; parsing adds none.
    for (q <- Seq("q_zip_explode", "q_warc_split", "q_tar_members", "q_tgz_members")) {
      val plan = executed(q)
      val exchanges = collectAll(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size <= 1,
        s"$q should shuffle only to assemble fixture archives:\n$plan")
    }
  }

  test("fuzzy join never plans a cartesian product") {
    // the whole point of similarity blocking (deletion variants here):
    // candidate generation is an equi-join on the variant hash — never a
    // cross join, whatever the corpus shape.
    val plan = executed("q_fuzzy_join")
    val cartesian = collectAll(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(cartesian.isEmpty, s"cartesian product in fuzzy join:\n$plan")
    val equiJoins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(equiJoins.nonEmpty, "candidate generation must be an equi-join")
  }

  test("snapshot diff plans one full-outer equi-join, no extra exchange") {
    val plan = executed("q_snapshot_diff")
    val fullOuter = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.FullOuter => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.FullOuter => j
    }
    assert(fullOuter.length === 1, s"expected one full-outer join in:\n$plan")
    // one exchange per snapshot side, nothing downstream of the join
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.length <= 2,
      s"diff must shuffle each side once, got ${shuffles.length}:\n$plan")
  }

  test("approx profiler stays a single pass — no Expand, no per-column scans") {
    val orders = Tables.t(spark, sfDir, "orders")
    val df = graft.operators.Profiler.profileApprox(orders,
      Seq("o_orderkey", "o_custkey", "o_orderstatus"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val expands = collectAll(plan) {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.isEmpty,
      s"approx distinct must not expand the input per column:\n$plan")
    val scans = collectAll(plan) { case s: FileSourceScanExec => s }
    assert(scans.length === 1, "one scan computes every column's stats")
  }

  test("bm25 top-k plans a distributed TakeOrdered with broadcast term joins") {
    val plan = executed("q_bm25")
    // the global top-k must be the two-phase TakeOrdered (per-partition
    // heads merged on the driver), never a full sort of the scored corpus
    val topk = collectAll(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(topk.nonEmpty, s"expected TakeOrderedAndProject in:\n$plan")
    // the tiny term/idf relation joins the tf relation by broadcast
    val bhj = collectAll(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"terms must join by broadcast:\n$plan")
  }

  test("triangle counting plans equi-joins only — no cartesian anywhere") {
    import org.apache.spark.sql.functions._
    // through the operator (the registry wrapper drains to a local
    // relation, hiding the interesting plan); sf0.01, because at
    // sf0.001 the supplier cohort graph is EMPTY and AQE's
    // empty-relation propagation erases the joins being asserted
    val li = Tables.t(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .where(col("l_suppkey") % 10 === 0)
    val e = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_suppkey") < col("y.l_suppkey"))
      .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
    val (cached, stats) = graft.operators.Graphs.triangleStats(e)
    try {
      stats.collect()
      val plan = stats.queryExecution.executedPlan
      val cartesian = collectAll(plan) {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cartesian.isEmpty, s"cartesian product in triangle plan:\n$plan")
      val equiJoins = collectAll(plan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        case j: BroadcastHashJoinExec => j
      }
      assert(equiJoins.nonEmpty,
        "wedge generation and closure probe must be equi-joins")
    } finally cached.unpersist(blocking = true)
  }

  test("BPE encode joins words to pieces via broadcast, applies merges via 1-row NLJ only") {
    val plan = executed("q_bpe_encode")
    // the word→pieces join must broadcast (vocabulary-sized build side);
    // the only nested-loop joins allowed are the 1-row argmax merge
    // applications (a cross join with a single-row broadcast side)
    val bhj = collectAll(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"word→pieces join must broadcast:\n$plan")
    val smj = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"no sort-merge join belongs in encode:\n$plan")
  }

  test("file-backed archive serve shuffles once by (path, split) then map-serves") {
    val plan = executed("q_warc_file_split")
    // index → serve is ONE exchange (the groupByKey by (path, split_id))
    // feeding MapGroups ranged reads; a second data shuffle would mean
    // the split planning degenerated
    val mg = collectAll(plan) {
      case m: org.apache.spark.sql.execution.MapGroupsExec => m
    }
    assert(mg.nonEmpty, s"expected MapGroups serve stage:\n$plan")
    val exchanges = collectAll(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.length <= 2,
      s"serve path should shuffle once (plus at most the index build " +
        s"repartition), got ${exchanges.length}:\n$plan")
  }

  test("preference pair mining is ONE per-user window (never single-partition)") {
    // q_winrate carries the shared wins() sub-plan un-checkpointed
    // (q_bradley_terry's trajectory plan is ExistingRDD scans — its
    // rounds materialize eagerly, so the window is invisible there)
    val plan = executed("q_winrate")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.length == 1,
      s"expected exactly the pair-mining lag window, got ${windows.length}:\n$plan")
    assert(windows.head.partitionSpec.nonEmpty,
      s"pair mining must partition by user_id, not run single-partition:\n$plan")
  }

  test("line dedup plans no windows: df-count join + per-doc regroup only") {
    val plan = executed("q_line_dedup")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"line dedup must not window (order is carried by pos structs):\n$plan")
  }

  test("k-anonymity broadcasts the combinations-sized group relation") {
    val plan = executed("q_k_anonymity")
    val bhj = collectAll(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty,
      s"group-size join should broadcast the tiny group relation:\n$plan")
  }

  test("kmv sketches partial-aggregate map-side (ObjectHashAggregate)") {
    val plan = executed("q_kmv_distinct")
    // the TypedImperativeAggregate must run as a real two-phase
    // aggregation (bounded sketch state through the shuffle), never a
    // collect-rows-then-sketch shape
    val oha = collectAll(plan) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(oha.length >= 2,
      s"expected partial+final ObjectHashAggregate, got ${oha.length}:\n$plan")
  }

  test("URL canonicalize + registrable domain: one broadcast suffix " +
      "join, zero shuffles") {
    val plan = executed("q_url_canonical")
    val bhj = collectAll(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty,
      s"suffix dimension must broadcast:\n$plan")
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty,
      s"parse+canonicalize is per-row codegen work — no exchange:\n$plan")
  }

  test("domain cap never plans a per-group window (hot domains must " +
      "not funnel one task)") {
    val plan = executed("q_domain_cap")
    // two windows are legal: the CORPUS-sized rank bounded by
    // (__pid, registrable), and the base-offset cumsum over the
    // P+G-sized totals relation (partitionBy(registrable) ORDER BY
    // __pid). The scale bug this pins against is the one the operator
    // exists to avoid: partitionBy(registrable) ORDER BY doc_id over
    // the corpus — a hot domain sorted in one task.
    val grouped = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.exists(
            _.references.exists(_.name == "registrable")) &&
            !w.partitionSpec.exists(
              _.references.exists(_.name == "__pid")) &&
            w.orderSpec.exists(
              _.references.exists(_.name == "doc_id")) => w
    }
    assert(grouped.isEmpty,
      s"rankWithinGroups must avoid Window.partitionBy(registrable):\n$plan")
  }

  test("soft-EM trainer publishes from a checkpoint-truncated plan " +
      "(the per-step eager-cut cadence is in effect)") {
    // the lattice joins broadcast the vocab-sized probability relation
    // by an EXPLICIT hint in the operator (UnigramLM.forwardFixed /
    // backwardFixed / expectedCounts), so they cannot silently degrade;
    // what CAN silently regress is the per-step localCheckpoint cadence
    // (the measured winner for word-type-sized DP relations — removing
    // it chains 2 rounds of ~50 joins into one exponential plan). The
    // final plan must therefore be a tiny projection over a
    // checkpointed RDD with no joins left in it.
    val plan = executed("q_unigram_soft_train")
    val rddScans = collectAll(plan) {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddScans.nonEmpty,
      s"expected a localCheckpoint-backed scan at the root:\n$plan")
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty,
      s"a join above the final checkpoint means the cadence regressed:\n$plan")
  }

  test("overlap join plans a hash/merge equi-join on (bin, keys) — " +
      "no nested loop, no cartesian") {
    val plan = executed("q_overlap_join")
    val bad = collectAll(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case n: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => n
    }
    assert(bad.isEmpty, s"theta-shaped join leaked into the plan:\n$plan")
    val equiJoins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(equiJoins.nonEmpty, "bin restore must produce an equi-join")
  }

  test("PSL registrable-domain resolution: every join broadcasts, zero " +
      "exchanges at the full ~5k-rule dim size") {
    // the 100 TB contract of UrlCuration.registrableDomain(rules): the
    // rule dim is broadcast and pre-split by (label count, kind) — the
    // whole resolution must stay a constant chain of broadcast left
    // joins on last-k-label keys with NO shuffle of the corpus,
    // whatever the list size.
    import org.apache.spark.sql.functions.{col, expr}
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr("concat('https://h', cast(doc_id % 97 as string), " +
          "'.co', cast(doc_id % 50 as string), '.tld', " +
          "cast(doc_id % 200 as string), '/p')").as("url"))
    val df = graft.operators.UrlCuration.registrableDomain(
      graft.operators.UrlCuration.canonicalize(docs, "url"),
      "host", graft.operators.UrlCuration.syntheticPsl(spark))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty,
      s"PSL resolution must not shuffle the corpus:\n$plan")
    // the dim has populated (kind, label-count) slices for exact 1/2/3
    // and wildcard 2/3; empty slices (e.g. 4-label rules) fold away via
    // empty-relation propagation
    val bhj = collectAll(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 5,
      s"expected the per-(label count, kind) broadcast join chain:\n$plan")
  }

  test("semDedup: duplicate scan is a cluster equi-join, never cartesian") {
    // the paper's point at scale: pairwise similarity only INSIDE a
    // cluster. The assignment crossJoin against the k-row center set is
    // broadcast by construction; the pair scan must be an equi-join on
    // the cluster key — a cartesian here is the all-pairs failure mode
    // SemDeDup exists to avoid.
    val plan = executed("q_semdedup")
    val cartesian = collectAll(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(cartesian.isEmpty, s"cartesian product in semDedup:\n$plan")
    val equiJoins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(equiJoins.nonEmpty, "the duplicate scan must be an equi-join")
  }

  test("common-direction removal is one map-side pass: no exchange, " +
      "no join in the published plan") {
    // the direction enters as a SQL array literal, so the projection
    // pass must plan as scan+project only; an exchange or join here
    // means the broadcast-by-constant design silently degraded.
    val plan = executed("q_common_direction")
    val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"removal pass must not shuffle:\n$plan")
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"removal pass must not join:\n$plan")
  }

  test("SFT assembly shuffles once: both windows and the conversation " +
      "fold share the user_id partitioning") {
    for (q <- Seq("q_sft_spans", "q_sft_render")) {
      val plan = executed(q)
      val shuffles = collectAll(plan) { case s: ShuffleExchangeExec => s }
      assert(shuffles.length === 1,
        s"$q must reuse ONE user_id exchange, got ${shuffles.length}:\n$plan")
    }
  }

  test("rankWithinGroups plans NO range exchange and NO cache scan — " +
      "the r13 splitter-constant bucketing contract") {
    // __pid is a pure constant-comparison expression (splitters from a
    // driver-collected min-k hash sample), so the plan must contain no
    // RangePartitioning exchange (the old sample-consistency liability)
    // and no InMemoryTableScan (the old corpus-sized persist).
    // q_domain_cap is the pin target: its OUTPUT is the per-domain
    // rank, so it always rides rankWithinGroups (winsorize/conformal
    // moved to the histogram construction in r13 and need no rank).
    val plan = executed("q_domain_cap")
    val liveRange = collectAll(plan) {
      case s: ShuffleExchangeExec
          if s.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical
              .RangePartitioning] => s
    }
    assert(liveRange.isEmpty,
      s"splitter bucketing must not range-partition:\n$plan")
    val cached = collectAll(plan) {
      case c: org.apache.spark.sql.execution.columnar
          .InMemoryTableScanExec => c
    }
    assert(cached.isEmpty, s"no cached relation may back the rank:\n$plan")
  }

  test("winsorize/conformal/ECDF cumulations plan NO single-partition " +
      "window (r13 verdict #2)") {
    // The r13 histogram rewrite cumulated with Window.orderBy(v) and NO
    // partitionBy — one task over a histogram that approximates the
    // corpus whenever the value column is continuous (raw DOUBLE values
    // in winsorize, raw BIGINT nonconformities in conformalGate). The
    // r14 fix routes every cumulation through the two-phase
    // Packing.cumSumWithinGroups; this pin fails if ANY window in these
    // plans has an empty partition spec (the "all rows one reducer"
    // shape), batch and streamed read sides alike.
    for (q <- Seq("q_winsorize", "q_winsorize_by_group",
        "q_conformal_gate", "q_conformal_by_group", "q_winsorize_stream",
        "q_conformal_stream", "q_quantile_norm", "q_quantile_norm_stream",
        "q_winsorize_by_group_stream", "q_conformal_by_group_stream")) {
      val plan = executed(q)
      val unpartitioned = collectAll(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty,
        s"$q plans a single-partition window:\n$plan")
    }
  }

  test("every single-partition window ranks a provably bounded relation " +
      "(the r15 winaudit inventory)") {
    // The full-registry winaudit at sf0.1 (plans/r15/winaudit_sf01.txt)
    // found exactly these queries planning an empty-PARTITION-BY
    // WindowExec. Each is attributed to a bounded input; this pin fails
    // if any of their global windows loses its bounding structure. The
    // registry-wide sweep that produced the list is gone, so this test is
    // now the audit; it checks only the queries listed here:
    //  - "limit": the window ranks the ≤ k survivors of a distributed
    //    TakeOrdered/limit (bm25/rrf/gumbel/weighted-sample/
    //    cooccurrence/bpe-merges post-limit rank);
    //  - "__pid": Packing.cumSumWithinGroups phase 2 — base offsets
    //    over the per-(__pid, group) totals, ≤ P rows (P = shuffle
    //    partitions; the group key is a plan constant in these callers,
    //    so Catalyst prunes it to an empty partition spec);
    //  - "bin": Calibration.isotonicFit over the ≤ 2·clamp-row (=128)
    //    bin histogram;
    //  - "domain"/"lang": the |domains|-row water-fill count relation /
    //    the distinct-lang interleave relation.
    val bounded: Seq[(String, String)] = Seq(
      "q_bm25" -> "limit", "q_rrf_fusion" -> "limit",
      "q_dsir_gumbel_topk" -> "limit", "q_weighted_sample" -> "limit",
      "q_cooccurrence" -> "limit", "q_bpe_merges" -> "limit",
      "q_sorted_neighborhood" -> "__pid",
      "q_sorted_neighborhood_multi" -> "__pid",
      "q_length_buckets" -> "__pid", "q_length_bucket_gain" -> "__pid",
      "q_isotonic_calibration" -> "bin", "q_isotonic_stream" -> "bin",
      "q_calibration_error" -> "bin", "q_calibrated_gate" -> "bin",
      "q_dpo_gated" -> "bin",
      "q_token_waterfill" -> "domain", "q_curriculum_order" -> "lang")
    var sawAny = false
    for ((q, kind) <- bounded) {
      val plan = executed(q)
      val globals = collectAll(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      globals.foreach { w =>
        sawAny = true
        val below = allNodes(w.child)
        val ok = kind match {
          case "limit" => below.exists {
            case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
            case _: org.apache.spark.sql.execution.GlobalLimitExec => true
            case _: org.apache.spark.sql.execution.CollectLimitExec => true
            case _ => false
          }
          case key => below.exists {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
              a.groupingExpressions.exists(
                _.references.exists(_.name == key))
            case _ => false
          }
        }
        assert(ok,
          s"$q: global window lost its bounding '$kind' structure:\n$w")
      }
    }
    assert(sawAny,
      "inventory went vacuous — no audited query planned a global window")
  }

  test("no corpus-sized relation stays cached after the " +
      "rankWithinGroups-backed queries complete (r12 verdict #1)") {
    val cm = spark.sharedState.cacheManager
    for (q <- Seq("q_winsorize", "q_length_buckets",
        "q_sorted_neighborhood", "q_epoch_shuffle", "q_domain_cap")) {
      cm.clearCache()
      SparkEntry.queries(q)(spark, sfDir).collect()
      assert(cm.isEmpty,
        s"$q left relations in the cache manager — the release " +
          "contract regressed")
    }
  }
}
