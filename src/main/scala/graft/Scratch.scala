package graft

/** Throwaway profiling/plan-audit harness (not part of the driver contract). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"

    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"TIME $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    def runNoop(name: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.format("noop")
        .mode("overwrite").save()

    for (name <- args.filter(_.startsWith("explain:")).map(_.stripPrefix("explain:"))) {
      println(s"\n========== $name ==========")
      val df = SparkEntry.queries(name)(spark, dir)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }

    // jobprof:<query> — attribute a query's wall time to Spark JOBS:
    // count them, sum their wall, sum their task time, and print the
    // slowest ones. Separates "the cluster computed for N seconds" from
    // "the driver scheduled hundreds of tiny jobs" (guide §1.1/§7).
    for (name <- args.filter(_.startsWith("jobprof:")).map(_.stripPrefix("jobprof:"))) {
      import scala.collection.concurrent.TrieMap
      case class J(var t0: Long = 0L, var wallMs: Long = 0L,
        var tasks: Int = 0, var taskMs: Long = 0L, var stages: Int = 0,
        var gcMs: Long = 0L, var runMs: Long = 0L)
      val jobs = new TrieMap[Int, J]()
      val stageToJob = new TrieMap[Int, Int]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val j = jobs.getOrElseUpdate(e.jobId, J())
          j.t0 = e.time; j.stages = e.stageIds.size
          e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        }
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobs.get(e.jobId).foreach(j => j.wallMs = e.time - j.t0)
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
            j.synchronized {
              j.tasks += 1; j.taskMs += e.taskInfo.duration
              Option(e.taskMetrics).foreach { m =>
                j.gcMs += m.jvmGCTime; j.runMs += m.executorRunTime
              }
            }
          }
      }
      // warm once so codegen/JIT does not masquerade as scheduling cost
      runNoop(name); spark.catalog.clearCache(); System.gc()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      runNoop(name)
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
      val js = jobs.values.toSeq
      println(f"JOBPROF $name wall=$wall%.2fs jobs=${js.size}%d " +
        f"stages=${js.map(_.stages).sum}%d tasks=${js.map(_.tasks).sum}%d " +
        f"jobWallSum=${js.map(_.wallMs).sum / 1e3}%.2fs " +
        f"taskTimeSum=${js.map(_.taskMs).sum / 1e3}%.2fs " +
        f"gcSum=${js.map(_.gcMs).sum / 1e3}%.2fs " +
        f"runSum=${js.map(_.runMs).sum / 1e3}%.2fs")
      for ((id, j) <- jobs.toSeq.sortBy(-_._2.wallMs).take(15))
        println(f"  job=$id%4d wall=${j.wallMs / 1e3}%6.2fs stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d taskTime=${j.taskMs / 1e3}%6.2fs " +
          f"gc=${j.gcMs / 1e3}%6.2fs run=${j.runMs / 1e3}%6.2fs")
    }

    // stageprof:<query> — per-STAGE task-time attribution (stage name =
    // the operator span codegen gave it), for pinpointing which physical
    // stage a jobprof regression lives in.
    for (name <- args.filter(_.startsWith("stageprof:")).map(_.stripPrefix("stageprof:"))) {
      import scala.collection.concurrent.TrieMap
      case class S(var name: String = "", var tasks: Int = 0,
        var taskMs: Long = 0L, var gcMs: Long = 0L, var rows: Long = 0L)
      val stages = new TrieMap[Int, S]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId, S())
          s.name = e.stageInfo.name.takeWhile(_ != '\n')
          s.tasks = e.stageInfo.numTasks
          s.taskMs = e.stageInfo.taskMetrics.executorRunTime
          s.gcMs = e.stageInfo.taskMetrics.jvmGCTime
          s.rows = e.stageInfo.taskMetrics.outputMetrics.recordsWritten
        }
      }
      runNoop(name); spark.catalog.clearCache(); System.gc()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      runNoop(name)
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
      println(f"STAGEPROF $name wall=$wall%.2fs stages=${stages.size}%d " +
        f"runSum=${stages.values.map(_.taskMs).sum / 1e3}%.2fs")
      for ((id, s) <- stages.toSeq.sortBy(-_._2.taskMs).take(20))
        println(f"  stage=$id%4d run=${s.taskMs / 1e3}%7.2fs gc=${s.gcMs / 1e3}%5.2fs " +
          f"tasks=${s.tasks}%4d  ${s.name}%s")
    }

    // r14 plan evidence for the graph-query symmetrization change: the
    // registry queries Drain (collect) their output, so their final
    // plans are LocalTableScans — this prints the EDGE-BUILD plan in
    // both the replaced union-of-selects form and the shipped
    // single-explode form (plans/r14/q_pagerank_edges_*.txt).
    if (args.contains("symplans")) {
      import org.apache.spark.sql.functions._
      val e0 = Tables.t(spark, dir, "orders")
        .join(Tables.t(spark, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val union = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
      val exploded = e0.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      println("\n========== edges_union (before) ==========")
      println(union.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println("\n========== edges_explode (after) ==========")
      println(exploded.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }

    // r15 plan evidence for the classCoverageRuns restructure: the IR-eval
    // registry queries Drain (collect) their output, so their final plans
    // are LocalTableScans — this prints the COVERAGE-RUN build plan in both
    // the replaced per-budget form (two dw joins + two aggregates) and the
    // shipped shared-aggregate form (one join + one aggregate, budgets as
    // conditional counts), for plans/r15/q_rank_overlap_cov_*.txt.
    if (args.contains("covplans")) {
      import org.apache.spark.sql.functions._
      import graft.operators.{Dedup, TextAnalysis, TopN}
      val docs = Tables.t(spark, dir, "documents")
      val (_, ranked) = TextAnalysis.classTerms(docs, "source", "text", 5L, 5)
      val rankedP = ranked.persist()
      val dw = docs.select(col("doc_id").as("doc"),
          explode(expr(Dedup.wordsExpr("text"))).as("word"))
        .distinct().persist()
      def finish(cov: org.apache.spark.sql.DataFrame) = {
        val top = TopN.topNPerGroup(cov, "query", "coverage", "doc", 10)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query"))
          .orderBy(col("coverage").desc, col("doc"))
        top.withColumn("rank", row_number().over(w).cast("long"))
      }
      val oldRuns = Seq(5, 3).map { n =>
        finish(dw.join(broadcast(rankedP.where(col("rk") <= n)
            .select(col("class").as("query"), col("word"))), Seq("word"))
          .groupBy(col("query"), col("doc"))
          .agg(count(lit(1)).as("coverage")))
      }
      val covAll = dw.join(broadcast(rankedP
          .select(col("class").as("query"), col("word"), col("rk"))),
          Seq("word"))
        .groupBy(col("query"), col("doc"))
        .agg(count(when(col("rk") <= 5, 1)).as("cov_5"),
          count(when(col("rk") <= 3, 1)).as("cov_3"))
        .persist()
      val newRuns = Seq(5, 3).map(n =>
        finish(covAll.where(col(s"cov_$n") > 0)
          .select(col("query"), col("doc"), col(s"cov_$n").as("coverage"))))
      println("\n========== coverage_runs per-budget (before) ==========")
      oldRuns.zip(Seq(5, 3)).foreach { case (r, n) =>
        println(s"---- budget $n ----")
        println(r.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      println("\n========== coverage_runs shared-aggregate (after) ==========")
      newRuns.zip(Seq(5, 3)).foreach { case (r, n) =>
        println(s"---- budget $n ----")
        println(r.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      rankedP.unpersist(); dw.unpersist(); covAll.unpersist()
    }

    if (args.isEmpty) {
      println(
        """usage: Scratch [explain:<query>]... [ngramprof] [cleanprof] [<query>]...
          |  explain:<name>  print the formatted physical plan
          |  ngramprof       stage-by-stage n-gram Jaccard profile
          |  cleanprof       stage-by-stage corpus-clean profile
          |  <name>          time the query through the noop sink
          |running the default audit set (5 most expensive from the last
          |bench) since no args were given...""".stripMargin)
    }
    val defaults = Seq("q_ngram_jaccard", "q_corpus_clean", "q_dedup_minhash",
      "q_percentile", "q_multijoin_revenue")

    time("warmup")(runNoop("q_grouped_sum"))
    if (args.contains("cleanprof")) {
      import org.apache.spark.sql.functions._
      import graft.operators.{CorpusClean, Dedup, TextAnalysis}
      // mirrors CorpusClean.clean stage for stage (same persist points)
      val docs = Tables.t(spark, dir, "documents")
      val filtered = docs
        .select(col("doc_id").cast("long").as("doc_id"),
          call_function("norm_ws", col("text")).as("norm_text"))
        .where(call_function("clean_gate",
          col("norm_text"), lit("en"), lit(3000L)))
      time("scan+norm+gate")(
        filtered.write.format("noop").mode("overwrite").save())
      val exactKeep = Dedup.dropExactDuplicates(filtered, "doc_id", "norm_text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("exact")(exactKeep.write.format("noop").mode("overwrite").save())
      val sigs = Dedup.signatures(exactKeep, "doc_id", "norm_text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("signatures")(sigs.write.format("noop").mode("overwrite").save())
      val pairs = Dedup.minhashPairs(exactKeep, "doc_id", "norm_text", 0.8)
      time("minhash(bands+verify)")(
        pairs.write.format("noop").mode("overwrite").save())
      val dropIds = pairs.select(col("doc_b").as("doc_id")).distinct()
      val out = exactKeep.join(dropIds, Seq("doc_id"), "left_anti")
      time("antijoin")(out.write.format("noop").mode("overwrite").save())
    }
    if (args.contains("cpackprof")) {
      // Per-fold pack-stage INPUT BYTES, delta design vs the old
      // full-anti-join design (round-12 VERDICT task 1). The old
      // design's pack stage read texts + drops + packed in full every
      // fold (corpus-linear); the delta design reads pending +
      // (normally empty) at-risk watermark dirs + two 1-row logs.
      // Bytes, not NVMe wall time, are the decisive metric (the ER
      // profiler precedent).
      import org.apache.spark.sql.functions._
      import graft.streaming.{StreamingCleanPack, StreamingCorpusClean,
        StreamingPacking}
      val fsRoot = "/tmp/graft_cpackprof/state"
      def bytes(path: String): Long = {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      }
      StreamingCleanPack.init(spark, fsRoot)
      val docs = Tables.t(spark, dir, "documents")
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
      // r13 soak (round-12 VERDICT task 1): `foldsN` raises the fold
      // count (e.g. `cpackprof folds60`), `crashes` injects protocol
      // crashes on a fixed rotation — fold%10==3 skips the pack stage
      // entirely (crash between stage and pack: pending accumulates,
      // the next fold consumes two folds' dirs), fold%10==7 drops the
      // max watermark marker after the pack (crash between consume and
      // marker: the at-risk window stays open until the next fold's
      // marker heals it), fold%10==9 REPLAYS the previous fold's clean
      // batch end-to-end (the upstream-source replay: the clean fold's
      // content-addressed artifacts dedup it to an empty delta).
      val folds = args.collectFirst {
        case a if a.startsWith("folds") => a.stripPrefix("folds").toInt
      }.getOrElse(6)
      val inject = args.contains("crashes")
      val cb = StreamingCleanPack.cleanBase(fsRoot)
      val pb = StreamingCleanPack.packBase(fsRoot)
      val pp = StreamingCleanPack.pendingPath(fsRoot)
      val hfs = new org.apache.hadoop.fs.Path(fsRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def count(path: String): Int = {
        val p = new org.apache.hadoop.fs.Path(path)
        if (hfs.exists(p)) hfs.listStatus(p).length else 0
      }
      def dropMaxMarker(): Unit = {
        val d = new org.apache.hadoop.fs.Path(s"$pb/wlog")
        if (hfs.exists(d)) {
          val ms = hfs.listStatus(d).map(_.getPath)
            .flatMap(p => p.getName.stripPrefix("c_").toLongOption
              .map((_, p)))
          if (ms.nonEmpty) hfs.delete(ms.maxBy(_._1)._2, false)
        }
      }
      def slice(i: Long) = docs.where(col("doc_id") >= i * maxId / folds &&
        col("doc_id") < (i + 1) * maxId / folds)
      for (i <- 0L until folds.toLong) {
        val t0 = System.nanoTime()
        StreamingCorpusClean.foldDocs(spark, cb, slice(i), "doc_id",
          "text", onNewlyKept =
            Some(d => StreamingCleanPack.stagePending(spark, fsRoot, d)))
        val tClean = (System.nanoTime() - t0) / 1e9
        // what the pack stage is ABOUT to read (delta design: pending +
        // zero-byte markers; at-risk dirs are empty in a crash-free
        // run) vs what the old design's anti-join lineage read at this
        // fold (full texts + drops + packed)
        val newRead = bytes(pp) + bytes(s"$pb/wlog")
        val oldRead = bytes(s"$cb/texts") + bytes(s"$cb/drops") +
          bytes(s"$pb/packed")
        val nPend = count(pp)
        val nMark = count(s"$pb/wlog")
        val crash =
          if (!inject) ""
          else if (i % 10 == 3) "skip-pack"
          else if (i % 10 == 7) "drop-marker"
          else if (i % 10 == 9) "replay-prev"
          else ""
        val t1 = System.nanoTime()
        if (crash != "skip-pack")
          StreamingCleanPack.packPending(spark, fsRoot, 256, None)
        val tPack = (System.nanoTime() - t1) / 1e9
        if (crash == "drop-marker") dropMaxMarker()
        // r13: periodic clean-artifact compaction (the measured
        // small-files fix — without it the clean fold drifts linearly
        // in FOLD COUNT from per-file listing/open cost)
        if (i % 20 == 19) {
          val tc = System.nanoTime()
          StreamingCorpusClean.compact(spark, cb)
          println(f"CPACK compact_clean at fold=$i%d " +
            f"took=${(System.nanoTime() - tc) / 1e9}%5.2fs")
        }
        if (crash == "replay-prev" && i > 0) {
          StreamingCorpusClean.foldDocs(spark, cb, slice(i - 1), "doc_id",
            "text", onNewlyKept =
              Some(d => StreamingCleanPack.stagePending(spark, fsRoot, d)))
          StreamingCleanPack.packPending(spark, fsRoot, 256, None)
        }
        println(f"CPACK fold=$i%d clean=$tClean%6.2fs pack=$tPack%6.2fs " +
          f"pack_read_delta=${newRead / 1024}%8d KB " +
          f"pack_read_old=${oldRead / 1024}%8d KB " +
          f"pend=$nPend%2d markers=$nMark%2d crash=$crash%s")
      }
      // end-of-soak integrity: packed artifact equals one contiguous
      // prefix sum (no dup, no gap) — printed, not assumed
      val rows = StreamingPacking
        .packed(spark, pb)
        .select(col("doc_id"), col("n_tokens"), col("offset"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._3)
      val contiguous = rows.foldLeft((true, 0L)) {
        case ((ok, next), (_, n, off)) => (ok && off == next, off + n)
      }._1
      val dupFree = rows.map(_._1).distinct.length == rows.length
      println(s"CPACK_SOAK docs=${rows.length} contiguous=$contiguous " +
        s"dup_free=$dupFree")
    }
    if (args.contains("ngramprof")) {
      import org.apache.spark.sql.functions._
      val sh = Tables.t(spark, dir, "documents")
        .select(col("doc_id"),
          expr(graft.operators.Dedup.shinglesExpr(
            graft.operators.Dedup.wordsExpr("text"))).as("sh"))
        .where(expr("size(sh) >= 1"))
      time("shingles")(sh.write.format("noop").mode("overwrite").save())
      val e = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      time("explode")(e.write.format("noop").mode("overwrite").save())
      val c = e.as("a")
        .join(e.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id"), col("b.doc_id")).agg(count(lit(1)))
      time("join+agg")(c.write.format("noop").mode("overwrite").save())
    }
    if (args.contains("winaudit")) {
      // Which registry queries still plan a single-partition (global
      // ORDER BY, no PARTITION BY) window, and on how many input rows?
      // Diagnostic for the r5-verdict straggler audit.
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a +: allNodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: allNodes(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          r +: allNodes(r.child)
        case other =>
          other +: (other.children ++ other.subqueries).flatMap(allNodes)
      }
      val auditDir =
        sys.env.getOrElse("SPARK_GRAFT_AUDIT_DIR", "/root/testdata/sf0.001")
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        try {
          val df = fn(spark, auditDir)
          df.collect()
          val globals = allNodes(df.queryExecution.executedPlan).collect {
            case w: org.apache.spark.sql.execution.window.WindowExec
                if w.partitionSpec.isEmpty =>
              (w: org.apache.spark.sql.execution.SparkPlan,
                w.orderSpec.map(_.sql).mkString(","))
            case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
                if w.partitionSpec.isEmpty =>
              (w: org.apache.spark.sql.execution.SparkPlan,
                w.orderSpec.map(_.sql).mkString(","))
          }
          for ((w, ord) <- globals) {
            val rows = w.children.headOption
              .flatMap(_.metrics.get("numOutputRows").map(_.value))
              .getOrElse(-1L)
            println(s"WINAUDIT $name: ${w.getClass.getSimpleName} " +
              s"inputRows~$rows orderBy=$ord")
          }
        } catch { case e: Throwable =>
          println(s"WINAUDIT $name FAILED: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
    }

    if (args.contains("watchprof")) {
      // File-watcher ladder (r9 verdict #7): the directory-watching
      // .warc.zst capstone's per-fold cost must track the BATCH (the
      // newly-landed files), not the directory. Three ladder points
      // pre-populate+fold 20 / 200 / 600 archives (1x/10x/30x), then
      // land the SAME 20-archive wave (ids 605-624, disjoint from every
      // prefill) and time just that wave's fold.
      import org.apache.spark.sql.functions.col
      val arcs = graft.multimodal.Archives.warcZstFixtures(
          Tables.t(spark, dir, "documents"), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"WATCHPROF total archives: ${arcs.count()}")
      for ((pre, tag) <- Seq((20, "x1"), (200, "x10"), (600, "x30"))) {
        val root = s"/tmp/graft_watchprof/$tag"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val inDir = s"$root/in"
        graft.multimodal.ArchiveFiles.writeDir(
          arcs.where(col("archive_id") < pre), inDir, ".warc.zst")
        val q = graft.streaming.StreamingCorpusClean.attachWarcZstFiles(
          spark, inDir, s"$root/state", s"$root/ckpt")
        try {
          time(s"watchprof $tag prefill($pre)")(q.processAllAvailable())
          graft.multimodal.ArchiveFiles.writeDir(
            arcs.where(col("archive_id") >= 605), inDir, ".warc.zst")
          time(s"watchprof $tag wave(20)")(q.processAllAvailable())
        } finally q.stop()
      }
      arcs.unpersist()
    }

    if (args.contains("erprof")) {
      // Fold-cost isolation for the streaming-ER storage designs (r8
      // verdict #4): seed a SYNTHETIC large assignment (N members, all
      // singleton clusters, with their real FastSS k=1 variant index),
      // then time ONE small fold (200 records, half near-dups of seeds)
      // under (a) the merge-on-read delta design foldBatch ships, and
      // (b) the r8 design's write path (updateClusters + full-assignment
      // rewrite) on an identical twin artifact. The batch pipeline
      // (probe/verify/CC) is shared; the difference isolates the fold's
      // STORAGE term, which is what the designs disagree about.
      import org.apache.spark.sql.functions._
      import graft.operators.{Dedup, FuzzyJoin}
      import graft.streaming.StreamingEntityResolution
      for (n <- Seq(100000L, 1000000L, 4000000L)) {
        // deterministic, pairwise-distant seed names (digits not
        // repeated — suffix varies with id so edit distance > 1)
        def seeds = spark.range(n).select(col("id"),
          concat(lit("member-"), col("id"), lit("-"),
            pmod(col("id") * 2654435761L, lit(997L))).as("s"))
        def seedArtifact(base: String): Unit = {
          val fs = new org.apache.hadoop.fs.Path(base)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(base), true)
          seeds.write.parquet(s"$base/members")
          FuzzyJoin.deletionVariantKeys(seeds, "id", "s", 1)
            .write.parquet(s"$base/variants")
          seeds.select(col("id").as("doc_id"), col("id").as("cluster_id"),
              lit(true).as("keep"))
            .write.parquet(s"$base/clusters/compacted")
        }
        val batch = spark.range(100).select(
            (col("id") + 2 * n).as("id"),
            concat(lit("member-"), col("id") * 37 % n, lit("-"),
              pmod(col("id") * 37 % n * 2654435761L, lit(997L)), lit("x")).as("s"))
          .union(spark.range(100).select((col("id") + 3 * n).as("id"),
            concat(lit("fresh-"), col("id"), lit("-none")).as("s")))
          .persist()
        batch.count()

        def fullRewriteFold(fullBase: String): Unit = {
          // the r8 write path: same probe/verify/contraction, then the
          // FULL assignment rewrite to a new epoch dir
          val storedV = spark.read.parquet(s"$fullBase/variants")
          val storedM = spark.read.parquet(s"$fullBase/members")
          val b = batch.join(storedM.select(col("id")), Seq("id"), "left_anti")
          val bv = FuzzyJoin.deletionVariantKeys(b, "id", "s", 1)
          val candOld = bv
            .join(storedV.select(col("h"), col("id").as("id_o")), Seq("h"))
            .where(col("id") =!= col("id_o"))
            .select(least(col("id"), col("id_o")).as("id_a"),
              greatest(col("id"), col("id_o")).as("id_b"))
          val candNew = bv
            .join(bv.select(col("h"), col("id").as("id_o")), Seq("h"))
            .where(col("id") < col("id_o"))
            .select(col("id").as("id_a"), col("id_o").as("id_b"))
          val cands = candOld.unionByName(candNew).distinct()
          val names = storedM.unionByName(b)
          val pairs = cands
            .join(names.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
            .join(names.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
            .withColumn("dist", levenshtein(col("s_a"), col("s_b"), 1))
            .where(col("dist") >= 0 && col("dist") <= 1)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
          val old = spark.read.parquet(s"$fullBase/clusters/compacted")
          Dedup.updateClusters(old, pairs)
            .write.mode("overwrite").parquet(s"$fullBase/clusters/e=1")
        }

        // alternate fresh-dir reps (A B A B): the first fold after a seed
        // pays one-time JIT/page-cache costs of ~2-4 s, so per-design
        // MINIMA are the comparable storage-term signal. Wall time is
        // dominated by the SHARED probe reads at local-NVMe speeds, so
        // the decisive per-design metric is BYTES WRITTEN by the fold —
        // the term that owns the fold cost on real object storage.
        def dirBytes(path: String): Long = {
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
        }
        for (rep <- 1 to 2) {
          val fullBase = s"/tmp/graft_er_prof/full_${n}_$rep"
          seedArtifact(fullBase)
          time(s"er_fold_fullrw_n${n}_r$rep")(fullRewriteFold(fullBase))
          println(s"FOLD_WRITE fullrw n=$n rep=$rep bytes=" +
            dirBytes(s"$fullBase/clusters/e=1"))
          val morBase = s"/tmp/graft_er_prof/mor_${n}_$rep"
          seedArtifact(morBase)
          time(s"er_fold_mor_n${n}_r$rep")(
            StreamingEntityResolution.foldBatch(spark, morBase, batch,
              "id", "s", k = 1))
          println(s"FOLD_WRITE mor    n=$n rep=$rep bytes=" +
            dirBytes(s"$morBase/clusters/delta"))
        }
        batch.unpersist()
      }
    }

    if (args.contains("scalegen30")) {
      // documents-only ×30 replica (r8 verdict #6: the deeper ladder
      // point for the media near-dup family) — same perturbation rule as
      // scalegen's documents branch so cross-replica shingles never match
      import org.apache.spark.sql.functions._
      val src = "/root/testdata/sf0.1"
      val base = Tables.t(spark, src, "documents")
      val dShift = base.agg(max(col("doc_id").cast("long"))).head.getLong(0) + 1
      val out = "/tmp/graft_scale/x30"
      (0 until 30).map { r =>
        val d = base.withColumn("doc_id",
          (col("doc_id").cast("long") + lit(dShift * r)))
        if (r == 0) d
        else d.withColumn("text", expr(
          s"""array_join(transform(split(text, ' '),
             |  (w, i) -> IF(i % 3 = 0, 'zq$r', w)), ' ')""".stripMargin))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      println("SCALEGEN x30 documents done")
    }

    if (args.contains("scalegen")) {
      // Bench-only scale replicas (x3 / x10 of sf0.1) for the verdict's
      // scale-ladder evidence: replicate each input table of the five most
      // expensive operators with keys shifted per replica, and content
      // perturbed so cross-replica rows never match (otherwise identical
      // replicated text/names/vectors would manufacture quadratic
      // cross-replica duplicate pairs and the ladder would measure data
      // semantics, not operator scaling):
      //  - customer names get per-replica 3-char tags (pairwise edit
      //    distance 3 > the fuzzy-join threshold 2);
      //  - every 3rd document word becomes a replica token (ShingleK=3, so
      //    every shingle differs cross-replica -> Jaccard 0);
      //  - embeddings rotate by r positions (cross-replica cosine ~0,
      //    within-replica geometry untouched).
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.DataFrame
      val src = "/root/testdata/sf0.1"
      def maxKey(tbl: String, c: String): Long =
        Tables.t(spark, src, tbl)
          .agg(max(col(c).cast("long"))).head.getLong(0) + 1
      val oShift = maxKey("orders", "o_orderkey")
      val cShift = maxKey("customer", "c_custkey")
      val sShift = maxKey("lineitem", "l_suppkey")
      val dShift = maxKey("documents", "doc_id")
      val vShift = maxKey("embeddings", "vec_id")
      def shifted(df: DataFrame, c: String, delta: Long, r: Int): DataFrame =
        df.withColumn(c,
          (col(c).cast("long") + lit(delta * r)).cast(df.schema(c).dataType))
      for (factor <- Seq(3, 10)) {
        val out = s"/tmp/graft_scale/x$factor"
        def gen(tbl: String)(tf: (DataFrame, Int) => DataFrame): Unit = {
          val base = Tables.t(spark, src, tbl)
          (0 until factor).map(r => tf(base, r)).reduce(_ union _)
            .write.mode("overwrite").parquet(s"$out/$tbl.parquet")
          println(s"SCALEGEN x$factor $tbl done")
        }
        gen("orders")((df, r) =>
          shifted(shifted(df, "o_orderkey", oShift, r), "o_custkey", cShift, r))
        gen("lineitem")((df, r) =>
          shifted(shifted(df, "l_orderkey", oShift, r), "l_suppkey", sShift, r))
        gen("customer") { (df, r) =>
          val tag = ('a' + r).toChar.toString * 3
          shifted(df, "c_custkey", cShift, r)
            .withColumn("c_name",
              if (r == 0) col("c_name") else concat(lit(tag), col("c_name")))
        }
        gen("documents") { (df, r) =>
          val d = shifted(df, "doc_id", dShift, r)
          if (r == 0) d
          else d.withColumn("text", expr(
            s"""array_join(transform(split(text, ' '),
               |  (w, i) -> IF(i % 3 = 0, 'zq$r', w)), ' ')""".stripMargin))
        }
        gen("embeddings") { (df, r) =>
          val d = shifted(df, "vec_id", vShift, r)
          // per-replica diagonal ±1 orthogonal transform: intra-replica
          // dot products are preserved EXACTLY while cross-replica
          // cosines collapse to ~0 whatever structure the vectors have
          // (a rotation, tried first, kept adjacent-rotation cosines
          // high on smooth vectors and manufactured cross-replica
          // near-dup pairs — 77 s at x3 vs 33 s at x10, non-monotone)
          val rng = new scala.util.Random(4242 + r)
          val signs = Array.fill(64)(if (rng.nextBoolean()) 1.0f else -1.0f)
          if (r == 0) d
          else d.withColumn("embedding", expr(
            s"zip_with(embedding, array(${signs.map(x =>
              s"CAST($x AS FLOAT)").mkString(",")}), (v, s) -> v * s)"))
        }
        // events (Bench's warmup input) is copied raw by the caller:
        // writing it through Tables.t would bake in the ns->us rebuild and
        // break the loader's nanosAsLong re-read.
      }
    }

    if (args.contains("spatialladder")) {
      // Radius-join ladder at CONSTANT point density: the output of
      // "all pairs within r" is inherently ∝ n · density, so a ladder
      // that replicates points into a fixed space would measure the
      // quadratic pair SEMANTICS, not the operator. Scaling the space
      // side with sqrt(n) keeps points-per-cell (and pairs-per-point)
      // constant — the ladder then isolates the grid plan's own
      // overhead (cell assignment, x9 replication, shuffle).
      import org.apache.spark.sql.functions._
      val baseN = 20000L // ~the sf0.1 click-event count
      for ((factor, tag) <- Seq((1, "1x"), (3, "3x"), (10, "10x"))) {
        val n = baseN * factor
        val side = math.round(4000.0 * math.sqrt(factor.toDouble))
        val h = graft.operators.Dedup.h60raw(
          "concat('x:', cast(id as string))")
        val h2 = graft.operators.Dedup.h60raw(
          "concat('y:', cast(id as string))")
        val pts = spark.range(n)
          .select(col("id"), expr(s"$h % ${side}L").as("x"),
            expr(s"$h2 % ${side}L").as("y"))
        for (rep <- 1 to 2) {
          time(s"spatial_self_$tag r$rep")(
            graft.operators.SpatialJoin.radiusSelfJoin(
                pts, "id", "x", "y", radius = 50L)
              .write.format("noop").mode("overwrite").save())
        }
      }
    }

    if (args.contains("semladder")) {
      // SemDeDup's documented scale contract is k ∝ n (the paper's
      // regime: cluster count grows with the corpus so cluster SIZES
      // stay bounded) — a fixed-k ladder would measure the quadratic
      // within-cluster blowup the contract explicitly excludes. Ladder
      // the k∝n instantiation on the x3/x10 embedding replicas (keys
      // shifted, per-replica ±1 diagonal rotation ⇒ cross-replica
      // cosines collapse) plus power iteration / common-direction
      // removal (fixed-k-free, expected flat-to-linear).
      import graft.operators.Similarity
      for ((d, k, tag) <- Seq((dir, 6, "1x"),
          ("/tmp/graft_scale/x3", 18, "3x"),
          ("/tmp/graft_scale/x10", 60, "10x"))) {
        val emb = Tables.t(spark, d, "embeddings")
        for (rep <- 1 to 2) {
          time(s"semdedup_k${k}_$tag r$rep")(
            Similarity.semDedup(emb, "vec_id", "embedding", k, 0.4)
              .write.format("noop").mode("overwrite").save())
          // the production quantizer at the same k ∝ n: Lloyd scan
          // count independent of k, so the k=60 point must stop being
          // ~60 sequential seeding jobs (round-11 ladder note)
          time(s"semdedup_kmeans_k${k}_$tag r$rep")(
            Similarity.semDedupKMeans(emb, "vec_id", "embedding", k, 0.4)
              .write.format("noop").mode("overwrite").save())
          time(s"power_iter_$tag r$rep")(
            Similarity.topSpectralDirection(emb, "vec_id", "embedding", 8)
              .write.format("noop").mode("overwrite").save())
          time(s"common_dir_$tag r$rep")(
            Similarity.removeCommonDirection(emb, "vec_id", "embedding", 8)
              .write.format("noop").mode("overwrite").save())
        }
      }
    }

    val modes = Set("ngramprof", "cleanprof", "winaudit", "scalegen", "covplans",
      "scalegen30", "erprof", "semladder", "cpackprof", "spatialladder",
      "crashes", "symplans")
    val toTime =
      if (args.isEmpty) defaults
      else args.toSeq.filterNot(a => a.startsWith("explain:") ||
        a.startsWith("jobprof:") || a.startsWith("folds") || modes(a))
    for (q <- toTime)
      if (q == "clearcache") spark.catalog.clearCache()
      else if (q == "gc") System.gc()
      else time(q)(runNoop(q))
    spark.stop()
  }
}
