package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every registry query on SPARK_GRAFT_SF_DIR
  * and prints one JSON line. Each query is fully materialized through the
  * built-in `noop` sink — `count()` would let Catalyst prune every computed
  * column and time only the scan+agg skeleton.
  *
  * Reproducibility design (r7 verdict: a 21% total drift with no
  * plan-relevant change made real regressions invisible):
  *   - one FULL untimed warmup pass pays per-query codegen/JIT/classload
  *     cost before any timing (the old single-query warmup left each
  *     query's first-compile inside its own rep-1 sample);
  *   - each timed pass runs the registry in a different rotation, so a
  *     positional effect (one query's residue inflating its alphabetical
  *     neighbor — the r4 pagerank/q_project_scalar incident) lands on
  *     different queries each pass and the median shakes it off;
  *   - an untimed GC fence between queries keeps one query's garbage from
  *     being collected inside the next query's timed region (the r5
  *     "GC episode smears a contiguous stretch" failure mode); r14: the
  *     fence fires after substantial (≥0.4 s) queries and every 16th
  *     query rather than after every one — the per-query fence was ~15%
  *     of pass wall, which under the deadline cost entire reps (see
  *     gcFence below);
  *   - per-pass box metadata (loadavg, MemAvailable, JVM GC seconds, wall
  *     time) is recorded in the detail file so a drifted total can be
  *     attributed to box load instead of code.
  *
  * Survivability design (r13 verdict #1: the sweep grew past the driver's
  * budget and the single end-of-run println meant rc=124 destroyed EVERY
  * timing):
  *   - a cumulative, fully parseable result line is printed after EVERY
  *     completed pass (warmup included — warmup samples are
  *     first-compile-inflated but infinitely better than nothing, and
  *     they are superseded the moment rep-1 lands). The driver keeps the
  *     output tail, so a timeout at ANY point preserves the last
  *     completed pass's medians;
  *   - a wall-clock deadline (SPARK_GRAFT_BENCH_DEADLINE_SEC, default
  *     2400 — comfortably under the ~2870 s envelope the last green
  *     driver run fit) degrades gracefully: reps stop 3→2→1 when the
  *     next pass would not fit, adaptive extras are skipped first, and a
  *     pass already running abandons its remaining queries at the
  *     deadline (samples collected so far in the pass are kept — each is
  *     a real measurement);
  *   - the detail side file is rewritten after every pass too, so the
  *     per-query spread record survives the same failure.
  */
object Bench {
  type QFn = (SparkSession, String) => org.apache.spark.sql.DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // r15 (guide §2.2 "fewer, larger partitions"): let AQE re-optimize
      // (coalesce/skew-split) the plan fragment that MATERIALIZES a cached
      // relation. The default (false) exists only to keep a cached plan's
      // output partitioning stable for consumers that might reuse it; this
      // engine persists iteration cuts, fold deltas and shared projections
      // whose byte size is what should set their partition count — without
      // AQE every cache materializes at the full shuffle width and every
      // downstream stage inherits width-many tiny tasks (measured at sf0.1:
      // q_ndcg 1483→98 tasks, q_kcore 627→65, wall ~-45% each; at scale the
      // same setting sizes cached partitions to advisory bytes instead of
      // a constant). Semantics are unchanged — partitioning only.
      // r15 (verdict item 7): the generated-class cache is a STATIC conf
      // defaulting to 100 entries — a 389-query registry pass evicts and
      // re-compiles (Janino + fresh JIT) continuously. Sized to hold the
      // registry's working set; identical generated code then reuses its
      // compiled class across passes. Scale-neutral (pure driver memory).
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.LocalFsConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(fn: QFn): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // optional subset (args) for timing-isolation experiments; the driver
    // passes no args and times the full registry
    val only = args.toSet
    val registry = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }

    // Median-of-3: single-run numbers on this box swing up to 4× with no
    // code change (r5 verdict: q_group_split 4.33 vs 11.72 s across two
    // runs of identical code). Reps are FULL registry passes (not 3
    // back-to-back runs per query), so the samples of any one query are
    // separated by minutes and a transient episode poisons at most one.
    // Safe parse: reps=0 would make median() index s(-1); garbage would
    // throw before any timing ran. Anything unusable falls back to 3.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.trim.toIntOption).filter(_ >= 1).getOrElse(3)

    // Wall-clock deadline for the WHOLE run. The r12 driver budget fit a
    // ~2870 s sweep; r13's ~4000 s sweep timed out and (pre-fix) lost
    // everything. 2400 s leaves slack for JVM/driver overhead around the
    // sweep itself.
    val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_SEC")
      .flatMap(_.trim.toDoubleOption).filter(_ > 0).getOrElse(2400.0)
    val t0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0) / 1e9

    import scala.jdk.CollectionConverters._
    def gcSeconds(): Double =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum / 1e3
    def loadAvg1m(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def memAvailableGiB(): Double =
      try scala.io.Source.fromFile("/proc/meminfo").getLines()
        .collectFirst { case l if l.startsWith("MemAvailable:") =>
          l.split("\\s+")(1).toDouble / (1024 * 1024) }.getOrElse(-1.0)
      catch { case _: Throwable => -1.0 }

    // GC fence budget (r14): a full System.gc() on this heap costs
    // ~0.2-0.4 s, and paying it after EVERY query made the fence ~15%
    // of each pass's wall (measured: rep wall 863 s vs 740 s of timed
    // samples) — which, under the survivability deadline, is what
    // degrades 3 reps to 1 and costs the medians their robustness. A
    // sub-0.4 s query allocates proportionally little garbage, so the
    // fence now fires for substantial queries and unconditionally every
    // 16th query (bounding accumulation); any residual smear poisons at
    // most one sample and the median shakes it off (the design premise
    // the fence shares with pass rotation).
    // r15 (ADVICE): also fence on the CUMULATIVE time since the last GC,
    // not just a single query's dt or a fixed query count — 15 sub-0.4 s
    // queries can still accumulate ~6 s of allocation whose collection
    // would smear across several timed samples.
    var sinceGc = 0
    var dtSinceGc = 0.0
    def gcFence(dt: Double): Unit = {
      sinceGc += 1
      dtSinceGc += dt
      if (dt >= 0.4 || dtSinceGc >= 0.8 || sinceGc >= 16) {
        System.gc(); sinceGc = 0; dtSinceGc = 0.0
      }
    }

    // Queries that threw in any pass. A failed run is never a sample, and
    // a failed query gets no median at all: a query that breaks at 0.1 s
    // must not read as a speedup.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]

    def timeOne(name: String, fn: QFn): Option[Double] = {
      val s0 = System.nanoTime()
      val status = attempt(run(fn))
      val dt = (System.nanoTime() - s0) / 1e9
      status.left.foreach { e =>
        System.err.println(s"[bench] $name failed: $e")
        failed += name
      }
      // Isolation (untimed): drop blocks a query left persisted so no
      // query's residue contaminates the next timing, then collect this
      // query's garbage NOW instead of letting it surface as a GC pause
      // inside the next query's timed region.
      spark.catalog.clearCache()
      gcFence(dt)
      status.toOption
    }

    case class PassMeta(kind: String, wallSec: Double, gcSec: Double,
                        load1m: Double, memAvailGiB: Double, complete: Boolean)
    val passMetas = scala.collection.mutable.ArrayBuffer.empty[PassMeta]

    /** Run `queries` as one metered pass, abandoning the remainder if the
      * deadline strikes mid-pass (samples already taken are kept — each
      * is a real measurement). Returns the partial-or-complete sample
      * map of the queries that ran without throwing. */
    def timedPass(kind: String, queries: Seq[(String, QFn)],
        stopAt: Double): Map[String, Double] = {
      val (w0, g0) = (System.nanoTime(), gcSeconds())
      val out = scala.collection.mutable.Map.empty[String, Double]
      var cut = false
      val it = queries.iterator
      while (it.hasNext && !cut) {
        val (name, fn) = it.next()
        timeOne(name, fn).foreach(out(name) = _)
        if (elapsedSec > stopAt) cut = true
      }
      val complete = !it.hasNext
      passMetas += PassMeta(kind, (System.nanoTime() - w0) / 1e9,
        gcSeconds() - g0, loadAvg1m(), memAvailableGiB(), complete)
      if (!complete) System.err.println(
        s"[bench] deadline (${deadlineSec}s) struck inside pass '$kind' " +
          s"after ${out.size}/${queries.size} queries — pass abandoned, " +
          "samples kept")
      out.toMap
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def fmt(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)

    // --- cumulative emit: after EVERY completed pass, print the full
    // result line from all samples so far and rewrite the detail side
    // file. A query with no timed-pass sample yet falls back to its
    // warmup sample (first-compile-inflated, superseded by rep-1).
    var warmupSamples = Map.empty[String, Double]
    val timedSamples = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    def samplesOf(name: String): Seq[Double] = {
      val t = timedSamples.flatMap(_.get(name)).toSeq
      if (t.nonEmpty) t else warmupSamples.get(name).toSeq
    }
    def emitCumulative(repsDone: Int): Unit = {
      val stats = registry.flatMap { case (name, _) =>
        val ss = samplesOf(name)
        if (ss.isEmpty || failed.contains(name)) None
        else Some((name, median(ss), ss.min, ss.max, ss.size))
      }
      if (stats.isEmpty && failed.isEmpty) return
      val qs = stats.map { case (k, med, _, _, _) => s"\"" + k + "\":" + fmt(med) }
        .mkString("{", ",", "}")
      val total = stats.map(_._2).sum
      // stdout line: per-query MEDIANS as plain scalars (the shape every
      // prior round's record uses, so round-over-round diffs keep working).
      // Printed cumulatively per pass; the driver's tail keeps the LAST
      // (most complete) line, so any timeout preserves the newest state.
      // With every query failed there is no line: a total of 0 s would
      // read as the fastest run ever.
      if (stats.nonEmpty) {
        println(
          s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$repsDone,"queries":$qs,"sf":"$sfDir"}""")
        Console.flush()
      }
      // full per-query detail (median + min/max spread) plus per-pass box
      // metadata for the side file — rewritten per pass for the same
      // survivability reason
      val detail = stats.map { case (k, med, mn, mx, n) =>
        s"\"" + k + s"""":{"med":${fmt(med)},"min":${fmt(mn)},"max":${fmt(mx)},"spread":${fmt(mx - mn)},"runs":$n}"""
      }.mkString("{", ",", "}")
      val passes = passMetas.map { m =>
        s"""{"pass":"${m.kind}","wallSec":${fmt(m.wallSec)},"gcSec":${fmt(m.gcSec)},"load1m":${fmt(m.load1m)},"memAvailGiB":${fmt(m.memAvailGiB)},"complete":${m.complete}}"""
      }.mkString("[", ",", "]")
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val detailLine =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$repsDone,"passes":$passes,"queries":$detail,"failed":$failedJson,"sf":"$sfDir"}"""
      // The driver captures stdout with a tail that can truncate the
      // alphabetical head of the per-query map; persist the full line so
      // round-over-round comparisons never lose queries. SUBSET runs skip
      // the side file (unless explicitly redirected) — a timing experiment
      // must never clobber the full-registry record it exists to explain.
      if (only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(
            sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_full.json")),
          detailLine + "\n")
        catch { case e: Throwable =>
          // never fail the bench over the side file, but never lose the
          // signal either — a stale BENCH_full.json silently poisons
          // round-over-round comparisons
          System.err.println(s"[bench] WARNING: could not persist full JSON: $e")
        }
    }

    // Warmup pass over the whole registry: pays one-time codegen/JIT/
    // classloading per query (the driver's per-round number should
    // measure steady-state queries, not first-compile). Per-query times
    // are RECORDED as a fallback sample so even a warmup-only run leaves
    // a parseable line, but they never mix into medians once any rep
    // completes. Capped at 45% of the deadline — if warmup alone blows
    // that, the remaining queries run un-warmed in rep-1 rather than
    // eating the whole budget. Skippable via SPARK_GRAFT_BENCH_WARMUP=0.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0") {
      warmupSamples = timedPass("warmup", registry, stopAt = deadlineSec * 0.45)
      emitCumulative(repsDone = 0)
    }

    // Each pass rotates the execution order by a different offset so any
    // position-dependent contamination shifts to a different query.
    def rotated(i: Int): Seq[(String, QFn)] = {
      val n = registry.size
      if (n == 0) registry else { val off = (i * 61) % n; registry.drop(off) ++ registry.take(off) }
    }

    // Timed reps under the deadline: before each pass, project its cost
    // from the last pass of the same shape; skip remaining reps that
    // cannot fit (3→2→1 degradation). Rep-1 always starts — a partial
    // rep-1 still upgrades warmup-only samples.
    var repsDone = 0
    var lastPassWall = passMetas.lastOption.map(_.wallSec).getOrElse(0.0)
    var i = 1
    while (i <= reps && (i == 1 ||
        elapsedSec + lastPassWall * 1.05 <= deadlineSec)) {
      val s = timedPass(s"rep$i", rotated(i), stopAt = deadlineSec)
      timedSamples += s
      if (passMetas.last.complete) repsDone += 1
      lastPassWall = passMetas.last.wallSec
      emitCumulative(repsDone)
      i += 1
    }
    if (repsDone < reps) System.err.println(
      s"[bench] degraded to $repsDone/$reps complete reps under the " +
        s"${deadlineSec}s deadline")
    if (failed.nonEmpty) System.err.println(
      s"[bench] ${failed.size} queries failed and have no median: " +
        failed.mkString(" "))

    // Adaptive reps: a query whose spread (max−min) exceeds its own
    // median caught a GC/JIT episode in at least one sample (r6 bench:
    // q_ngram_jaccard 35.7 s spread on a 3.5 s median); two more samples
    // make the median robust to TWO poisoned reps instead of one. Extra
    // passes sweep only the wobbly queries, in registry order, so they
    // stay minutes apart from their earlier samples. Skipped entirely
    // when the deadline cannot fit them (the first thing sacrificed).
    if (repsDone >= 2) {
      val wobbly = registry.filter { case (name, _) =>
        val s = samplesOf(name); s.nonEmpty && (s.max - s.min) > median(s)
      }
      if (wobbly.nonEmpty) {
        val estimate = lastPassWall * wobbly.size / registry.size.max(1)
        var j = 1
        while (j <= 2 && elapsedSec + estimate * 1.1 <= deadlineSec) {
          timedSamples += timedPass(s"extra$j", wobbly, stopAt = deadlineSec)
          emitCumulative(repsDone)
          j += 1
        }
      }
    }
    spark.stop()
  }

  /** Runs `body` once: its wall seconds, or the error it threw. */
  private[graft] def attempt(body: => Unit): Either[Throwable, Double] = {
    val s0 = System.nanoTime()
    try { body; Right((System.nanoTime() - s0) / 1e9) }
    catch { case e: Throwable => Left(e) }
  }
}
