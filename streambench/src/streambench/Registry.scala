package streambench

import java.io.PrintWriter

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `registry_mix` workload: a fixed mix of oracled registry queries,
  * run one at a time into the `noop` sink. An untimed warm-up round writes
  * every result for the DuckDB oracle comparison, and a second one warms
  * the JVM further; then timed passes, each a rotation of the mix picked
  * by the seed, run until the run's seconds are spent. */
object Registry {
  type Query = (SparkSession, String) => DataFrame

  val Short = Seq("q_grouped_sum", "q_traffic_window", "q_edge_trigger_batch", "q_filter_in",
    "q_topk", "q_count", "q_pivot", "q_tpch_q1", "q_project_scalar")
  val Kernel = Seq("q_dsir_ngram", "q_span_dedup", "q_fuzzy_join", "q_pagerank")
  val Fold = Seq("q_twap_stream", "q_winsorize_stream", "q_psi_drift_stream")

  /** (name, class) of every query in the mix. */
  val Mix: Seq[(String, String)] =
    Short.map(_ -> "short") ++ Kernel.map(_ -> "kernel") ++ Fold.map(_ -> "fold")

  /** Queries that set session confs while they run (`StreamConf`). */
  val SetsConf = Set("q_twap_stream")

  /** Times each short query runs in a timed pass: the short class is
    * cheap, and its per-query medians then rest on more than one sample. */
  val ShortRepeats = 2

  /** Untimed warm-up rounds; the first writes the results for the oracle. */
  val WarmRounds = 2

  /** Threads of the warm-up rounds. */
  val WarmThreads: Int = math.min(4, Session.parallelism)


  /** Samples and failures of the timed loop. A query that throws adds no
    * sample: it is counted as attempted and listed by name. */
  final class Tally {
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val failures = mutable.ArrayBuffer[(String, Throwable)]()
    var attempted = 0
    val execs = mutable.ArrayBuffer[Layers.Exec]()

    def medians: Map[String, Double] =
      samples.collect { case (n, xs) if xs.nonEmpty => n -> Stats.median(xs.toSeq) }.toMap

    /** Every failure goes into the run's result, which it fails. */
    def report(res: Result): Unit = failures.foreach { case (n, e) => res.fail(n, e) }
  }

  /** The mix rotated by `k`: every pass keeps the fixed order, so each
    * query follows the same predecessor in every run except at the seam. */
  def rotation[T](mix: Seq[T], k: Long): Seq[T] = {
    val r = Math.floorMod(k, mix.size.toLong).toInt
    mix.drop(r) ++ mix.take(r)
  }

  /** Build the query and write it to the `noop` sink; the milliseconds it
    * took, or what it threw. Under a probe, the build, the physical
    * planning and the write are spans of their own. */
  def timeOne(spark: SparkSession, dir: String, q: Query, cls: String,
      probe: Option[Probe]): Either[Throwable, Double] = {
    val layer = if (cls == "fold") "fold" else "query"
    val t0 = System.nanoTime()
    try {
      probe match {
        case Some(p) =>
          val df = p.span(layer, "build", cls)(q(spark, dir))
          p.span(layer, "executedPlan", cls)(df.queryExecution.executedPlan)
          p.span(layer, "write", cls)(df.write.format("noop").mode("overwrite").save())
        case None =>
          q(spark, dir).write.format("noop").mode("overwrite").save()
      }
      Right((System.nanoTime() - t0) / 1e6)
    } catch { case NonFatal(e) => Left(e) }
  }

  /** One timed pass over `order`, recorded into `tally`. */
  def pass(spark: SparkSession, dir: String, order: Seq[(String, String, Query)],
      tally: Tally, probe: Option[Probe]): Unit =
    order.foreach { case (name, cls, q) =>
      val s = System.currentTimeMillis()
      tally.attempted += 1
      timeOne(spark, dir, q, cls, probe) match {
        case Right(ms) =>
          tally.samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += ms
          tally.execs += Layers.Exec(name, cls, s, System.currentTimeMillis())
        case Left(e) => tally.failures += name -> e
      }
    }

  def run(a: Args): Result = {
    val res = new Result(a.workload)
    val t0 = System.nanoTime()
    val spark = Session.build(a.runDir, mountTmp = true)
    val dir = s"file:${a.dataDir}"
    val registry = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    val mix = Mix.map { case (n, c) => (n, c, registry(n)) }

    // untimed warm-up rounds: in the first, every result goes to parquet
    // for the oracle. Queries run concurrently so the JVM's one-time costs
    // overlap; a query that changes session confs while it runs goes
    // alone, last.
    val oracleDir = s"${a.runDir}/oracle"
    def warm(round: Int, n: String, q: Query): Option[Throwable] = {
      try {
        val w = q(spark, dir).write
        if (round == 0) w.parquet(s"file:$oracleDir/$n") else w.format("noop").mode("overwrite").save()
        None
      } catch { case NonFatal(e) => Some(e) }
    }
    val (alone, shared) = mix.partition(m => SetsConf.contains(m._1))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    (0 until WarmRounds).foreach { round =>
      val warmed = shared.map { case (n, _, q) =>
        n -> pool.submit[Option[Throwable]](() => warm(round, n, q)) }
        .map { case (n, f) => n -> f.get() } ++ alone.map { case (n, _, q) => n -> warm(round, n, q) }
      warmed.foreach { case (n, e) => e.foreach(res.fail(s"$n (warm-up)", _)) }
    }
    pool.shutdown()
    val sqls = Mix.map(_._1).flatMap(n => oracles.get(n).map(n -> _))
    Mix.map(_._1).filterNot(oracles.contains).foreach(n => res.wrong(s"$n has no oracle SQL"))
    new java.io.File(oracleDir).mkdirs()
    val w = new PrintWriter(s"$oracleDir/oracle_sql.json")
    try w.print(sqls.map { case (n, s) => s"${Json.str(n)}: ${Json.str(s)}" }.mkString("{", ",\n", "}"))
    finally w.close()
    val setup = (System.nanoTime() - t0) / 1e9

    val timedMix = Seq.fill(ShortRepeats)(mix.filter(_._2 == "short")).flatten ++
      mix.filterNot(_._2 == "short")
    val probe = if (a.trace) Some(new Probe(spark).register()) else None
    val tally = new Tally
    val gc0 = Jvm.gcMs
    val tStart = System.nanoTime()
    // whole passes until the run's seconds are spent: the pass under way
    // when they run out is finished
    val tEnd = tStart + a.seconds * 1000000000L
    var passes = 0
    while (passes == 0 || System.nanoTime() < tEnd) {
      pass(spark, dir, rotation(timedMix, a.seed + passes), tally, probe)
      passes += 1
    }
    val wall = (System.nanoTime() - tStart) / 1e9
    val gcMs = Jvm.gcMs - gc0

    tally.report(res)
    res.attempted = tally.attempted + WarmRounds * mix.size
    val med = tally.medians
    if (med.isEmpty) res.wrong("no query completed")
    else {
      def sumS(names: Seq[String]) = names.flatMap(med.get).sum / 1000.0
      res.metrics("setup_s") = (setup, "s")
      val all = tally.samples.values.flatten.toSeq
      res.metrics("latency_p50_ms") = (Stats.median(all), "ms")
      res.metrics("latency_p90_ms") = (Stats.quantile(all, 0.9), "ms")
      res.metrics("throughput_per_s") = (all.size / wall, "1/s")
      res.summary("pass_s") = (sumS(Mix.map(_._1)), "s")
      res.summary("short_s") = (sumS(Short), "s")
      res.summary("kernel_s") = (sumS(Kernel), "s")
      res.summary("fold_s") = (sumS(Fold), "s")
      res.summary("passes") = (passes.toDouble, "count")
      res.summary("latency_samples") = (all.size.toDouble, "count")
    }
    probe.foreach { p =>
      p.drain()
      if (tally.execs.nonEmpty) Layers.registry(res, p, tally.execs.toSeq, passes, a, gcMs)
      p.unregister()
    }
    spark.stop()
    res
  }
}
