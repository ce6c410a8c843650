package streambench

import org.apache.spark.sql.SparkSession

/** Command-line options of [[Main]]. `runDir` holds everything one run
  * writes (checkpoints, state, spill, warehouse) and is removed afterwards
  * by the launcher; `traceDir` receives the traced run's span file. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    runDir: String, dataDir: String, traceDir: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.get("trace").contains("1"), need("run-dir"), m.getOrElse("data-dir", ""),
      m.getOrElse("trace-dir", need("run-dir")), need("out"))
  }
}

/** Every workload builds its session through the library front door, so a
  * change to the session configuration shows up in the numbers. Only the
  * run-scoped directories and the UI are set here.
  *
  * With `mountTmp`, the default Hadoop file system becomes a mount table
  * that maps `/tmp` into the run directory and passes every other path
  * through to the local file system: the registry's fold queries keep
  * their state under fixed `/tmp/graft_*` roots, and this keeps each run's
  * state inside its own directory. Paths the benchmark itself hands out
  * are then written as `file:` URIs. */
object Session {
  val parallelism: Int = Runtime.getRuntime.availableProcessors()

  def build(runDir: String, mountTmp: Boolean = false): SparkSession = {
    val b = graft.GraftSession.builder(
        master = s"local[$parallelism]", shufflePartitions = parallelism)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"file:$runDir/warehouse")
      // keep the progress of every micro-batch of a run, not the last 100
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    (if (!mountTmp) b else b
      .config("spark.hadoop.fs.defaultFS", "viewfs://streambench/")
      .config("spark.hadoop.fs.viewfs.mounttable.streambench.link./tmp", s"file:$runDir/tmp-root")
      .config("spark.hadoop.fs.viewfs.mounttable.streambench.linkFallback", "file:///"))
      .getOrCreate()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** What a run reports. `metrics` are (value, unit); `summary` holds the
  * workload's own figures (the names of the README), printed for people. */
final class Result(val workload: String) {
  var correct = true
  var attempted = 0L
  val failures = scala.collection.mutable.ArrayBuffer[String]()
  val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val summary = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val notes = scala.collection.mutable.ArrayBuffer[String]()

  /** An operation that threw: it is listed by name, adds no sample, and
    * fails the run. */
  def fail(what: String, e: Throwable): Unit = {
    failures += what
    correct = false
    notes += s"$what failed: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
  }

  def wrong(what: String): Unit = { correct = false; notes += s"incorrect: $what" }

  def toJson: String = {
    import Json.str
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: Iterable[(String, (Double, String))]) = m.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString("{", ", ", "}")
    s"""{"workload": ${str(workload)}, "correct": $correct, "attempted": $attempted, """ +
      s""""failed": ${failures.size}, "failures": ${failures.map(str).mkString("[", ", ", "]")}, """ +
      s""""metrics": ${obj(metrics)}, "summary": ${obj(summary)}, """ +
      s""""notes": ${notes.map(str).mkString("[", ", ", "]")}}"""
  }
}
