package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Where each query's wall time went, one [[QueryRecord.Row]] per query
  * run through [[run]] while the record is open.
  *
  * [[run]] names the query in the [[QueryRecord.Property]] local property,
  * which Spark copies into every job the query starts (broadcast and
  * subquery threads included), so job, stage and task events are summed
  * to the query that caused them. Planning phases come from a
  * `QueryExecutionListener`, whose events carry no local properties: a
  * phase belongs to the query that was running when it started, which is
  * exact because queries run one at a time. The listeners stay registered
  * until [[close]]; a record costs nothing once closed.
  */
final class QueryRecord private (spark: SparkSession) extends AutoCloseable {
  import QueryRecord._

  private final class Acc(val name: String, val startMs: Long, val gc0: Long) {
    var endMs = Long.MaxValue
    var wallMs = 0.0
    var gcMs = 0L
    var error: Option[String] = None
    val jobSpans = mutable.Map.empty[Int, (Long, Long)]
    var stages, tasks = 0
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  }

  /** Guards every field below: the listeners run on the listener bus's
    * threads, [[run]] and [[rows]] on the caller's. */
  private val lock = new Object
  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val stageOf = mutable.Map.empty[Int, Acc]
  private val jobOf = mutable.Map.empty[Int, Acc]
  private val phases = mutable.ArrayBuffer.empty[(Long, String, Long)]
  private var listening = true

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      for (name <- Option(e.properties).flatMap(p => Option(p.getProperty(Property)));
           a <- accs.get(name)) {
        jobOf(e.jobId) = a
        a.jobSpans(e.jobId) = (e.time, e.time)
        e.stageIds.foreach(stageOf(_) = a)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobOf.remove(e.jobId).foreach(a =>
        a.jobSpans(e.jobId) = (a.jobSpans(e.jobId)._1, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { stageOf.get(e.stageInfo.stageId).foreach(_.stages += 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (a <- stageOf.get(e.stageId); m <- Option(e.taskMetrics)) {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = lock.synchronized {
      for ((phase, s) <- qe.tracker.phases)
        phases += ((s.startTimeMs, phase, s.endTimeMs - s.startTimeMs))
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)

  /** Runs `body` as query `name` and records it: its wall seconds, or the
    * error it threw. */
  def run(name: String)(body: => Unit): Either[Throwable, Double] = {
    val sc = spark.sparkContext
    val acc = new Acc(name, System.currentTimeMillis(), gcMs())
    lock.synchronized { accs(name) = acc }
    val prev = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, name)
    val s0 = System.nanoTime()
    val status = try Bench.attempt(body) finally sc.setLocalProperty(Property, prev)
    lock.synchronized {
      acc.wallMs = (System.nanoTime() - s0) / 1e6
      acc.endMs = System.currentTimeMillis()
      acc.gcMs = gcMs() - acc.gc0
      acc.error = status.left.toOption.map(_.toString)
    }
    status
  }

  /** One row per query run so far, in run order. */
  def rows: Seq[Row] = {
    if (listening) ListenerBridge.drain(spark.sparkContext)
    lock.synchronized {
      accs.values.toSeq.map { a =>
        val ph = phases.filter { case (at, _, _) => at >= a.startMs && at < a.endMs }
        def phaseMs(p: String) = ph.collect { case (_, `p`, ms) => ms }.sum
        val jobMs = unionMs(a.jobSpans.values.toSeq.map { case (s, e) =>
          (s.max(a.startMs), e.min(a.endMs)) }).toDouble.min(a.wallMs)
        Row(a.name, a.wallMs, phaseMs("analysis"), phaseMs("optimization"),
          phaseMs("planning"), a.jobSpans.size, a.stages, a.tasks, jobMs,
          a.wallMs - jobMs, a.runMs, a.cpuNs / 1000000L,
          a.shuffleRead, a.shuffleWrite, a.spill, a.gcMs, a.error)
      }
    }
  }

  /** Delivers what the listeners still have queued, then removes them. */
  def close(): Unit = if (listening) {
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    listening = false
  }
}

object QueryRecord {

  /** The local property that names the running query. */
  val Property = "graft.query"

  /** One query's layers. Times are milliseconds. `jobMs` is the union of
    * the query's job spans and `driverGapMs` the rest of its wall: the
    * driver's own work (planning, broadcast collection, result handling)
    * and the scheduler's gaps between jobs. `executorRunMs`/`CpuMs` sum
    * over tasks, so they exceed the wall on several cores. `gcMs` is the
    * JVM's collection time during the query (driver and executors share
    * the JVM in local mode). */
  final case class Row(query: String, wallMs: Double, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, jobs: Int, stages: Int,
      tasks: Int, jobMs: Double, driverGapMs: Double, executorRunMs: Long,
      executorCpuMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long, gcMs: Long, error: Option[String]) {
    def json: String = {
      def f(v: Double) = BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP)
      s"""{"query":${quote(query)},"wall_ms":${f(wallMs)},"analysis_ms":$analysisMs,""" +
        s""""optimization_ms":$optimizationMs,"planning_ms":$planningMs,"jobs":$jobs,""" +
        s""""stages":$stages,"tasks":$tasks,"job_ms":${f(jobMs)},"driver_gap_ms":${f(driverGapMs)},""" +
        s""""executor_run_ms":$executorRunMs,"executor_cpu_ms":$executorCpuMs,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_bytes":$spillBytes,"gc_ms":$gcMs,"error":${error.map(quote).getOrElse("null")}}"""
    }
  }

  /** Registers the record's listeners; [[QueryRecord.close]] removes them. */
  def open(spark: SparkSession): QueryRecord = new QueryRecord(spark)

  /** The JVM's summed garbage-collection time so far. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Total length of the union of `[start, end]` spans. */
  private def unionMs(spans: Seq[(Long, Long)]): Long =
    spans.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - s.max(reach), e)
      }._1

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
