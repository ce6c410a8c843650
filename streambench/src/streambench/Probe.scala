package streambench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One driver-side interval of the traced run. `layer` is one of the layer
  * names of the README table; `label` tags the registry query class (or
  * "stream") the interval belongs to. Times are epoch milliseconds. */
final case class Span(layer: String, name: String, label: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

final case class StageRec(id: Int, depth: Int, numTasks: Int,
    startMs: Long, endMs: Long, runMs: Long, cpuMs: Double, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, maxTaskRead: Long,
    scan: Boolean)

final case class JobRec(id: Int, startMs: Long, endMs: Long)

final case class PhaseRec(atMs: Long, analysisMs: Double, optimizationMs: Double,
    planningMs: Double)

/** The traced run's recorders: a `SparkListener` for jobs, stages and task
  * metrics, a `StreamingQueryListener` for micro-batch progress, a
  * `QueryExecutionListener` for planning phases, and the spans the
  * benchmark records around its own calls. Everything stays in memory until
  * the run ends. [[Layers]] attributes records to a registry class by
  * time, from the query executions the registry loop records. */
final class Probe(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()

  private val stageDepth = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      val infos = e.stageInfos
      val byId = infos.map(s => s.stageId -> s).toMap
      def depth(id: Int): Int = byId.get(id).map(s =>
        if (s.parentIds.isEmpty) 0 else s.parentIds.map(depth).max + 1).getOrElse(0)
      infos.foreach(s => stageDepth.put(s.stageId, depth(s.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      jobs.add(JobRec(e.jobId, st, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val a = taskAgg.computeIfAbsent(e.stageId, _ => new Array[Long](7))
      val read = m.shuffleReadMetrics.totalBytesRead
      a.synchronized {
        a(0) += m.executorRunTime; a(1) += m.executorCpuTime; a(2) += m.jvmGCTime
        a(3) += m.shuffleWriteMetrics.bytesWritten; a(4) += read
        a(5) += m.memoryBytesSpilled + m.diskBytesSpilled; a(6) = math.max(a(6), read)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = Option(taskAgg.remove(s.stageId)).getOrElse(new Array[Long](7))
      val depth = Option(stageDepth.remove(s.stageId)).getOrElse(0)
      val scan = s.rddInfos.exists(_.name.contains("DataSourceRDD"))
      stages.add(StageRec(s.stageId, depth, s.numTasks,
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
        a(0), a(1) / 1e6, a(2), a(3), a(4), a(5), a(6), scan))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      phases.add(PhaseRec(System.currentTimeMillis(), ms("analysis"), ms("optimization"),
        ms("planning")))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
    this
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Time `body` as a span of `layer`. */
  def span[T](layer: String, name: String, label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis().toDouble
    try body finally
      spans.add(Span(layer, name, label, w0, w0 + (System.nanoTime() - t0) / 1e6))
  }

  /** Let the asynchronous listener buses deliver what is still queued. */
  def drain(expectBatches: Int = 0): Unit = {
    val until = System.currentTimeMillis() + 5000
    var lastJobs = -1
    while (System.currentTimeMillis() < until &&
        (progress.size < expectBatches || jobs.size != lastJobs || !jobStart.isEmpty)) {
      lastJobs = jobs.size
      Thread.sleep(100)
    }
  }
}

/** JVM heap and GC counters, read from the management beans. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** Self time per layer from the span containment tree: each span's
  * duration minus the time its children cover. */
object SelfTime {
  def byLayer(spans: Seq[Span]): Map[String, Double] = {
    val sorted = spans.sortBy(s => (s.startMs, -s.endMs))
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    val stack = mutable.Stack[(Span, Array[Double])]()
    def close(): Unit = {
      val (s, covered) = stack.pop()
      self(s.layer) += math.max(0.0, s.ms - covered(0))
      if (stack.nonEmpty) stack.top._2(0) += s.ms
    }
    sorted.foreach { s =>
      while (stack.nonEmpty && stack.top._1.endMs <= s.startMs) close()
      // a span that straddles its enclosing span's end is cut off there
      val clipped = if (stack.nonEmpty && s.endMs > stack.top._1.endMs)
        s.copy(endMs = stack.top._1.endMs) else s
      stack.push(clipped -> Array(0.0))
    }
    while (stack.nonEmpty) close()
    self.toMap
  }
}
