package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One captured packet: the engine's streaming input record.
  * Mirrors the reference's `Tuple2<String, byte[]>` receiver output
  * (/root/reference/src/main/java/org/test/pcap4j/CaptureNetworkReceiver.java:101)
  * plus an explicit event-time column the reference lacks (SURVEY.md §7.0
  * delta 5 — processing-time batches upgraded to event-time windows).
  */
final case class Packet(nif: String, raw: Array[Byte], ts: Timestamp)

/** Per-(window, nif) traffic total — the A1 aggregate output. */
final case class Traffic(nif: String, windowStart: Timestamp, bytes: Long)

/** An emitted alert-state transition — the engine's Kafka payload, as a
  * typed struct instead of the reference's bare string
  * (/root/reference/src/main/java/org/test/pcap4j/MainApp.java:59,61).
  */
final case class Alert(
    nif: String,
    windowStart: Timestamp,
    bytes: Long,
    alert: Boolean,
    message: String)

/** The reference's whole streaming pipeline, Structured-Streaming-first
  * (SURVEY.md §3.2): packets → per-5-min-window per-NIF byte totals →
  * threshold compare → EDGE-TRIGGERED alerts (emit only when a NIF's
  * over/under-limit state flips; first observation always emits —
  * /root/reference/src/main/java/org/test/pcap4j/KafkaProducer.java:34-41).
  *
  * Scale design: a micro-batch of [[pipeline]] runs one exchange and one
  * stateful operator. The scan stage reads the source's per-NIF partitions
  * in at most `defaultParallelism` tasks ([[packetSizes]] coalesces them,
  * no shuffle) and tags each packet with its 5-minute window; one hash
  * exchange on nif feeds one `flatMapGroupsWithState` that keeps, per NIF,
  * the byte sums of its open windows and its last alert flag in the
  * checkpointed state store, upgraded from the reference's lossy
  * per-executor-JVM static map (SURVEY.md §2.9 T4). At 1000 executors
  * state is hash-partitioned by nif; nothing here is driver-bound.
  */
object TrafficMonitor {

  /** The tumbling window every traffic sum here is taken over. */
  private val WindowLength = "5 minutes"
  private val WindowMs = 5 * 60 * 1000L

  /** Spark's `window` struct, as [[pipeline]]'s operator reads it. */
  final case class WindowSpan(start: Timestamp, end: Timestamp)

  /** One packet's bytes tagged with its window: [[pipeline]]'s operator input. */
  final case class WindowedBytes(nif: String, w: WindowSpan, bytes: Long)

  /** [[pipeline]]'s state for one NIF: the byte sums of its open windows,
    * keyed by window start (epoch ms), and its last emitted alert flag. */
  final case class NifWindows(open: Map[Long, Long], last: Option[Boolean])

  /** P1 projection (MainApp.java:41-42): packet → byte count. Sums are
    * LONG, not the reference's int (overflows at 2 GiB/window — SURVEY.md
    * §7.0 delta 3).
    *
    * The projection is then coalesced to the session's `defaultParallelism`:
    * [[PacketSource]] plans one partition per NIF, and at 64 NIFs × 125
    * packets a scan task carries ~0.2 ms of payload work against several ms
    * of scheduling and launch cost. `coalesce` never raises a partition
    * count and adds no exchange, so a source that already plans at most
    * that many partitions is unchanged. It is the streaming counterpart of
    * [[graft.Tables.spreadScan]]: batch scans are sized by AQE and split
    * packing, a micro-batch scan by nothing else. Projecting first keeps
    * `raw` out of the rows the coalesced stage carries: only its length
    * leaves the scan. */
  def packetSizes(packets: DataFrame): DataFrame =
    packets.select(col("nif"), octet_length(col("raw")).cast("long").as("bytes"),
        col("ts"))
      .coalesce(packets.sparkSession.sparkContext.defaultParallelism)

  /** A1+T1/T2: event-time 5-minute tumbling window sum per NIF, with a
    * watermark so state is bounded and late packets beyond `lateness` drop. */
  def windowedTraffic(packets: DataFrame, lateness: String = "1 minute"): Dataset[Traffic] = {
    val spark = packets.sparkSession
    import spark.implicits._
    packetSizes(packets)
      .withWatermark("ts", lateness)
      .groupBy(window($"ts", WindowLength), $"nif")
      .agg(sum($"bytes").as("bytes"))
      .select($"nif", $"window.start".as("windowStart"), $"bytes")
      .as[Traffic]
  }

  /** Shared transition detector: walk a key's windows in windowStart
    * order, emit only flips (first observation always emits), return the
    * emissions plus the final flag — the one implementation that
    * [[edgeTrigger]], [[edgeTriggerTtl]] and [[pipeline]] run. */
  private def transitions(nif: String, rows: Iterator[Traffic],
      last0: Option[Boolean], maxLimit: Long): (Seq[Alert], Option[Boolean]) = {
    var last = last0
    val out = rows.toSeq.sortBy(_.windowStart.getTime).flatMap { t =>
      val isAlert = t.bytes > maxLimit
      if (last.contains(isAlert)) None
      else {
        last = Some(isAlert)
        val msg =
          if (isAlert) s"traffic on $nif exceeds limit: ${t.bytes} > $maxLimit"
          else s"traffic on $nif back under limit: ${t.bytes} <= $maxLimit"
        Some(Alert(nif, t.windowStart, t.bytes, isAlert, msg))
      }
    }
    (out, last)
  }

  /** T3: the edge-trigger. State = last known alert flag per NIF
    * (None on first observation → always emit, matching
    * KafkaProducer.java:36-37 where `curFlag == null` always sends).
    * Windows may arrive out of order across triggers; within one batch we
    * process a key's windows in windowStart order for determinism. */
  def edgeTrigger(perWindow: Dataset[Traffic], maxLimit: Long): Dataset[Alert] = {
    val spark = perWindow.sparkSession
    import spark.implicits._

    perWindow.groupByKey(_.nif)
      .flatMapGroupsWithState[Option[Boolean], Alert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (nif: String, rows: Iterator[Traffic], state: GroupState[Option[Boolean]]) =>
          val (out, last) = transitions(nif, rows, state.getOption.flatten, maxLimit)
          state.update(last)
          out.iterator
      }
  }

  /** [[edgeTrigger]] with BOUNDED state under key churn: a NIF idle while
    * the watermark advances `ttl` past its last batch has its one-Boolean
    * state evicted (EventTimeTimeout — deterministic, unlike wall-clock
    * timeouts), and its next observation emits like a first observation
    * again. At 100 TB scale with ephemeral keys (flows, containers,
    * session ids) an evict-never state store grows without bound; this is
    * the standard TTL escape hatch, traded against one duplicate
    * "first-observation" alert per key resurrection.
    *
    * The timeout anchors at CURRENT WATERMARK + ttl (never at the key's
    * own event time): `setTimeoutTimestamp` rejects timestamps at or
    * below the watermark, so an idle gap or restart catch-up where the
    * watermark jumps more than ttl would otherwise crash the query.
    * Caveat inherited from Spark's EventTimeTimeout path: input rows
    * whose event time is below the operator's input watermark are
    * dropped before the function runs — safe downstream of
    * [[windowedTraffic]] (chained-watermark propagation delays the input
    * watermark by the window length), but a custom upstream must keep
    * emitted event times within watermark reach. */
  def edgeTriggerTtl(perWindow: Dataset[Traffic], maxLimit: Long,
      ttl: String = "30 minutes"): Dataset[Alert] = {
    val spark = perWindow.sparkSession
    import spark.implicits._
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(ttl))
    require(iv.months == 0,
      s"ttl '$ttl': calendar months have no fixed millisecond length")
    val ttlMillis = iv.days * 86400000L + iv.microseconds / 1000L
    require(ttlMillis > 0, s"ttl '$ttl' must be a positive duration")

    perWindow.groupByKey(_.nif)
      .flatMapGroupsWithState[Option[Boolean], Alert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (nif: String, rows: Iterator[Traffic], state: GroupState[Option[Boolean]]) =>
          if (state.hasTimedOut) {
            state.remove() // idle key: forget the flag, free the store
            Iterator.empty
          } else {
            val batch = rows.toSeq
            val (out, last) = transitions(nif, batch.iterator,
              state.getOption.flatten, maxLimit)
            state.update(last)
            // anchor at the key's OWN latest activity, clamped up to the
            // current watermark: the raw event-time anchor throws when the
            // watermark has already passed it (idle gap / restart
            // catch-up), and a bare wm+ttl anchor uses the PREVIOUS
            // batch's lagging watermark and evicts still-active keys
            val lastSeen = batch.map(_.windowStart.getTime).max
            state.setTimeoutTimestamp(
              math.max(lastSeen, state.getCurrentWatermarkMs()) + ttlMillis)
            out.iterator
          }
      }
  }

  /** S5: per-batch observability — the reference logs per-batch counts and
    * totals (MainApp.java:52,57); `observe` publishes them as metrics on
    * the query progress events instead of log lines. */
  def observed(packets: DataFrame): DataFrame =
    packets.observe("packet_stats",
      count(lit(1)).as("n_packets"),
      sum(octet_length(col("raw"))).as("total_bytes"))

  /** S3: the limits lookup (MainApp.java:44-49), generalized: read the
    * `max` threshold from a limits DataFrame with (limit_name, limit_value)
    * — explicit name selection instead of the reference's brittle
    * sort-position indexing (SURVEY.md §7.0 delta 4). A table without a
    * `max` row fails here, naming the missing row. */
  def maxLimit(limits: DataFrame): Long = {
    import limits.sparkSession.implicits._
    limits.where($"limit_name" === "max")
      .select($"limit_value".cast("long")).as[Long].take(1).headOption
      .getOrElse(throw new IllegalArgumentException(
        "limits table has no row with limit_name = 'max'"))
  }

  /** The full pipeline as one streaming Dataset: packets in, alert
    * transitions out. Wire to any sink — memory (tests), console (dev), or
    * kafka via [[toKafkaMessages]].
    *
    * It emits, batch for batch, what `edgeTrigger(windowedTraffic(...))`
    * emits, with one stateful operator instead of two: each packet is
    * tagged with its window, one exchange groups the rows by nif, and one
    * `flatMapGroupsWithState` keeps a NIF's open-window sums and its last
    * flag ([[NifWindows]]). A call adds the NIF's new rows, closes every
    * window whose end is at or below the batch's watermark (the rule by
    * which the streaming aggregate evicts), and passes the closed windows
    * to [[transitions]] in window order. It then sets the event-time
    * timeout to the earliest open window's end minus 1 ms: Spark fires a
    * timeout once the watermark is strictly past it, so a NIF that gets
    * no rows has its window closed in the same batch in which the
    * aggregate would have evicted it.
    *
    * Late rows: the window column carries the watermark's metadata, so
    * Spark drops a row before the function runs exactly when the
    * aggregate drops it, i.e. when its window ends at or below the
    * previous batch's watermark.
    *
    * The operator is keyed by the `nif` column (`groupBy(...).as`), not by
    * a Scala function of the row: a function key would add an
    * `AppendColumns` that deserializes every row and serializes its key in
    * the scan stage.
    *
    * The exchange carries one row per packet: a per-partition pre-sum to
    * one row per (nif, window) measured no faster on `traffic_paced`.
    *
    * A checkpoint written by the two-operator plan (before this operator)
    * has two state operators and cannot be restarted by this one. */
  def pipeline(packets: DataFrame, limits: DataFrame,
      lateness: String = "1 minute"): Dataset[Alert] = {
    val spark = packets.sparkSession
    import spark.implicits._
    val limit = maxLimit(limits)
    packetSizes(packets)
      .withWatermark("ts", lateness)
      .select($"nif", window($"ts", WindowLength).as("w"), $"bytes")
      .groupBy($"nif").as[String, WindowedBytes]
      .flatMapGroupsWithState[NifWindows, Alert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (nif: String, rows: Iterator[WindowedBytes], state: GroupState[NifWindows]) =>
          val before = state.getOption.getOrElse(NifWindows(Map.empty, None))
          val sums = rows.foldLeft(before.open) { (m, r) =>
            val start = r.w.start.getTime
            m.updated(start, m.getOrElse(start, 0L) + r.bytes)
          }
          val watermark = state.getCurrentWatermarkMs()
          val (closed, open) = sums.partition(_._1 + WindowMs <= watermark)
          val (out, last) = transitions(nif,
            closed.iterator.map { case (start, bytes) => Traffic(nif, new Timestamp(start), bytes) },
            before.last, limit)
          state.update(NifWindows(open, last))
          if (open.nonEmpty) state.setTimeoutTimestamp(open.keys.min + WindowMs - 1)
          out.iterator
      }
  }

  /** S4: shape alerts as Kafka records — (key, value) exactly what
    * `writeStream.format("kafka").option("topic", "alerts")` consumes.
    * Key = nif (keeps a NIF's transitions in one Kafka partition, in
    * order — an upgrade over the reference's null key,
    * KafkaProducer.java:38). */
  def toKafkaMessages(alerts: Dataset[Alert]): DataFrame =
    alerts.select(
      col("nif").as("key"),
      to_json(struct(col("nif"), col("windowStart"), col("bytes"),
        col("alert"), col("message"))).as("value"))

  /** Batch analogue of [[pipeline]] over the events table — same logical
    * program, lets the DuckDB oracle check the operator's semantics
    * (q_edge_trigger_batch in graft.queries.RefParity). */
  def batchEdgeTrigger(events: DataFrame, maxLimit: Double): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"w")
    events
      .groupBy($"user_id",
        (floor(unix_timestamp($"ts") / 300) * 300).cast("long").as("w"))
      .agg(sum($"value").as("traffic"))
      .select($"user_id", $"w", (round($"traffic", 2) > maxLimit).as("alert"))
      .withColumn("prev", lag($"alert", 1).over(w))
      .filter($"prev".isNull || $"alert" =!= $"prev")
      .select($"user_id", $"w".as("window_start"), $"alert")
  }
}
