package streambench

import graft.streaming.PacketSource

/** Plain-Scala model of the traffic monitor, the stream workloads'
  * correctness gate: per-(nif, 5-minute window) byte totals from
  * `PacketSource.payload` lengths, and the edge-trigger flip sequence with
  * first-observation-always-emits semantics.
  */
object Reference {
  val WindowMicros: Long = 300L * 1000000L

  /** (nif, windowStartMicros, bytes, alert) — one emitted transition. */
  final case class Flip(nif: String, windowStartMicros: Long, bytes: Long, alert: Boolean)

  def windowStart(tsMicros: Long): Long = Math.floorDiv(tsMicros, WindowMicros) * WindowMicros

  /** Index of the last packet whose event time falls before `windowEndMicros`. */
  def lastIndexBefore(windowEndMicros: Long, baseMicros: Long, microsPerPacket: Long): Long =
    Math.floorDiv(windowEndMicros - baseMicros - 1, microsPerPacket)

  /** Window totals of packets [0, n) of one NIF, ordered by window start. */
  def windowTotals(nif: String, n: Long, baseMicros: Long,
      microsPerPacket: Long): Vector[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var cur = Long.MinValue
    var sum = 0L
    var i = 0L
    while (i < n) {
      val w = windowStart(baseMicros + i * microsPerPacket)
      if (w != cur) {
        if (cur != Long.MinValue) out += cur -> sum
        cur = w; sum = 0L
      }
      sum += PacketSource.payload(nif, i).length
      i += 1
    }
    if (cur != Long.MinValue) out += cur -> sum
    out.result()
  }

  /** Totals for every NIF, computed in parallel (one task per NIF). */
  def allTotals(nifs: Seq[String], n: Long, baseMicros: Long,
      microsPerPacket: Long): Map[String, Vector[(Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    java.util.Arrays.asList(nifs: _*).parallelStream()
      .map[(String, Vector[(Long, Long)])](nif =>
        nif -> windowTotals(nif, n, baseMicros, microsPerPacket))
      .iterator().asScala.toMap
  }

  /** Transitions over the windows ending at or before `closedBeforeMicros`. */
  def flips(totals: Map[String, Vector[(Long, Long)]], limit: Long,
      closedBeforeMicros: Long): Set[Flip] =
    totals.iterator.flatMap { case (nif, ws) =>
      var last: Option[Boolean] = None
      ws.iterator.takeWhile(_._1 + WindowMicros <= closedBeforeMicros).flatMap {
        case (w, bytes) =>
          val alert = bytes > limit
          if (last.contains(alert)) None
          else { last = Some(alert); Some(Flip(nif, w, bytes, alert)) }
      }
    }.toSet

  /** Median of the full windows' totals: about half the windows sit above it. */
  def medianLimit(totals: Map[String, Vector[(Long, Long)]]): Long = {
    val full = totals.values.flatMap(ws => ws.drop(1).dropRight(1).map(_._2)).toArray.sorted
    require(full.nonEmpty, "no full window to set the limit from")
    full(full.length / 2)
  }
}
