package graft.streaming

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{BinaryType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 packet source — the Structured Streaming replacement for
  * the reference's DStream receiver
  * (/root/reference/src/main/java/org/test/pcap4j/CaptureNetworkReceiver.java:23-128,
  * SURVEY.md §2.1 S1). Where the reference spawns one capture thread per
  * network interface inside a single receiver JVM, this source plans one
  * INPUT PARTITION per NIF per micro-batch, so adding NIFs scales out
  * instead of up. [[TrafficMonitor]] reads those partitions in
  * `min(NIFs, defaultParallelism)` tasks (coalesced in
  * `TrafficMonitor.packetSizes`): a task has a fixed scheduling and
  * launch cost that one NIF's share of a micro-batch does not repay, and
  * a task per core keeps every core busy. Caveat: NIFs of uneven volume
  * that share a task are not rebalanced, so one busy NIF can make its task
  * the batch's straggler.
  *
  * No libpcap here: packets are synthesized deterministically (seeded by
  * (nif, index)), which is also what makes the source unit-testable at
  * all — the reference's pcap coupling left it untestable (SURVEY.md §5.1).
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.streaming.PacketSourceProvider")
  *     .option("nifs", "eth0,eth1,lo")
  *     .option("packetsPerTrigger", "300")   // per NIF, like the
  *                                           // reference's 300-packet loop
  *     .load()                               // → nif STRING, raw BINARY, ts TIMESTAMP
  * }}}
  *
  * Offsets are a single monotone per-NIF packet index; commit is a no-op
  * (the generator is pure, so replay after failure regenerates identical
  * data — exactly-once without a write-ahead log, unlike the reference's
  * lossy MEMORY_ONLY receiver, SURVEY.md §2.9 T5).
  */
class PacketSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PacketSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new PacketTable(
      nifs = Option(opts.get("nifs")).getOrElse("eth0,eth1")
        .split(",").map(_.trim).filter(_.nonEmpty),
      packetsPerTrigger = opts.getLong("packetsPerTrigger", 300L),
      // default base: 2024-01-01T00:00:00Z
      baseEpochMicros = opts.getLong("baseEpochMicros", 1704067200000000L),
      microsPerPacket = opts.getLong("microsPerPacket", 1000000L))
  }
}

object PacketSource {
  val schema: StructType = new StructType()
    .add("nif", StringType)
    .add("raw", BinaryType)
    .add("ts", TimestampType)

  /** Deterministic payload for packet `i` on `nif`: 60..1459 bytes, the
    * synthetic stand-in for a captured frame (snaplen-bounded like the
    * reference's 65536 cap, CaptureNetworkReceiver.java:32-35). */
  def payload(nif: String, i: Long): Array[Byte] = {
    val seed = nif.hashCode.toLong * 1000003L + i
    val len = (math.abs(seed * 2654435761L) % 1400L + 60L).toInt
    val b = new Array[Byte](len)
    var j = 0
    var x = seed
    while (j < len) {
      x = x * 6364136223846793005L + 1442695040888963407L
      b(j) = (x >>> 56).toByte
      j += 1
    }
    b
  }
}

final class PacketTable(nifs: Array[String], packetsPerTrigger: Long,
    baseEpochMicros: Long, microsPerPacket: Long)
  extends Table with SupportsRead {

  override def name(): String = s"packets(${nifs.mkString(",")})"
  override def schema(): StructType = PacketSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PacketSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PacketMicroBatchStream(nifs, packetsPerTrigger,
            baseEpochMicros, microsPerPacket)
      }
    }
}

/** Offset = number of packets emitted so far per NIF (uniform across NIFs). */
final case class PacketOffset(index: Long) extends Offset {
  override def json(): String = s"""{"index":$index}"""
}

final class PacketMicroBatchStream(nifs: Array[String], packetsPerTrigger: Long,
    baseEpochMicros: Long, microsPerPacket: Long)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  // Monotone generator clock: each trigger exposes one more batch of
  // packetsPerTrigger per NIF. Replay of a committed range is pure.
  private var emitted = 0L
  // Trigger.AvailableNow drains exactly one trigger's worth past the
  // STARTING offset and terminates. The target is fixed lazily at the
  // first latestOffset call — prepare time is too early to know the
  // restored checkpoint offset, and anchoring at 0 would make a restarted
  // AvailableNow run drain nothing.
  private var availableNow = false
  private var availableNowTarget: Option[Long] = None

  override def initialOffset(): Offset = PacketOffset(0L)

  override def prepareForTriggerAvailableNow(): Unit = availableNow = true

  // SupportsAdmissionControl entry point (the no-arg variant is unused
  // once admission control is implemented).
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    if (availableNow) {
      if (availableNowTarget.isEmpty)
        availableNowTarget =
          Some(start.asInstanceOf[PacketOffset].index + packetsPerTrigger)
      PacketOffset(availableNowTarget.get)
    } else {
      emitted += packetsPerTrigger
      PacketOffset(emitted)
    }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def deserializeOffset(json: String): Offset =
    PacketOffset("""\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(0L))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PacketOffset].index
    val e = end.asInstanceOf[PacketOffset].index
    // keep the generator clock ahead of any restored checkpoint offset
    if (e > emitted) emitted = e
    nifs.map(nif => PacketRange(nif, s, e, baseEpochMicros, microsPerPacket)
      : InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val r = p.asInstanceOf[PacketRange]
        new PacketReader(r)
      }
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class PacketRange(nif: String, start: Long, end: Long,
    baseEpochMicros: Long, microsPerPacket: Long) extends InputPartition

final class PacketReader(r: PacketRange) extends PartitionReader[InternalRow] {
  private var i = r.start - 1

  override def next(): Boolean = { i += 1; i < r.end }

  override def get(): InternalRow =
    InternalRow(
      UTF8String.fromString(r.nif),
      PacketSource.payload(r.nif, i),
      r.baseEpochMicros + i * r.microsPerPacket)

  override def close(): Unit = ()
}
