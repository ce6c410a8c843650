package streambench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.{PacketOffset, PacketRange, PacketReader, PacketSource}

/** An open-loop release schedule: packet index `i` of every NIF is due at
  * wall-clock `t0Millis + i / ratePerNif` seconds, whatever the consumer
  * is doing. Event time is `baseEpochMicros + i * microsPerPacket`, so the
  * ratio of event time to wall time is `microsPerPacket * ratePerNif / 1e6`.
  */
final case class Pace(nifs: Seq[String], ratePerNif: Double, t0Millis: Long,
    baseEpochMicros: Long, microsPerPacket: Long) {

  def dueMillis(i: Long): Double = t0Millis + i * 1000.0 / ratePerNif

  /** Packets per NIF released by wall-clock time `nowMillis`. */
  def released(nowMillis: Long): Long =
    math.max(0L, math.floor((nowMillis - t0Millis) * ratePerNif / 1000.0).toLong)

  def options: Map[String, String] = Map(
    "nifs" -> nifs.mkString(","), "ratePerNif" -> ratePerNif.toString,
    "t0Millis" -> t0Millis.toString, "baseEpochMicros" -> baseEpochMicros.toString,
    "microsPerPacket" -> microsPerPacket.toString)
}

object Pace {
  def fromOptions(o: CaseInsensitiveStringMap): Pace = Pace(
    o.get("nifs").split(",").toSeq, o.get("ratePerNif").toDouble,
    o.get("t0Millis").toLong, o.get("baseEpochMicros").toLong,
    o.get("microsPerPacket").toLong)
}

/** Micro-batch source that releases packets on a [[Pace]] schedule and reads
  * them through the program's `PacketRange`/`PacketReader`, so payload
  * synthesis still runs inside the scan tasks (one input partition per
  * NIF). Unlike `PacketSourceProvider`, whose offset advances one
  * `packetsPerTrigger` per trigger, a slow batch here does not lower the
  * offered rate: the next batch carries the whole backlog.
  *
  * Usage: `spark.readStream.format(classOf[PacedSourceProvider].getName)
  * .options(pace.options).load()`.
  */
class PacedSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PacketSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PacedTable(Pace.fromOptions(new CaseInsensitiveStringMap(properties)))
}

final class PacedTable(pace: Pace) extends Table with SupportsRead {
  override def name(): String = s"paced(${pace.nifs.size} nifs)"
  override def schema(): StructType = PacketSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = PacketSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new PacedStream(pace)
    }
}

final class PacedStream(pace: Pace) extends MicroBatchStream {
  override def initialOffset(): Offset = PacketOffset(0L)
  override def latestOffset(): Offset =
    PacketOffset(pace.released(System.currentTimeMillis()))
  override def deserializeOffset(json: String): Offset =
    PacketOffset("""\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(0L))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[PacketOffset].index,
      end.asInstanceOf[PacketOffset].index)
    pace.nifs.map(nif => PacketRange(nif, s, e, pace.baseEpochMicros,
      pace.microsPerPacket): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = PacketReaders
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object PacketReaders extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PacketReader(p.asInstanceOf[PacketRange])
}
