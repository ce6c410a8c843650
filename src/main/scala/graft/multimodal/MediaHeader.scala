package graft.multimodal

import java.util.zip.CRC32

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM binary container-header parsers (SURVEY.md §2.11 — the
  * multimodal column family). No native codec, no image library: just the
  * published file-format specs read byte-by-byte, which is exactly what the
  * metadata pass of a 100 TB media-ingest pipeline does before deciding
  * what to hand to a real decoder (route by container, drop corrupt or
  * truncated payloads, partition by resolution/sample-rate buckets).
  *
  * Formats (each from its public spec):
  *  - PNG  (RFC 2083 / W3C): 8-byte signature, then the IHDR chunk —
  *    length BE32, type "IHDR", width BE32 @16, height BE32 @20, bit
  *    depth @24, color type @25; chunk CRC32 (ISO 3309, as implemented
  *    by `java.util.zip.CRC32`) over type+data verified when present.
  *    An IHDR CRC mismatch rejects the payload (libpng errors there too).
  *  - BMP  (BITMAPINFOHEADER and its 108/124-byte successors): "BM",
  *    DIB-header size LE32 @14, width LE32(signed) @18, height
  *    LE32(signed) @22 (negative = top-down, reported as-is), bpp
  *    LE16 @28.
  *  - WAV  (RIFF 1991 spec): "RIFF" + size + "WAVE", then a REAL chunk
  *    walk — id(4) + size LE32 + data (word-aligned: odd sizes pad one
  *    byte) — until the "fmt " chunk: channels LE16 @+2, sample rate
  *    LE32 @+4, bits/sample LE16 @+14. Payloads whose fmt chunk sits
  *    after a LIST/JUNK chunk parse identically to canonical ones.
  *  - JPEG (ITU T.81): SOI, marker-segment walk (BE16 self-inclusive
  *    lengths, FF fill bytes and standalone RSTn/TEM skipped) to the
  *    first SOF frame header (any of C0-CF except DHT/JPG/DAC).
  *  - GIF  (87a/89a): logical screen descriptor, LE16 dims.
  *
  * Anything else (or any truncated/corrupt payload) is `unknown` with
  * null fields — loud at the column level, never an exception, so one bad
  * blob cannot kill a 100 TB scan.
  */
object MediaHeader {

  /** Parsed metadata; -1 in a slot means "not applicable / unknown" and
    * is surfaced as SQL NULL by the expression. */
  final case class Meta(format: String, width: Long, height: Long,
      bitDepth: Long, channels: Long, sampleRate: Long)

  val Unknown: Meta = Meta("unknown", -1L, -1L, -1L, -1L, -1L)

  import ByteIo.{be32, le16, le32s, le32u, fourCC => tag}

  private val PngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def parsePng(b: Array[Byte]): Meta = {
    if (b.length < 29) return Unknown
    var i = 0
    while (i < 8) { if (b(i) != PngSig(i)) return Unknown; i += 1 }
    val len = be32(b, 8)
    if (len < 13 || tag(b, 12) != "IHDR") return Unknown
    // IHDR CRC covers type+data; verify when the chunk is complete.
    if (b.length >= 16 + len + 4) {
      val crc = new CRC32
      crc.update(b, 12, 4 + len.toInt)
      if (crc.getValue != be32(b, 16 + len.toInt)) return Unknown
    }
    val colorType = b(25) & 0xff
    // channel count is determined by color type (PNG spec §4.1.1):
    // 0 gray, 2 RGB, 3 palette, 4 gray+alpha, 6 RGBA
    val ch = colorType match {
      case 0 | 3 => 1L
      case 2 => 3L
      case 4 => 2L
      case 6 => 4L
      case _ => return Unknown
    }
    Meta("png", be32(b, 16), be32(b, 20), (b(24) & 0xff).toLong, ch, -1L)
  }

  private def parseBmp(b: Array[Byte]): Meta = {
    if (b.length < 30 || b(0) != 'B' || b(1) != 'M') return Unknown
    val dib = le32u(b, 14)
    // BITMAPINFOHEADER / V4 / V5; the legacy 12-byte BITMAPCOREHEADER has
    // a different field layout and 16-bit dims — not emitted since the
    // Windows 2.x era, rejected rather than misread.
    if (dib != 40L && dib != 108L && dib != 124L) return Unknown
    val bpp = le16(b, 28)
    Meta("bmp", le32s(b, 18), le32s(b, 22), bpp,
      if (bpp % 8 == 0 && bpp / 8 >= 1) bpp / 8 else -1L, -1L)
  }

  /** RIFF chunk walk: offset+size of the first chunk with `want` id. */
  private def riffChunk(b: Array[Byte], want: String): Option[(Int, Int)] = {
    if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE")
      return None
    var o = 12L
    while (o + 8 <= b.length) {
      val id = tag(b, o.toInt)
      val size = le32u(b, o.toInt + 4)
      if (id == want) {
        if (o + 8 + size > b.length) return None
        return Some((o.toInt + 8, size.toInt))
      }
      o += 8 + size + (size & 1L) // RIFF chunks are word-aligned
    }
    None
  }

  private def parseWav(b: Array[Byte]): Meta =
    riffChunk(b, "fmt ") match {
      case Some((d, size)) if size >= 16 =>
        Meta("wav", -1L, -1L, le16(b, d + 14), le16(b, d + 2), le32u(b, d + 4))
      case _ => Unknown
    }

  /** The `data` chunk's (offset, byteLength) — the raw PCM samples a
    * decoder reads directly (PCM IS the decoded form; no codec needed). */
  def wavData(b: Array[Byte]): Option[(Int, Int)] = riffChunk(b, "data")

  /** The `fmt ` chunk's (offset, byteLength) — for decoders that need
    * the wFormatTag itself (e.g. G.711 companded WAVs, where tag 6/7
    * selects the A-law/µ-law expansion), which [[parse]]'s Meta does
    * not carry. */
  def wavFmt(b: Array[Byte]): Option[(Int, Int)] = riffChunk(b, "fmt ")

  /** JPEG/JFIF marker walk (ITU T.81 §B): SOI, then FF-prefixed segments
    * each carrying a BE16 length that includes itself; dimensions live in
    * the first SOF frame header (precision @+2, height BE16 @+3, width
    * BE16 @+5, component count @+7). All SOF variants C0-CF are frame
    * headers except C4 (DHT), C8 (JPG) and CC (DAC) — real encoders emit
    * C1 (extended sequential) and others, not only C0/C2. Standalone
    * markers (FF fill bytes, RSTn, TEM) carry no length and are skipped
    * per §B.1.1.2. */
  private def parseJpeg(b: Array[Byte]): Meta = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return Unknown
    var o = 2
    while (o + 2 <= b.length) {
      if ((b(o) & 0xff) != 0xff) return Unknown // lost marker sync
      val marker = b(o + 1) & 0xff
      if (marker == 0xff) { o += 1 } // FF fill byte before a marker
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        o += 2 // TEM / RSTn: standalone, no length field
      } else if (marker == 0xd9 || marker == 0xda) {
        return Unknown // EOI/SOS before any frame header
      } else {
        if (o + 4 > b.length) return Unknown
        val len = ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
        if (len < 2 || o + 2 + len > b.length) return Unknown
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (len < 10) return Unknown
          val d = o + 4
          val h = ((b(d + 1) & 0xff) << 8) | (b(d + 2) & 0xff)
          val w = ((b(d + 3) & 0xff) << 8) | (b(d + 4) & 0xff)
          return Meta("jpeg", w.toLong, h.toLong, (b(d) & 0xff).toLong,
            (b(d + 5) & 0xff).toLong, -1L)
        }
        o += 2 + len
      }
    }
    Unknown
  }

  /** GIF87a/89a logical screen descriptor: width/height LE16 @6/@8; the
    * packed byte @10 carries color resolution bits 4-6 (depth = value+1). */
  private def parseGif(b: Array[Byte]): Meta = {
    if (b.length < 13) return Unknown
    val magic = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (magic != "GIF87a" && magic != "GIF89a") return Unknown
    Meta("gif", le16(b, 6), le16(b, 8),
      (((b(10) & 0xff) >> 4) & 7) + 1L, -1L, -1L)
  }

  /** Dispatch on the magic bytes; never throws. */
  def parse(b: Array[Byte]): Meta = {
    if (b == null || b.length < 2) return Unknown
    if (b(0) == PngSig(0)) parsePng(b)
    else if (b(0) == 'B' && b(1) == 'M') parseBmp(b)
    else if (b(0) == 'R' && b.length >= 4 && tag(b, 0) == "RIFF") parseWav(b)
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) parseJpeg(b)
    else if (b(0) == 'G') parseGif(b)
    else Unknown
  }
}

/** media_meta(binary) → struct(format, width, height, bit_depth, channels,
  * sample_rate) — the container-header parse as a native Catalyst
  * expression, so metadata extraction runs inside the scan projection with
  * no Dataset round-trip.
  *
  * CodegenFallback is deliberate (same rationale as [[graft.functions.SimHash60]]):
  * the work is a per-row byte scan inside nullSafeEval; whole-stage fusion
  * would save one virtual call per row while complicating CRC/array state.
  */
case class MediaMeta(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "media_meta"

  override def dataType: DataType = MediaMeta.schema
  // UnaryExpression.eval short-circuits a null child to a null RESULT
  // (nullSafeEval is never called), so the struct itself is nullable
  // whenever the input is — declaring false would let NullPropagation
  // constant-fold IS NOT NULL checks over null-media rows.
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any = {
    val m = MediaHeader.parse(input.asInstanceOf[Array[Byte]])
    def slot(v: Long): Any = if (v < 0) null else v
    InternalRow(UTF8String.fromString(m.format), slot(m.width),
      slot(m.height), slot(m.bitDepth), slot(m.channels), slot(m.sampleRate))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MediaMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("bit_depth", LongType),
    StructField("channels", LongType),
    StructField("sample_rate", LongType)))
}

object MediaFunctions {
  val fns: Seq[(String, FunctionBuilder, String)] = Seq(
    ("media_meta", (e: Seq[Expression]) => MediaMeta(e(0)),
      "media_meta(bytes) - container-header metadata (png/bmp/wav/jpeg/gif) as a struct"))
}
