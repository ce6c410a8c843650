package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The pure-JVM container-header parsers (MediaHeader) and their Catalyst
  * expression surface (media_meta). */
class MediaHeaderSpec extends SparkSpec {

  /** A real-world 1×1 RGBA PNG header (signature + IHDR), byte-for-byte
    * as produced by libpng — including its published IHDR CRC 0x1F15C489.
    * Golden evidence the parser (and our fixture builder's CRC) agree
    * with actual files, not just with each other. */
  private val realPngHeader: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0x00, 0x00, 0x00, 0x0d, // IHDR length 13
      0x49, 0x48, 0x44, 0x52, // "IHDR"
      0x00, 0x00, 0x00, 0x01, // width 1 (BE)
      0x00, 0x00, 0x00, 0x01, // height 1 (BE)
      0x08, 0x06, 0x00, 0x00, 0x00, // depth 8, RGBA, default methods
      0x1f, 0x15, 0xc4, 0x89 // CRC32 of type+data
    ).map(_.toByte)

  test("parses a real libpng-produced header, CRC verified") {
    val m = MediaHeader.parse(realPngHeader)
    assert(m === MediaHeader.Meta("png", 1L, 1L, 8L, 4L, -1L))
  }

  test("an IHDR CRC mismatch rejects the payload (libpng errors there too)") {
    val corrupt = realPngHeader.clone()
    corrupt(corrupt.length - 1) = (corrupt.last ^ 0x01).toByte
    assert(MediaHeader.parse(corrupt).format === "unknown")
    // flipping a DATA byte without re-computing the CRC must also reject
    val wrongWidth = realPngHeader.clone()
    wrongWidth(19) = 0x02
    assert(MediaHeader.parse(wrongWidth).format === "unknown")
  }

  test("BMP: little-endian signed dims; negative height (top-down) kept as-is") {
    val base = Multimodal.MediaFixtures.payload(1L) // kind 1 → BMP
    assert(MediaHeader.parse(base) ===
      MediaHeader.Meta("bmp", 2L, 2L, 24L, 3L, -1L))
    val topDown = base.clone()
    // height = -2 as LE32 at offset 22
    topDown(22) = 0xfe.toByte; topDown(23) = 0xff.toByte
    topDown(24) = 0xff.toByte; topDown(25) = 0xff.toByte
    assert(MediaHeader.parse(topDown).height === -2L)
    // a BITMAPCOREHEADER-sized DIB field (12) has a different layout:
    // reject rather than misread
    val core = base.clone(); core(14) = 12
    assert(MediaHeader.parse(core).format === "unknown")
  }

  test("WAV chunk walk finds fmt behind a LIST chunk (non-canonical layout)") {
    val canonical = Multimodal.MediaFixtures.payload(2L) // kind 2 → WAV
    val m = MediaHeader.parse(canonical)
    assert(m === MediaHeader.Meta("wav", -1L, -1L, 16L, 1L, 44100L))
    // splice an 11-byte LIST chunk (odd size → 1 pad byte) before fmt
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](11, 0, 0, 0) ++ new Array[Byte](11 + 1)
    val spliced = canonical.take(12) ++ listChunk ++ canonical.drop(12)
    assert(MediaHeader.parse(spliced) === m)
  }

  test("truncated or foreign payloads degrade to unknown, never throw") {
    for (p <- Seq(Array.empty[Byte], Array[Byte](0x89.toByte), realPngHeader.take(20),
        "BMxx".getBytes("US-ASCII"), "RIFFxxxxWAVE".getBytes("US-ASCII"),
        "plain text".getBytes("US-ASCII")))
      assert(MediaHeader.parse(p).format === "unknown")
  }

  test("fixture payloads parse back to their generating arithmetic") {
    for (id <- 0L until 40L) {
      val m = MediaHeader.parse(Multimodal.MediaFixtures.payload(id))
      id % 5 match {
        case 0 =>
          assert(m.format === "png")
          assert(m.width === id % 300 + 1)
          assert(m.height === id % 200 + 1)
          assert(m.bitDepth === 8L)
          assert(m.channels === (if (id % 2 == 0) 3L else 4L))
        case 1 =>
          assert(m.format === "bmp")
          assert(m.width === id % 300 + 1)
          assert(m.bitDepth === 24L)
        case 2 =>
          assert(m.format === "wav")
          assert(m.channels === id % 2 + 1)
          assert(m.sampleRate ===
            Seq(8000L, 16000L, 44100L, 48000L)((id % 4).toInt))
        case 3 =>
          assert(m.format === "jpeg")
          assert(m.width === id % 300 + 1)
          assert(m.height === id % 200 + 1)
          assert(m.bitDepth === 8L)
          assert(m.channels === 3L)
        case _ =>
          assert(m.format === "gif")
          assert(m.width === id % 300 + 1)
          assert(m.height === id % 200 + 1)
          assert(m.bitDepth === 8L)
      }
    }
  }

  test("JPEG marker walk skips APP/comment segments to the first SOF") {
    val base = Multimodal.MediaFixtures.payload(3L) // kind 3 → JPEG
    assert(MediaHeader.parse(base) ===
      MediaHeader.Meta("jpeg", 4L, 4L, 8L, 3L, -1L))
    // splice a COM segment (FFFE, len 6: 4 payload bytes) after APP0 —
    // the walk must skip it by its self-inclusive BE16 length
    val com = Array[Byte](0xff.toByte, 0xfe.toByte, 0, 6, 'h', 'i', '!', '!')
    val spliced = base.take(20) ++ com ++ base.drop(20)
    assert(MediaHeader.parse(spliced) ===
      MediaHeader.Meta("jpeg", 4L, 4L, 8L, 3L, -1L))
    // SOS before any SOF (corrupt ordering) rejects rather than misreads
    val sos = base.clone(); sos(21) = 0xda.toByte
    assert(MediaHeader.parse(sos).format === "unknown")
  }

  test("JPEG: non-baseline SOF markers, fill bytes, and RSTn all walk correctly") {
    val base = Multimodal.MediaFixtures.payload(3L)
    val expected = MediaHeader.Meta("jpeg", 4L, 4L, 8L, 3L, -1L)
    // SOF1 (extended sequential) — emitted by real encoders
    val sof1 = base.clone(); sof1(21) = 0xc1.toByte
    assert(MediaHeader.parse(sof1) === expected)
    // FF fill byte before the SOF marker (legal padding, §B.1.1.2)
    val filled = base.take(20) ++ Array(0xff.toByte) ++ base.drop(20)
    assert(MediaHeader.parse(filled) === expected)
    // standalone RST marker (no length field) is skipped, not misread
    val rst = base.take(20) ++
      Array(0xff.toByte, 0xd0.toByte) ++ base.drop(20)
    assert(MediaHeader.parse(rst) === expected)
    // DHT (C4) is NOT a frame header: its payload must not parse as dims
    val dht = base.clone(); dht(21) = 0xc4.toByte
    assert(MediaHeader.parse(dht).format === "unknown")
  }

  test("ASCII text with a literal GIF magic IS a GIF (parser and oracle agree)") {
    // the one container whose magic+fields are satisfiable by plain text;
    // q_multimodal_features' oracle mirrors exactly this arithmetic
    val b = "GIF89aABCDpxx".getBytes("US-ASCII")
    assert(MediaHeader.parse(b) === MediaHeader.Meta("gif",
      'A' + 256L * 'B', 'C' + 256L * 'D', ('p' >> 4 & 7) + 1L, -1L, -1L))
  }

  test("GIF87a also parses; short or bad-magic payloads reject") {
    val gif = Multimodal.MediaFixtures.payload(4L)
    assert(MediaHeader.parse(gif) ===
      MediaHeader.Meta("gif", 5L, 5L, 8L, -1L, -1L))
    val g87 = gif.clone(); g87(4) = '7'
    assert(MediaHeader.parse(g87).format === "gif")
    assert(MediaHeader.parse("GIF99a_____..".getBytes("US-ASCII")).format
      === "unknown")
    assert(MediaHeader.parse(gif.take(10)).format === "unknown")
  }

  test("wavData exposes the PCM chunk; samples round-trip as signed 16-bit") {
    val wav = Multimodal.MediaFixtures.payload(2L)
    val (off, len) = MediaHeader.wavData(wav).get
    assert(len === Multimodal.MediaFixtures.WavSamples * 2)
    for (i <- 0 until Multimodal.MediaFixtures.WavSamples) {
      val s = (wav(off + 2 * i + 1) << 8) | (wav(off + 2 * i) & 0xff)
      assert(s === Multimodal.MediaFixtures.wavSample(2L, i))
    }
    assert(MediaHeader.wavData(Multimodal.MediaFixtures.payload(0L)).isEmpty)
  }

  test("media_meta runs as a native expression inside a projection") {
    import spark.implicits._
    val rows = Multimodal.fixtures(
        Seq(0L, 1L, 2L).toDF("doc_id"), "doc_id").toDF()
      .select($"doc_id", expr("media_meta(media)").as("m"))
      .select($"doc_id", $"m.format", $"m.width", $"m.sample_rate")
      .as[(Long, String, Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(rows(0) === ((0L, "png", Some(1L), None)))
    assert(rows(1) === ((1L, "bmp", Some(2L), None)))
    assert(rows(2) === ((2L, "wav", None, Some(44100L))))
  }
}
