package graft.multimodal

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.Tables

/** File-backed splittable archive ingestion: byte-identity with the
  * row-based walkers, >1 serve task per large archive via the boundary
  * index, bounded-window growth past an oversized member, and the
  * never-throw contract on truncated files. */
class ArchiveFilesSpec extends SparkSpec {

  private def freshDir(tag: String): String = tempDir(s"graft_afspec_$tag").toString

  private def docs = Tables.t(spark, sfDir, "documents")

  test("file-backed .warc.gz serve is row-for-row identical to the row-based split") {
    val dir = freshDir("warc")
    ArchiveFiles.writeDir(
      Archives.warcFixtures(docs, "doc_id", "text"), dir, ".warc.gz")
    val idx = ArchiveFiles.writeIndex(
      ArchiveFiles.buildIndex(spark, dir, "warc.gz"), s"$dir-index")
    val served = ArchiveFiles.readWarcMembers(idx, "warc.gz", 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    val rowBased = Archives.warcSplit(
        Archives.warcFixtures(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(served.length === rowBased.length)
    assert(served.toSeq === rowBased.toSeq)
  }

  test("tar index pass reads headers only and serve matches tarExplode") {
    val dir = freshDir("tar")
    ArchiveFiles.writeDir(
      Archives.tarFixtures(docs, "doc_id", "text"), dir, ".tar")
    val idx = ArchiveFiles.writeIndex(
      ArchiveFiles.buildIndex(spark, dir, "tar"), s"$dir-index")
    val served = ArchiveFiles.readTarMembers(idx, 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    val rowBased = Archives.tarExplode(
        Archives.tarFixtures(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(served.toSeq === rowBased.toSeq)
  }

  test("zip files index from the central directory alone and serve like zipExplode") {
    val dir = freshDir("zip")
    ArchiveFiles.writeDir(
      Archives.zipFixtures(docs, "doc_id", "text"), dir, ".zip")
    val idx = ArchiveFiles.writeIndex(
      ArchiveFiles.buildIndex(spark, dir, "zip"), s"$dir-index")
    val served = ArchiveFiles.readZipMembers(idx, 4096)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val rowBased = Archives.zipExplode(
        Archives.zipFixtures(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(served.toSeq === rowBased.toSeq)
  }

  test("a ZipOutputStream zip (data descriptors, zero local sizes) serves via the CD") {
    // the JDK's streamed writer emits bit-3 local headers whose
    // size/CRC fields are zero — only the central directory knows the
    // truth, which is exactly what the file-backed serve decodes with
    val dir = freshDir("jdkzip")
    val bos = new java.io.ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(bos)
    val texts = (0 until 5).map(i =>
      (i.toLong, s"jdk payload $i " + "w" * (i * 13)))
    texts.foreach { case (id, txt) =>
      zout.putNextEntry(new java.util.zip.ZipEntry(s"doc-$id.txt"))
      zout.write(txt.getBytes("UTF-8"))
      zout.closeEntry()
    }
    zout.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "archive-000000.zip"), bos.toByteArray)
    val idx = ArchiveFiles.buildIndex(spark, dir, "zip")
    assert(idx.count() === 5)
    val served = ArchiveFiles.readZipMembers(idx, 4096)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(served.toSeq === texts)
  }

  test("a large archive fans out to MULTIPLE serve splits via the index") {
    // one big archive: 64 members → with a 4 KiB split target the
    // single file must plan several (path, split) tasks
    val dir = freshDir("fanout")
    val ms = (0L until 64L).map(i => i -> (s"doc $i " + "y" * 500).getBytes("UTF-8"))
    val one = ArchiveRecord(0L, {
      val out = new java.io.ByteArrayOutputStream()
      ms.foreach { case (id, data) =>
        val rec = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
          s"WARC-Record-ID: <urn:graft:$id>\r\n" +
          s"Content-Length: ${data.length}\r\n\r\n").getBytes("US-ASCII")
        val g = Gzip.gzipStored(rec ++ data ++ "\r\n\r\n".getBytes("US-ASCII"))
        out.write(g, 0, g.length)
      }
      out.toByteArray
    })
    import spark.implicits._
    ArchiveFiles.writeDir(Seq(one).toDS(), dir, ".warc.gz")
    val idx = ArchiveFiles.buildIndex(spark, dir, "warc.gz")
    assert(idx.count() === 64)
    val splits = ArchiveFiles.planSplits(idx, 4096)
      .collect().map { case (p, s, _, _) => (p, s) }.distinct
    assert(splits.length > 1, s"expected >1 split, got ${splits.length}")
    assert(splits.map(_._1).distinct.length === 1, "all splits of one file")
    // and the members still serve completely and correctly
    val served = ArchiveFiles.readWarcMembers(idx, "warc.gz", 4096)
      .collect().map(r => (r.getLong(0), r.getString(3))).sortBy(_._1)
    assert(served.length === 64)
    assert(served(7)._2 === "doc 7 " + "y" * 500)
  }

  test("the index window grows past a member larger than the initial window") {
    // one member of ~6 MiB (> WindowBytes = 4 MiB): the geometric window
    // growth must find its boundary; a second small member must follow
    val dir = freshDir("bigmember")
    val big = ("z" * (6 << 20)).getBytes("UTF-8")
    val recBig = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "WARC-Record-ID: <urn:graft:1>\r\n" +
      s"Content-Length: ${big.length}\r\n\r\n").getBytes("US-ASCII") ++
      big ++ "\r\n\r\n".getBytes("US-ASCII")
    val small = "small".getBytes("UTF-8")
    val recSmall = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "WARC-Record-ID: <urn:graft:2>\r\n" +
      s"Content-Length: ${small.length}\r\n\r\n").getBytes("US-ASCII") ++
      small ++ "\r\n\r\n".getBytes("US-ASCII")
    val payload = {
      val out = new java.io.ByteArrayOutputStream()
      val g1 = Gzip.gzipStored(recBig); out.write(g1, 0, g1.length)
      val g2 = Gzip.gzipStored(recSmall); out.write(g2, 0, g2.length)
      out.toByteArray
    }
    import spark.implicits._
    ArchiveFiles.writeDir(Seq(ArchiveRecord(0L, payload)).toDS(), dir, ".warc.gz")
    val idx = ArchiveFiles.buildIndex(spark, dir, "warc.gz").collect()
    assert(idx.length === 2, s"expected 2 members, got ${idx.length}")
    val served = ArchiveFiles.readWarcMembers(
        ArchiveFiles.buildIndex(spark, dir, "warc.gz"), "warc.gz", 1 << 20)
      .collect().map(r => (r.getLong(0), r.getString(3).length)).sortBy(_._1)
    assert(served.toSeq === Seq((1L, 6 << 20), (2L, 5)))
  }

  test("a truncated file indexes its complete prefix and never throws") {
    val dir = freshDir("trunc")
    ArchiveFiles.writeDir(
      Archives.warcFixtures(docs, "doc_id", "text"), dir, ".warc.gz")
    // truncate the first file to 60% — mid-member
    val f = Files.list(Paths.get(dir)).toArray.map(_.toString).sorted
      .find(_.endsWith(".warc.gz")).get
    val bytes = Files.readAllBytes(Paths.get(f))
    Files.write(Paths.get(f), java.util.Arrays.copyOf(bytes, bytes.length * 3 / 5))
    val full = Archives.warcSplit(
        Archives.warcFixtures(docs, "doc_id", "text"))
      .count()
    val idx = ArchiveFiles.buildIndex(spark, dir, "warc.gz")
    val n = idx.count()
    assert(n > 0 && n < full, s"prefix index expected, got $n of $full")
    // and every indexed member still serves
    assert(ArchiveFiles.readWarcMembers(idx, "warc.gz", 4096).count() === n)
  }

  test("an empty or missing directory yields an empty index, not an error") {
    val dir = freshDir("empty")
    assert(ArchiveFiles.buildIndex(spark, dir, "warc.gz").count() === 0)
    assert(ArchiveFiles.buildIndex(spark, dir + "/nope", "tar").count() === 0)
  }

  test("ensureIndex skips the boundary walk while the archive listing is unchanged") {
    val dir = freshDir("reuse")
    ArchiveFiles.writeDir(
      Archives.warcFixtures(docs, "doc_id", "text"), dir, ".warc.gz")
    val idxPath = s"$dir-index"
    def indexFiles(): Set[String] =
      Files.list(Paths.get(idxPath)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).toSet
    val idx1 = ArchiveFiles.ensureIndex(spark, dir, "warc.gz", idxPath)
    val n = idx1.count()
    assert(n > 0)
    val files1 = indexFiles()
    // second invocation: listing unchanged -> NO walk, NO rewrite — the
    // parquet part files (uuid-named per write) must be the same files
    val idx2 = ArchiveFiles.ensureIndex(spark, dir, "warc.gz", idxPath)
    assert(indexFiles() === files1, "index was rewritten on an unchanged listing")
    assert(idx2.count() === n)
    // drift: rewrite one archive with different content (same name) ->
    // manifest mtime/length changes -> full rebuild
    val f = Files.list(Paths.get(dir)).toArray.map(_.toString).sorted
      .find(_.endsWith(".warc.gz")).get
    val bytes = Files.readAllBytes(Paths.get(f))
    Files.write(Paths.get(f), java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val idx3 = ArchiveFiles.ensureIndex(spark, dir, "warc.gz", idxPath)
    assert(indexFiles() !== files1, "index was NOT rebuilt after a file changed")
    assert(idx3.count() < n)
  }

  test("ZIP64 files index through the ZIP64 EOCD record and serve like the row-based explode") {
    val dir = freshDir("zip64")
    ArchiveFiles.writeDir(
      Archives.zip64Fixtures(docs, "doc_id", "text"), dir, ".zip")
    val idx = ArchiveFiles.writeIndex(
      ArchiveFiles.buildIndex(spark, dir, "zip"), s"$dir-index")
    val served = ArchiveFiles.readZipMembers(idx, 4096)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val rowBased = Archives.zipExplode(
        Archives.zip64Fixtures(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(served.nonEmpty)
    assert(served.toSeq === rowBased.toSeq)
  }

  test("a truncated ZIP64 locator drops the file from the index, never throws") {
    val dir = freshDir("zip64bad")
    val one = Archives.zip64Fixture(
      Seq(3L -> "zip64 victim payload".getBytes("UTF-8")))
    // clobber the locator's record offset to point past the locator —
    // the walk must reject the whole file (a lying directory poisons
    // every extent), not throw and not serve garbage
    val locOff = one.length - 22 - 20
    assert(ByteIo.le32u(one, locOff) === 0x07064b50L)
    val bad = one.clone()
    System.arraycopy(ByteIo.le64b(one.length.toLong), 0, bad, locOff + 8, 8)
    Files.write(Paths.get(dir, "archive-000000.zip"), bad)
    assert(ArchiveFiles.buildIndex(spark, dir, "zip").count() === 0)
    // OVERFLOW-hostile twin of the row-based case: a record offset near
    // Long.MaxValue wraps a sum-form bounds check; must drop, not throw
    val huge = one.clone()
    System.arraycopy(ByteIo.le64b(Long.MaxValue - 16), 0, huge, locOff + 8, 8)
    Files.write(Paths.get(dir, "archive-000000.zip"), huge)
    assert(ArchiveFiles.buildIndex(spark, dir, "zip").count() === 0)
  }

  test("long-name tar extents include their meta headers and serve full paths") {
    val dir = freshDir("tarlong")
    ArchiveFiles.writeDir(
      Archives.tarLongFixtures(docs, "doc_id", "text"), dir, ".tar")
    val idx = ArchiveFiles.writeIndex(
      ArchiveFiles.buildIndex(spark, dir, "tar"), s"$dir-index")
    // every logical member's extent spans meta header + real header +
    // payload: at least 3 blocks
    val tooSmall = idx.where("member_len < 1536").count()
    assert(tooSmall === 0, s"$tooSmall extents missing their meta header")
    val served = ArchiveFiles.readTarMemberNames(idx, 4096)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val expected = docs.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      .sortBy(_._1)
      .map { case (id, text) => (id, Archives.longMemberName(id), text) }
    assert(served.toSeq === expected.toSeq)
    assert(served.forall(_._2.length > 100))
  }
}
