package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's local file system writes and reports the same files as
  * stock Hadoop: bytes, `.crc` sidecars, modes, rename-with-overwrite and
  * file status. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def sessionConf: Configuration = spark.sessionState.newHadoopConf()

  /** The session's Hadoop conf with the stock local file systems. */
  private def stockConf: Configuration = {
    val c = new Configuration(sessionConf)
    c.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  private def withDirs(body: (JPath, JPath) => Unit): Unit = {
    val root = Files.createTempDirectory("nio_local_fs")
    try body(Files.createDirectory(root.resolve("nio")), Files.createDirectory(root.resolve("stock")))
    finally FileUtils.deleteDirectory(root.toFile)
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def raw(fs: RawLocalFileSystem, conf: Configuration): RawLocalFileSystem = {
    fs.initialize(new URI("file:///"), conf)
    fs
  }

  private def sameStatus(a: FileStatus, b: FileStatus): Unit = {
    assert(a.getPath === b.getPath)
    assert(a.getLen === b.getLen)
    assert(a.isDirectory === b.isDirectory)
    assert(a.getPermission === b.getPermission)
    assert(a.getOwner === b.getOwner)
    assert(a.getGroup === b.getGroup)
    assert(a.getModificationTime === b.getModificationTime)
  }

  test("the session resolves file: to the in-JVM file systems") {
    assert(FileContext.getLocalFSFileContext(sessionConf).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
    val fs = FileSystem.newInstance(new URI("file:///"), sessionConf)
    try assert(fs.isInstanceOf[NioLocalFileSystem])
    finally fs.close()
  }

  test("create + rename-with-overwrite leaves stock bytes, mode 0644 and a verified .crc") {
    withDirs { (nio, stock) =>
      def commit(conf: Configuration, dir: JPath, payload: Array[Byte]): Unit = {
        val fc = FileContext.getLocalFSFileContext(conf)
        val tmp = new Path(dir.toUri.toString, ".1.tmp")
        val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(payload) finally out.close()
        fc.rename(tmp, new Path(dir.toUri.toString, "1"), Options.Rename.OVERWRITE)
      }
      // the second commit renames over the first
      for (payload <- Seq(Array.fill[Byte](3000)(7), Array.tabulate[Byte](5000)(_.toByte))) {
        commit(sessionConf, nio, payload)
        commit(stockConf, stock, payload)
      }
      def files(d: JPath) = d.toFile.list().sorted.toSeq
      assert(files(nio) === Seq(".1.crc", "1"))
      assert(files(stock) === files(nio))
      for (f <- files(nio)) {
        assert(Files.readAllBytes(nio.resolve(f)).sameElements(Files.readAllBytes(stock.resolve(f))), f)
        assert(mode(nio.resolve(f)) === Integer.parseInt("644", 8), f)
        assert(mode(nio.resolve(f)) === mode(stock.resolve(f)), f)
      }

      // one flipped data byte: the FileSystem read fails its .crc check;
      // a FileContext read (which Hadoop's ChecksumFs does not verify)
      // answers as stock does
      for (d <- Seq(nio, stock)) {
        val bytes = Files.readAllBytes(d.resolve("1"))
        bytes(100) = (bytes(100) ^ 1).toByte
        Files.write(d.resolve("1"), bytes)
      }
      def path(d: JPath) = new Path(d.resolve("1").toUri.toString)
      assert(outcome(fsRead(sessionConf, path(nio))) === classOf[ChecksumException].getName)
      assert(outcome(fsRead(stockConf, path(stock))) === classOf[ChecksumException].getName)
      assert(outcome(fcRead(sessionConf, path(nio))) === outcome(fcRead(stockConf, path(stock))))
    }
  }

  private def fsRead(conf: Configuration, p: Path): Array[Byte] = {
    val fs = FileSystem.newInstance(new URI("file:///"), conf)
    try {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    } finally fs.close()
  }

  private def fcRead(conf: Configuration, p: Path): Array[Byte] = {
    val in = FileContext.getLocalFSFileContext(conf).open(p)
    try in.readAllBytes() finally in.close()
  }

  /** The bytes read, or the class of the exception the read threw. */
  private def outcome(read: => Array[Byte]): String =
    try read.toSeq.toString catch { case e: java.io.IOException => e.getClass.getName }

  test("getFileStatus, getFileLinkStatus and listStatus match stock RawLocalFileSystem") {
    withDirs { (nio, _) =>
      val file = Files.write(nio.resolve("f"), Array.fill[Byte](1234)(1))
      val dir = Files.createDirectory(nio.resolve("d"))
      val link = Files.createSymbolicLink(nio.resolve("l"), file)
      val ours = raw(new NioRawLocalFileSystem, sessionConf)
      val stock = raw(new RawLocalFileSystem, stockConf)
      for (p <- Seq(file, dir, link); path <- Seq(new Path(p.toUri.toString), new Path(p.toString)))
        withClue(path) {
          sameStatus(ours.getFileStatus(path), stock.getFileStatus(path))
          sameStatus(ours.getFileLinkStatus(path), stock.getFileLinkStatus(path))
          assert(ours.getFileLinkStatus(path).isSymlink === stock.getFileLinkStatus(path).isSymlink)
          if (!Files.isDirectory(p)) {
            val (a, b) = (ours.listStatus(path), stock.listStatus(path))
            assert(a.length === 1 && b.length === 1)
            sameStatus(a.head, b.head)
          }
        }
      ours.listStatus(new Path(nio.toUri.toString)).sortBy(_.getPath.getName)
        .zip(stock.listStatus(new Path(nio.toUri.toString)).sortBy(_.getPath.getName))
        .foreach { case (a, b) => sameStatus(a, b) }
      val missing = new Path(nio.resolve("missing").toUri.toString)
      intercept[java.io.FileNotFoundException](ours.getFileStatus(missing))
      intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(missing))
      intercept[java.io.FileNotFoundException](ours.listStatus(missing))
    }
  }

  test("a sticky directory gets its mode, and a set-group-id directory keeps its bit") {
    withDirs { (nio, stock) =>
      // mkdir applies the umask, which drops the sticky bit; setPermission keeps it
      val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
      for ((conf, d) <- Seq(sessionConf -> nio, stockConf -> stock)) {
        val fc = FileContext.getLocalFSFileContext(conf)
        val t = new Path(d.toUri.toString, "t")
        fc.mkdir(t, sticky, false)
        fc.setPermission(t, sticky)
      }
      assert(mode(nio.resolve("t")) === Integer.parseInt("1777", 8))
      assert(mode(nio.resolve("t")) === mode(stock.resolve("t")))
      val ours = raw(new NioRawLocalFileSystem, sessionConf)
      val tPath = new Path(nio.resolve("t").toUri.toString)
      assert(ours.getFileStatus(tPath).getPermission.getStickyBit)
      sameStatus(ours.getFileStatus(tPath), raw(new RawLocalFileSystem, stockConf).getFileStatus(tPath))

      // `chmod 0755` keeps a directory's set-group-id bit
      for (d <- Seq(nio, stock)) Files.createDirectory(d.resolve("g"))
      assert(new ProcessBuilder("chmod", "2775", nio.resolve("g").toString,
        stock.resolve("g").toString).inheritIO().start().waitFor() === 0)
      val rwx = new FsPermission(Integer.parseInt("755", 8).toShort)
      ours.setPermission(new Path(nio.resolve("g").toUri.toString), rwx)
      raw(new RawLocalFileSystem, stockConf).setPermission(new Path(stock.resolve("g").toUri.toString), rwx)
      assert((mode(nio.resolve("g")) & Integer.parseInt("2000", 8)) != 0)
      assert(mode(nio.resolve("g")) === mode(stock.resolve("g")))
    }
  }
}
