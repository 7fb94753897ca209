package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, ChecksumFs, CreateFlag, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import graft.sources.KinesisShapedSource
import graft.streaming.{KinesisRecord, Maintenance, Replicator}

/** The local filesystem pair of [[NioLocalFileSystem]] and [[NioLocalFs]]:
  * the session resolves `file:` to it through both Hadoop APIs; it
  * answers as Hadoop's stock `LocalFileSystem`/`LocalFs` do (permissions,
  * link status, rename, checksums); and the replicator's drain, a state
  * table write and compaction start no process through Hadoop's `Shell`.
  */
class NioLocalFsSpec extends SparkSpec {

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration
  private val root = URI.create("file:///")

  /** Hadoop's stock classes, built outside `FileSystem.CACHE`. */
  private def stockFs: LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(root, conf)
    fs
  }
  private def stockFc: FileContext = FileContext.getFileContext(root, new Configuration())

  /** Commands of the processes started through Hadoop's `Shell` while
    * `body` runs, from an in-process JFR recording of `jdk.ProcessStart`.
    */
  private def shellForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("forks", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  test("the session resolves file: to the java.nio pair through FileSystem.CACHE and FileContext") {
    val fs = FileSystem.get(root, conf)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(conf) eq fs)
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.getClass === classOf[NioLocalFs])
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.getClass === classOf[NioRawLocalFs])
  }

  test("created files and mkdirs directories get stock LocalFileSystem's permissions under the session umask") {
    val dir = tmpDir("nio_perm")
    val umask = FsPermission.getUMask(conf)
    def made(fs: FileSystem, side: String): Seq[String] = {
      val base = new Path(s"$dir/$side")
      fs.create(new Path(base, "f")).close()
      fs.mkdirs(new Path(base, "d/e"), FsPermission.getDirDefault.applyUMask(umask))
      fs.mkdirs(new Path(base, "m"), new FsPermission("751"))
      fs.create(new Path(base, "g")).close()
      fs.setPermission(new Path(base, "g"), new FsPermission("640"))
      Seq("f", ".f.crc", "d", "d/e", "m", "g", ".g.crc").map(n => n + " " +
        PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(s"$dir/$side/$n"))))
    }
    val stock = made(stockFs, "stock")
    assert(made(FileSystem.get(root, conf), "nio") === stock)
    assert(stock.take(2) === Seq("f", ".f.crc").map(n =>
      s"$n ${FsPermission.getFileDefault.applyUMask(umask)}"))
    assert(stock(5) === "g rw-r-----")
  }

  test("getFileLinkStatus answers as stock LocalFileSystem on files, directories, symlinks and missing paths") {
    val dir = tmpDir("nio_link")
    val file = Files.write(Paths.get(dir, "file"), "x".getBytes("UTF-8"))
    val sub = Files.createDirectory(Paths.get(dir, "dir"))
    val link = Files.createSymbolicLink(Paths.get(dir, "link"), file)
    val dangling = Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "gone"))
    val missing = Paths.get(dir, "missing")
    val (nio, stock) = (FileSystem.get(root, conf), stockFs)
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, if (s.isSymlink) Some(s.getSymlink) else None)
    def outcome(fs: FileSystem, p: Path) =
      Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    // plain and qualified (FileContext's form) paths alike
    for (x <- Seq(file, sub, link, dangling, missing); p <- Seq(new Path(x.toString), new Path(x.toUri)))
      assert(outcome(nio, p) === outcome(stock, p), p)

    val s = nio.getFileLinkStatus(new Path(link.toString))
    assert(s.isSymlink && s.getSymlink === stock.makeQualified(new Path(file.toString)))
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(!nio.getFileLinkStatus(new Path(sub.toString)).isSymlink)
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(missing.toString)))
  }

  test("FileContext.rename with OVERWRITE moves data and checksum as stock LocalFs does") {
    val dir = tmpDir("nio_rename")
    def renamed(fc: FileContext, side: String): (String, Seq[String]) = {
      def write(p: Path, s: String): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(s.getBytes("UTF-8")) finally out.close()
      }
      val (src, dst) = (new Path(s"$dir/$side/src"), new Path(s"$dir/$side/dst"))
      write(src, "new")
      write(dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst)
      val got = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (got, new java.io.File(s"$dir/$side").list().toSeq.sorted)
    }
    val nio = FileContext.getFileContext(conf)
    assert(nio.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val stock = renamed(stockFc, "stock")
    assert(renamed(nio, "nio") === stock)
    assert(stock === ("new", Seq(".dst.crc", "dst")))
  }

  test("a corrupted data byte still fails the read with ChecksumException through both APIs") {
    val dir = tmpDir("nio_crc")
    val p = new Path(s"$dir/data")
    val fs = FileSystem.get(root, conf)
    val out = fs.create(p)
    try out.write(Array.fill[Byte](1000)(7)) finally out.close()
    assert(Files.isRegularFile(Paths.get(dir, ".data.crc")))
    val raw = Paths.get(dir, "data")
    val bytes = Files.readAllBytes(raw)
    bytes(500) = 8
    Files.write(raw, bytes)
    intercept[ChecksumException] {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }
    // FileContext.open(path) skips verification on stock LocalFs too:
    // FilterFs sends it to the raw filesystem; open(path, bufferSize)
    // goes through ChecksumFs
    intercept[ChecksumException] {
      val in = FileContext.getFileContext(conf).open(p, 4096)
      try in.readAllBytes() finally in.close()
    }
  }

  test("fork lock: a replicator drain, an appendOnce write and a compaction start no process through Hadoop's Shell") {
    import spark.implicits._
    val dir = tmpDir("nio_forks")
    // the recording sees Shell's forks: a stock raw create runs chmod
    val stock = new RawLocalFileSystem()
    stock.initialize(root, new Configuration())
    val control = shellForks(stock.create(new Path(s"$dir/control")).close())
    assert(control.exists(_.startsWith("chmod")), control)

    val input = s"$dir/input"
    (1 to 40).map(i => KinesisRecord(
        s"""{"key": $i, "commitTimestamp": "2021-11-10T06:00:${f"$i%02d"}Z"}""".getBytes("UTF-8"),
        s"pk-$i", s"${1000 + i}", new Timestamp(i * 1000L), s"s-${i % 2}"))
      .toDF().repartition(2).write.parquet(input)
    val cfgDir = s"$dir/cfg"
    Seq(("s-0", "us-east-1"), ("s-1", "us-east-1")).toDF("streamName", "activeRegion")
      .write.parquet(cfgDir)
    val table = s"$dir/compact"
    (0 until 20).map(i => (i % 2, i.toLong)).toDF("p", "v").repartition(4)
      .write.partitionBy("p").parquet(table)

    val forks = shellForks {
      // one input file per batch: a two-batch drain, with its offset,
      // commit and source logs
      val q = Replicator.run(spark, KinesisShapedSource.fromParquetDir(spark, input, 1), cfgDir,
        "us-east-1", s"$dir/target", s"$dir/cp", s"$dir/metrics", s"$dir/scp", Trigger.AvailableNow())
      assert(q.awaitTermination(60000))
      Util.appendOnce(spark, s"$dir/state", 0L)(Seq(("x", 1L)).toDF("k", "n"))
      Maintenance.compact(spark, table, "p")
    }
    assert(forks.isEmpty, forks.mkString("\n"))

    assert(Seq(0, 1).forall(b => Files.isRegularFile(Paths.get(s"$dir/scp/commits/$b"))))
    assert(!Files.exists(Paths.get(s"$dir/scp/commits/2")))
    assert(spark.read.parquet(s"$dir/target").count() === 40)
    assert(Util.readBatched(spark, s"$dir/state").count() === 1)
    assert(spark.read.parquet(table).count() === 20)
  }
}
