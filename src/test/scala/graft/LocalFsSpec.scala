package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FsConstants,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{LocalFs, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.{Pipeline, RecordStream, WindowTopK}

/** The fork-free `file:` binding ([[graft.fs.LocalFs]]) against
  * Hadoop's `RawLocalFileSystem` / `LocalFs` on the same paths: status
  * and link status field by field, permission changes, `.crc`
  * sidecars and rename semantics; then the process starts a RocksDB
  * stream makes under each binding, recorded with JFR.
  */
class LocalFsSpec extends AnyFunSuite with SparkFixture {

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def context(binding: String): FileContext = {
    val conf = new Configuration()
    conf.set(LocalFs.Key, binding)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }

  private val nioBinding = classOf[NioLocalFs].getName

  /** The compared fields of a status, or the FileNotFoundException. */
  private def fields(status: => FileStatus): Either[String, Seq[Any]] =
    try {
      val s = status
      Right(Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getPermission.toShort,
        s.getPermission.getStickyBit, s.getOwner, s.getGroup, s.getModificationTime,
        s.getReplication, s.getBlockSize, if (s.isSymlink) s.getSymlink else null))
    } catch { case _: FileNotFoundException => Left("FileNotFoundException") }

  /** A regular file, a directory, a sticky-bit directory, a live and a
    * dangling symlink, and a missing path.
    */
  private def layout(): Map[String, NioPath] = {
    val base = Files.createTempDirectory("localfs-parity")
    val file = Files.write(base.resolve("file"), "0123456789".getBytes(StandardCharsets.UTF_8))
    val dir = Files.createDirectory(base.resolve("dir"))
    val sticky = Files.createDirectory(base.resolve("sticky"))
    Files.setAttribute(sticky, "unix:mode", Int.box(oct("1777")))
    val live = Files.createSymbolicLink(base.resolve("live"), file)
    val dangling = Files.createSymbolicLink(base.resolve("dangling"), base.resolve("gone"))
    Map("file" -> file, "dir" -> dir, "sticky" -> sticky, "live" -> live, "dangling" -> dangling,
      "missing" -> base.resolve("missing"))
  }

  test("status and link status equal Hadoop's field by field, on plain paths, file: URIs and FileContext") {
    val paths = layout()
    val hadoop = raw(new RawLocalFileSystem)
    val graft = raw(new NioRawLocalFileSystem)
    val (hadoopFc, graftFc) = (context(LocalFs.HadoopLocalFs), context(nioBinding))
    assert(graftFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    for ((name, p) <- paths; path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      def same(call: String, h: => FileStatus, g: => FileStatus): Unit = {
        val (hs, gs) = (fields(h), fields(g))
        assert(gs == hs, s"$call($path) of $name")
        if (name == "missing" || (name == "dangling" && call.endsWith("getFileStatus")))
          assert(hs == Left("FileNotFoundException"), s"$call($path) of $name")
      }
      same("raw getFileStatus", hadoop.getFileStatus(path), graft.getFileStatus(path))
      same("raw getFileLinkStatus", hadoop.getFileLinkStatus(path), graft.getFileLinkStatus(path))
      same("FileContext getFileStatus", hadoopFc.getFileStatus(path), graftFc.getFileStatus(path))
      same("FileContext getFileLinkStatus", hadoopFc.getFileLinkStatus(path), graftFc.getFileLinkStatus(path))
    }
    // the cases exercise what they name
    val plain = (n: String) => new Path(paths(n).toString)
    assert(graft.getFileStatus(plain("sticky")).getPermission.getStickyBit)
    assert(graft.getFileLinkStatus(plain("live")).isSymlink)
    assert(graft.getFileLinkStatus(plain("dangling")).isSymlink)
    assert(graft.getLinkTarget(plain("live")) == hadoop.getLinkTarget(plain("live")))
    assert(graft.getFileStatus(plain("file")).getLen == 10)
  }

  test("setPermission leaves the mode bits chmod leaves, sticky and setuid/setgid included") {
    val cases = Seq( // (directory?, mode before, permission set)
      (false, "644", "600"), (false, "4755", "644"), (false, "644", "1755"),
      (true, "755", "700"), (true, "2755", "750"), (true, "755", "1777"))
    val hadoop = raw(new RawLocalFileSystem)
    val graft = raw(new NioRawLocalFileSystem)
    for ((isDir, before, perm) <- cases) {
      val twins = Seq(hadoop, graft).map { fs =>
        val base = Files.createTempDirectory("localfs-chmod")
        val p = if (isDir) Files.createDirectory(base.resolve("x")) else Files.write(base.resolve("x"), Array[Byte](1))
        Files.setAttribute(p, "unix:mode", Int.box(oct(before)))
        fs.setPermission(new Path(p.toString), new FsPermission(oct(perm).toShort))
        mode(p)
      }
      assert(twins(1) == twins(0), s"dir=$isDir $before -> $perm: hadoop ${twins(0).toOctalString}")
    }
    intercept[java.io.IOException](graft.setPermission(new Path("/nonexistent/localfs-spec"),
      new FsPermission(oct("644").toShort)))
  }

  test("FileContext create + rename writes byte-identical data and .crc sidecars; a rename onto a file fails") {
    val data = Array.tabulate[Byte](2000)(i => (i * 31 % 251).toByte) // four 512-byte checksum chunks
    def epoch(fc: FileContext): NioPath = {
      val dir = Files.createTempDirectory("localfs-crc")
      val tmp = new Path(dir.resolve(".0.tmp").toUri)
      val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(data) finally out.close()
      fc.rename(tmp, new Path(dir.resolve("0").toUri), Options.Rename.NONE)
      dir
    }
    val (hadoopFc, graftFc) = (context(LocalFs.HadoopLocalFs), context(nioBinding))
    val (h, g) = (epoch(hadoopFc), epoch(graftFc))
    def listing(d: NioPath) = Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    assert(listing(h) == Seq(".0.crc", "0") && listing(g) == listing(h))
    for (n <- listing(h))
      assert(Files.readAllBytes(g.resolve(n)).sameElements(Files.readAllBytes(h.resolve(n))), n)
    // each binding reads (and verifies) what the other wrote
    for ((fc, d) <- Seq(hadoopFc -> g, graftFc -> h)) {
      val in = fc.open(new Path(d.resolve("0").toUri))
      try assert(in.readAllBytes().sameElements(data)) finally in.close()
    }
    for ((fc, d) <- Seq(hadoopFc -> h, graftFc -> g)) {
      Files.write(d.resolve("1"), Array[Byte](7))
      intercept[FileAlreadyExistsException](
        fc.rename(new Path(d.resolve("0").toUri), new Path(d.resolve("1").toUri), Options.Rename.NONE))
      assert(Files.readAllBytes(d.resolve("1")).sameElements(Array[Byte](7)))
      fc.rename(new Path(d.resolve("0").toUri), new Path(d.resolve("1").toUri), Options.Rename.OVERWRITE)
      assert(listing(d) == Seq(".1.crc", "1"))
    }
  }

  test("install binds file: once, and leaves a binding set in the session or the Hadoop conf alone") {
    val fresh = spark.newSession()
    LocalFs.install(fresh)
    assert(fresh.conf.get(LocalFs.Key) == nioBinding)
    LocalFs.install(fresh)
    assert(fresh.conf.get(LocalFs.Key) == nioBinding)
    assert(fresh.sessionState.newHadoopConf().get(LocalFs.Key) == nioBinding)

    for (explicit <- Seq(LocalFs.HadoopLocalFs, "com.example.OperatorFs")) {
      val s = spark.newSession()
      s.conf.set(LocalFs.Key, explicit)
      LocalFs.install(s)
      assert(s.conf.get(LocalFs.Key) == explicit)
    }

    // set in the Hadoop conf (as `spark.hadoop.*` does), Hadoop's own class included
    val shared = spark.sparkContext.hadoopConfiguration
    val (value, source) = (shared.get(LocalFs.Key), shared.getPropertySources(LocalFs.Key).last)
    shared.set(LocalFs.Key, LocalFs.HadoopLocalFs)
    try {
      val s = spark.newSession()
      LocalFs.install(s)
      assert(s.conf.getOption(LocalFs.Key).isEmpty)
    } finally shared.set(LocalFs.Key, value, source) // back to the default, source included
  }

  /** The process starts with `org.apache.hadoop.util.Shell` on their
    * stack while `body` runs: each one's command and stack frames.
    */
  private def shellStarts(body: => Unit): Seq[(String, Seq[String])] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("localfs-forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.flatMap { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
        if (frames.exists(_.startsWith("org.apache.hadoop.util.Shell."))) Some(e.getString("command") -> frames)
        else None
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private var streams = 0

  /** A 3-batch WindowTopK stream from JSON files into a frame table,
    * on RocksDB, with `binding` pinned in the session (None: the one
    * `jsonDirSource` installs).
    */
  private def topKStream(binding: Option[String]): Unit = withRocksDb {
    streams += 1
    val cat = s"localfs_$streams"
    val src = Files.createTempDirectory("localfs-src")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", Files.createTempDirectory("localfs-frames").toString)
    spark.sql(s"CREATE NAMESPACE $cat.s")
    spark.sql(s"""CREATE TABLE $cat.s.topk (user_id BIGINT, event_id BIGINT, ts_us BIGINT,
      value DOUBLE, rank_at_admission INT, topk_size INT)""")
    for (k <- 0 until 3) {
      val lines = (0 until 20).map { j =>
        val id = k * 20 + j
        val v = s"""{"user_id":${id % 5},"event_id":$id,"ts":"2024-01-01T00:00:${"%02d".format(k)}Z","value":${id * 7 % 13}.5}"""
        s"""{"key":"${id % 5}","value":"${v.replace("\"", "\\\"")}","topic":"t","partition":0,"offset":$id,"timestamp":"2024-01-01T00:00:00Z"}"""
      }
      Files.write(src.resolve(s"part-$k.json"), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    val prev = spark.conf.getOption(LocalFs.Key)
    binding.fold(spark.conf.unset(LocalFs.Key))(spark.conf.set(LocalFs.Key, _))
    try {
      val events = RecordStream.parseValues(RecordStream.jsonDirSource(spark, src.toString, maxFilesPerTrigger = 1),
          StructType.fromDDL(Pipeline.topkSchemaDdl))
        .withWatermark("ts", "0 seconds")
        .as[WindowTopK.ValuedEvent](Encoders.product)
      assert(spark.conf.get(LocalFs.Key) == binding.getOrElse(nioBinding))
      val q = WindowTopK.admitted(events, 3, 10000L).toDF()
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"),
          col("rank_at_admission"), col("topk_size"))
        .writeStream
        .option("checkpointLocation", Files.createTempDirectory("localfs-ck").toString)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.s.topk")
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      assert(spark.table(s"$cat.s.topk").count() > 0)
    } finally prev.fold(spark.conf.unset(LocalFs.Key))(spark.conf.set(LocalFs.Key, _))
  }

  test("a RocksDB stream into a frame table starts no Hadoop shell process once the binding is installed") {
    assume(LocalFs.nio, "the platform has no unix attribute view")
    // RocksDB's SST upload copies through the JVM's cached FileSystem,
    // which a FileContext binding does not reach: its chmods are not
    // counted (`fs.file.impl` is left to the operator). Under changelog
    // checkpointing the upload still runs once per partition, for the
    // snapshot the first commit forces after transformWithState creates
    // its column families
    def counted(forks: Seq[(String, Seq[String])]) =
      forks.filterNot(_._2.exists(_.endsWith("RocksDBFileManager.saveImmutableFilesToDfs")))
    val hadoop = counted(shellStarts(topKStream(Some(LocalFs.HadoopLocalFs))))
    assert(hadoop.nonEmpty, "Hadoop's LocalFs forked no shell process, so this test shows nothing")
    assert(hadoop.exists(_._2.exists(_.startsWith("org.apache.hadoop.fs.FileContext."))))
    val graft = counted(shellStarts(topKStream(None)))
    assert(graft.isEmpty, graft.map { case (cmd, frames) => s"$cmd\n  " + frames.take(40).mkString("\n  ") }
      .mkString("\n"))
  }
}
