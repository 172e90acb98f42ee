package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.sources.{AvroFrames, FrameCommitIo, FrameDv, FrameMaintenance, FrameStatsLedger}

/** Round-17 object-store portability pass (VERDICT r16 item 3): every
  * visibility-granting filesystem operation of the commit protocol —
  * mutex, publish, metadata swap, history retirement, snapshot link,
  * table rename — routes through [[FrameCommitIo.impl]]. These tests
  * swap the implementation and prove (a) each primitive is actually
  * exercised by the operations that conceptually need it, and (b) the
  * indirection is load-bearing: a failing impl fails the commit, so no
  * hidden direct-rename path can bypass a future object-store impl.
  */
class CommitIoSpec extends AnyFunSuite with SparkFixture {

  /** Pass-through impl that counts each primitive and logs each call
    * as (primitive, target file) — [[Counting.take]] renders the log as
    * `primitive:role` lines.
    */
  private class Counting extends FrameCommitIo {
    val locks, publishes, swaps, moves, links, renames = new AtomicLong(0)
    private val d = FrameCommitIo.Local
    private val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, java.io.File)]()
    private def note(p: String, f: java.io.File): Unit = log.add(p -> f)
    override def tryLock(l: java.io.File) =
      { locks.incrementAndGet(); note("tryLock", l); d.tryLock(l) }
    override def unlock(l: java.io.File) = { note("unlock", l); d.unlock(l) }
    override def publish(t: java.io.File, f: java.io.File) =
      { publishes.incrementAndGet(); note("publish", f); d.publish(t, f) }
    override def swap(t: java.io.File, f: java.io.File) =
      { swaps.incrementAndGet(); note("swap", f); d.swap(t, f) }
    override def move(s: java.io.File, f: java.io.File, r: Boolean) =
      { moves.incrementAndGet(); note("move", f); d.move(s, f, r) }
    override def link(s: java.io.File, f: java.io.File) =
      { links.incrementAndGet(); note("link", f); d.link(s, f) }
    override def renameDir(s: java.io.File, f: java.io.File) =
      { renames.incrementAndGet(); note("renameDir", f); d.renameDir(s, f) }

    /** The calls logged since the last take whose target lies under
      * `dir`, as `primitive:role` — the role of the target is one of
      * segment, vector, sidecar, manifest, ledger, history or lock (an
      * unexpected target shows its file name) — then clear the log.
      */
    def take(dir: java.io.File): Seq[String] = {
      val prefix = dir.getAbsolutePath + java.io.File.separator
      val out = log.asScala.toVector.collect {
        case (p, f) if f.getAbsolutePath.startsWith(prefix) => s"$p:${role(f)}"
      }
      log.clear()
      out
    }
  }

  private def role(f: java.io.File): String = {
    val n = f.getName
    val parent = f.getParentFile.getName
    if (parent == FrameMaintenance.HistoryDirName) "history"
    else if (n == FrameMaintenance.LockFile) "lock"
    else if (n == FrameMaintenance.ManifestFile) "manifest"
    else if (n.startsWith("_stats.ledger") || parent == FrameStatsLedger.ShardDirName) "ledger"
    else if (n.endsWith(".stats")) "sidecar"
    else if (FrameDv.isDvName(n) || n.startsWith(".dvtmp-")) "vector"
    else if (n.startsWith("segment-")) "segment"
    else n
  }

  test("the full lifecycle exercises exactly the five primitives, through the interface") {
    val base = Files.createTempDirectory("commitio").toString
    val cat = "cio"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    val io = new Counting
    FrameCommitIo.impl = io
    try {
      spark.sql(s"CREATE NAMESPACE $cat.corpus")
      spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, v DOUBLE NOT NULL)")
      spark.range(0, 200).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .repartition(4).createOrReplaceTempView("cio_src")
      spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cio_src")
      assert(io.publishes.get() >= 4, "append commit must publish through the interface")
      assert(io.swaps.get() >= 1, "the ledger fold must swap through the interface")

      // maintenance: lock + retire(move) + publish + manifest swap
      val (p0, m0, l0) = (io.publishes.get(), io.moves.get(), io.locks.get())
      spark.sql(s"CALL $cat.corpus.compact(table => 'corpus.t')").collect()
      assert(io.locks.get() > l0, "compaction must take the table mutex")
      assert(io.moves.get() > m0, "compaction must retire originals via move")
      assert(io.publishes.get() > p0, "compaction must publish its bin")

      // row-level delete: metadata-only retire + manifest swap
      val m1 = io.moves.get()
      spark.sql(s"DELETE FROM $cat.corpus.t WHERE id >= 0")
      assert(io.moves.get() > m1, "whole-table delete must retire via move")

      // clone: zero-copy link
      spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cio_src")
      spark.sql(s"CALL $cat.corpus.clone(table => 'corpus.t', target => 'corpus.fork')")
        .collect()
      assert(io.links.get() >= 1, "clone must link through the interface")
      assert(spark.sql(s"SELECT count(*) FROM $cat.corpus.fork")
        .collect()(0).getLong(0) == 200L)

      // table rename
      spark.sql(s"ALTER TABLE $cat.corpus.fork RENAME TO corpus.fork2")
      assert(io.renames.get() >= 1, "RENAME must go through renameDir")
      assert(spark.sql(s"SELECT count(*) FROM $cat.corpus.fork2")
        .collect()(0).getLong(0) == 200L)

      // and the table still reads exactly
      assert(spark.sql(s"SELECT sum(id) FROM $cat.corpus.t").collect()(0).getLong(0)
        == (0L until 200L).sum)
    } finally FrameCommitIo.impl = FrameCommitIo.Local
  }

  test("the indirection is load-bearing: a refusing impl fails the commit") {
    val dir = Files.createTempDirectory("commitio-fail").toString
    val schema = graft.sources.AvroFrames.avroSchemaFor(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false))), "t")
    def append(): Unit =
      spark.range(0, 10).toDF("id").coalesce(1)
        .write.format("graft.sources.AvroFrameDataSource")
        .option("path", dir).option("avroSchema", schema).mode("append").save()
    FrameCommitIo.impl = new FrameCommitIo {
      private val d = FrameCommitIo.Local
      override def tryLock(l: java.io.File) = d.tryLock(l)
      override def unlock(l: java.io.File) = d.unlock(l)
      override def publish(t: java.io.File, f: java.io.File) = false // refuse
      override def swap(t: java.io.File, f: java.io.File) = d.swap(t, f)
      override def move(s: java.io.File, f: java.io.File, r: Boolean) = d.move(s, f, r)
      override def link(s: java.io.File, f: java.io.File) = d.link(s, f)
      override def renameDir(s: java.io.File, f: java.io.File) = d.renameDir(s, f)
    }
    try {
      val e = intercept[Exception] { append() }
      assert(e.getMessage != null)
    } finally FrameCommitIo.impl = FrameCommitIo.Local
    // no half-visible state: the refused commit published nothing
    assert(graft.sources.AvroFrames.listSegments(dir).isEmpty,
      "a refused publish must leave zero visible segments")
    // and with the real impl the same append succeeds
    append()
    assert(spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", schema).load().count() == 10L)
  }

  /** The commit sequence of every maintenance path, pinned call by call
    * — the enumeration a fault-after-the-k-th-call matrix iterates
    * over. Ledger folds append to the delta log outside the seam, so
    * on an already-ledgered table no `ledger` call shows.
    */
  test("each maintenance path's commit sequence, primitive by primitive") {
    val base = Files.createTempDirectory("commitio-seq").toFile
    val cat = "cioseq"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base.getAbsolutePath)
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    val schemaJson = AvroFrames.avroSchemaFor(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType, nullable = false))), "t")
    val sid = AvroFrames.DefaultSchemaId
    // three single-segment appends: ids 0-9, 10-19, 20-29
    def pathTable(tag: String): java.io.File = {
      val dir = new java.io.File(base, tag)
      dir.mkdirs()
      (0 until 3).foreach { k =>
        spark.range(k * 10, k * 10 + 10).coalesce(1)
          .selectExpr("id", "CAST(id AS DOUBLE) AS v")
          .write.format("graft.sources.AvroFrameDataSource")
          .option("path", dir.getAbsolutePath).option("avroSchema", schemaJson)
          .mode("append").save()
      }
      dir
    }
    def catalogTable(name: String, props: String): java.io.File = {
      spark.sql(s"""CREATE TABLE $cat.corpus.$name (id BIGINT NOT NULL, v DOUBLE NOT NULL)
        $props""")
      (0 until 3).foreach { k =>
        spark.range(k * 10, k * 10 + 10).coalesce(1)
          .selectExpr("id", "CAST(id AS DOUBLE) AS v")
          .createOrReplaceTempView(s"cioseq_src_$k")
        spark.sql(s"INSERT INTO $cat.corpus.$name SELECT * FROM cioseq_src_$k")
      }
      new java.io.File(base, s"corpus/$name")
    }
    def locked(calls: String*): Seq[String] = ("tryLock:lock" +: calls) :+ "unlock:lock"
    val retireSeg = Seq("move:history", "move:history") // segment, then its sidecar
    val ge15 = Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 15L))
    val io = new Counting
    FrameCommitIo.impl = io
    try {
      // compact: retire the bin's inputs, then land the merged segment
      val c = pathTable("compact")
      io.take(c)
      FrameMaintenance.compact(spark, c)
      assert(io.take(c) == locked(
        retireSeg ++ retireSeg ++ retireSeg ++
          Seq("swap:sidecar", "publish:segment", "swap:manifest"): _*))

      // rewrite_clustered: the scratch write commits like an append;
      // the publish lands the new layout first, then retires the old
      val z = pathTable("zorder")
      io.take(z)
      FrameMaintenance.rewriteClustered(spark, z, schemaJson, sid, Seq("id"), 2)
      assert(io.take(z) == Seq(
        "swap:sidecar", "publish:segment", "swap:sidecar", "publish:segment",
        "tryLock:lock", "swap:ledger", "unlock:lock") ++ locked(
        Seq("move:sidecar", "publish:segment", "move:sidecar", "publish:segment") ++
          retireSeg ++ retireSeg ++ retireSeg :+ "swap:manifest": _*))

      // copy-on-write delete: the all-match segment (20-29) retires
      // metadata-only, the straddler (10-19) retires and its rewrite lands
      val w = pathTable("cow")
      io.take(w)
      FrameMaintenance.deleteWhere(spark, w, schemaJson, sid, ge15)
      assert(io.take(w) == locked(
        retireSeg ++ retireSeg ++
          Seq("swap:sidecar", "publish:segment", "swap:manifest"): _*))

      // merge-on-read delete over a prior vector: the executor writes
      // the cumulative vector temp; the publish retires the all-match
      // segment with its vector, lands the new vector, retires the old
      val m = pathTable("mor")
      FrameMaintenance.deleteWhereMoR(spark, m, schemaJson, sid,
        Array(org.apache.spark.sql.sources.In("id", Array(Long.box(11L), Long.box(21L)))),
        foldThreshold = 2.0)
      io.take(m)
      FrameMaintenance.deleteWhereMoR(spark, m, schemaJson, sid, ge15, foldThreshold = 2.0)
      assert(io.take(m) == "swap:vector" +: locked(
        Seq("move:history") ++ retireSeg ++
          Seq("publish:vector", "move:history", "swap:manifest"): _*))

      // truncate: every segment retires, a vectored one with its vector
      val t = pathTable("truncate")
      FrameMaintenance.deleteWhereMoR(spark, t, schemaJson, sid,
        Array(org.apache.spark.sql.sources.EqualTo("id", 3L)), foldThreshold = 2.0)
      io.take(t)
      FrameMaintenance.deleteAll(t)
      assert(io.take(t) == locked(
        Seq("move:history") ++ retireSeg ++ retireSeg ++ retireSeg :+ "swap:manifest": _*))

      // drop_partitions: the two oldest days retire, one delete entry
      spark.sql(s"""CREATE TABLE $cat.corpus.days (
        id BIGINT NOT NULL, ts_us BIGINT NOT NULL, v DOUBLE NOT NULL)
        PARTITIONED BY (days(ts_us))""")
      spark.range(0, 40).coalesce(1)
        .selectExpr("id", s"id % 4 * ${86400000000L} + id AS ts_us", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("cioseq_days")
      spark.sql(s"INSERT INTO $cat.corpus.days SELECT * FROM cioseq_days")
      val p = new java.io.File(base, "corpus/days")
      io.take(p)
      FrameMaintenance.dropPartitions(p, 2L)
      assert(io.take(p) == locked(retireSeg ++ retireSeg :+ "swap:manifest": _*))

      // UPDATE on a copy-on-write table: the group retires as one
      // delete, then the rewritten rows publish as an ordinary append
      val g = catalogTable("grp", "")
      io.take(g)
      spark.sql(s"UPDATE $cat.corpus.grp SET v = v * 10 WHERE id = 12")
      assert(io.take(g) == locked(retireSeg :+ "swap:manifest": _*) ++
        Seq("swap:sidecar", "publish:segment", "tryLock:lock", "unlock:lock"))

      // delta UPDATE on a merge-on-read table: one vector per touched
      // segment, the new rows as appends, one dv entry
      val d = catalogTable("delta",
        "TBLPROPERTIES ('deleteMode'='merge-on-read', 'dvFoldThreshold'='2.0')")
      io.take(d)
      spark.sql(s"UPDATE $cat.corpus.delta SET v = v * 100 WHERE id IN (5, 15)")
      val deltaSeq = io.take(d)
      val inserts = deltaSeq.count(_ == "publish:segment")
      assert(inserts >= 1 && deltaSeq == locked(
        Seq("swap:vector", "swap:vector") ++
          Seq.fill(inserts)(Seq("swap:sidecar", "publish:segment")).flatten :+
          "swap:manifest": _*))

      // rollback: restore first (segment, sidecar), then retire the
      // rewrite; expire rewrites the manifest alone
      val r = pathTable("rollback")
      FrameMaintenance.deleteWhere(spark, r, schemaJson, sid,
        Array(org.apache.spark.sql.sources.EqualTo("id", 12L)))
      io.take(r)
      FrameMaintenance.rollback(r, 3)
      assert(io.take(r) == locked(
        "move:segment", "move:sidecar", "move:history", "move:history", "swap:manifest"))
      FrameMaintenance.expire(r, Long.MaxValue)
      assert(io.take(r) == locked("swap:manifest"))
    } finally FrameCommitIo.impl = FrameCommitIo.Local
  }
}
