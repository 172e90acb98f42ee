package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroFrames, FrameCommitIo, FrameMaintenance}

/** Optimistic concurrency for maintenance commits (round 15, VERDICT
  * r14 item 3): classification and executor I/O run lock-free; the
  * publish (retires + renames + manifest write) runs under a
  * filesystem mutex with CAS validation on the manifest length. A
  * maintainer that lost the race re-classifies against the winner's
  * state and retries — no lost segments, no interleaved retires, reads
  * consistent at every version.
  */
class FrameCommitSpec extends AnyFunSuite with SparkFixture {

  private def freshCatalog(tag: String): (String, String) = {
    val base = Files.createTempDirectory(s"frame-cas-$tag").toString
    val cat = s"fcas_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    (cat, base)
  }

  private def build(cat: String, n: Int = 4): String = {
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, v DOUBLE NOT NULL)")
    (0 until n).foreach { k =>
      spark.range(k * 10, k * 10 + 10).coalesce(1)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView(s"cas_src_${cat}_$k")
      spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cas_src_${cat}_$k")
    }
    spark.conf.get(s"spark.sql.catalog.$cat.base") + "/corpus/t"
  }

  private def ids(cat: String): Seq[Long] =
    spark.sql(s"SELECT id FROM $cat.corpus.t").collect().map(_.getLong(0)).sorted.toSeq

  test("compactor racing a delete re-classifies and commits; nothing lost") {
    val (cat, _) = freshCatalog("race")
    val dir = new java.io.File(build(cat))

    // interleave: between the compactor's classification/IO and its
    // publish, a DELETE commits a manifest entry — the compactor's
    // expected length is stale, so its first publish MUST conflict
    var fired = false
    FrameMaintenance.beforePublishHook = d => {
      if (!fired && d.getAbsolutePath == dir.getAbsolutePath) {
        fired = true // clear BEFORE the nested op (it publishes too)
        spark.sql(s"DELETE FROM $cat.corpus.t WHERE id >= 35")
      }
    }
    try {
      val res = FrameMaintenance.compact(spark, dir)
      assert(fired, "the race hook must have fired")
      assert(res.bins >= 1, s"retry must still compact: $res")
    } finally FrameMaintenance.beforePublishHook = _ => ()

    // consistency: the delete applied exactly once, compaction lost no
    // rows, versions = 4 appends + 1 delete, manifest replays cleanly
    assert(ids(cat) == (0L until 35L))
    assert(FrameMaintenance.totalVersions(dir) == 5)
    (1 to 5).foreach { v =>
      val got = spark.sql(s"SELECT count(*) FROM $cat.corpus.t VERSION AS OF $v")
        .collect()(0).getLong(0)
      assert(got == (if (v <= 4) v * 10L else 35L), s"version $v row count $got")
    }
  }

  test("concurrent appenders + compactor + reader: no lost segments, consistent reads") {
    val (cat, _) = freshCatalog("mt")
    val dir = new java.io.File(build(cat, 2))

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      try (0 until 6).foreach { k =>
        spark.range(100 + k * 10, 100 + k * 10 + 10).coalesce(1)
          .selectExpr("id", "CAST(id AS DOUBLE) AS v")
          .createOrReplaceTempView(s"cas_mt_src_$k")
        spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cas_mt_src_$k")
      } catch { case t: Throwable => errors.add(t) }
    })
    val compactor = new Thread(() => {
      try (0 until 4).foreach { _ =>
        FrameMaintenance.compact(spark, dir)
        Thread.sleep(5)
      } catch { case t: Throwable => errors.add(t) }
    })
    val reader = new Thread(() => {
      try (0 until 10).foreach { _ =>
        // every concurrent read sees SOME consistent multiset: ids are
        // unique at all times, counts monotone within [20, 80]
        val got = spark.sql(s"SELECT id FROM $cat.corpus.t").collect().map(_.getLong(0))
        assert(got.distinct.length == got.length, "reader saw duplicated rows")
        Thread.sleep(3)
      } catch { case t: Throwable => errors.add(t) }
    })
    appender.start(); compactor.start(); reader.start()
    appender.join(120000); compactor.join(120000); reader.join(120000)
    assert(errors.isEmpty, s"concurrent maintenance failed: ${errors.peek()}")

    // final state: every appended row present exactly once
    assert(ids(cat) == ((0L until 20L) ++ (100L until 160L)))
    // 8 appends total, no deletes
    assert(FrameMaintenance.totalVersions(dir) == 8)
    // a final compact still works and the lock file is gone
    FrameMaintenance.compact(spark, dir)
    assert(ids(cat) == ((0L until 20L) ++ (100L until 160L)))
    assert(!new java.io.File(dir, FrameMaintenance.LockFile).isFile)
    // the stats ledger survived the melee in lockstep (round 16): every
    // live segment ledgered, every entry mirroring its sidecar — the
    // dir-lock serialization of folds is what this asserts
    val led = graft.sources.FrameStatsLedger.read(dir).get
    val live = graft.sources.AvroFrames.listSegments(dir.getAbsolutePath)
    assert(led.keySet == live.map(_.getName).toSet,
      s"ledger must cover exactly the live set after concurrent commits")
    live.foreach { f =>
      val (frames, fields, _) = graft.sources.AvroFrameStats.readFull(f).get
      assert(led(f.getName).frames == frames && led(f.getName).fields == fields)
    }
  }

  test("stale lock from a crashed maintainer is broken, not waited on forever") {
    val (cat, _) = freshCatalog("stale")
    val dir = new java.io.File(build(cat, 2))
    val lock = new java.io.File(dir, FrameMaintenance.LockFile)
    assert(lock.createNewFile())
    // age it past the staleness horizon
    java.nio.file.Files.setLastModifiedTime(lock.toPath,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 11 * 60 * 1000L))
    val res = FrameMaintenance.compact(spark, dir)
    assert(res.bins == 1 && !lock.isFile)
    assert(ids(cat) == (0L until 20L))
  }

  test("remove_orphans sweeps aged crashed-writer temps, spares fresh ones and live data") {
    val (cat, base) = freshCatalog("orph")
    val dirS = build(cat, 2)
    val dir = new java.io.File(dirS)

    // simulate a crashed writer + maintainer: aged temps and scratch
    val old = System.currentTimeMillis() - 3600 * 1000L
    def plant(name: String, aged: Boolean, dirEntry: Boolean = false): java.io.File = {
      val f = new java.io.File(dir, name)
      if (dirEntry) { f.mkdirs()
        java.nio.file.Files.writeString(new java.io.File(f, "part").toPath, "x")
      } else java.nio.file.Files.writeString(f.toPath, "junk")
      if (aged) {
        if (dirEntry) java.nio.file.Files.setLastModifiedTime(
          new java.io.File(f, "part").toPath,
          java.nio.file.attribute.FileTime.fromMillis(old))
        java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(old))
      }
      f
    }
    val agedTmp = plant(".inprogress-dead-p00000-t1", aged = true)
    val agedScr = plant(".clustering-g0001", aged = true, dirEntry = true)
    val agedSwp = plant("._maintenance.json.tmp", aged = true)
    val fresh   = plant(".inprogress-live-p00000-t2", aged = false)

    val before = ids(cat)
    val removed = spark.sql(
      s"CALL $cat.corpus.remove_orphans(table => 'corpus.t')").collect()(0).getInt(0)
    assert(removed == 4, s"expected 4 files removed (temp + scratch dir + part + swap), got $removed")
    assert(!agedTmp.exists && !agedScr.exists && !agedSwp.exists)
    assert(fresh.exists, "a fresh temp (possibly a live writer) must survive")
    assert(ids(cat) == before, "live data untouched")
    assert(FrameMaintenance.totalVersions(dir) == 2, "no version minted")
    fresh.delete()
  }

  test("a metadata swap that never happens leaves a temp remove_orphans sweeps") {
    val (cat, _) = freshCatalog("swaptmp")
    val dir = new java.io.File(build(cat, 1))
    // crash between writing the new descriptor and swapping it in
    FrameCommitIo.impl = new FrameCommitIo {
      private val d = FrameCommitIo.Local
      override def tryLock(l: java.io.File) = d.tryLock(l)
      override def unlock(l: java.io.File) = d.unlock(l)
      override def publish(t: java.io.File, f: java.io.File) = d.publish(t, f)
      override def swap(t: java.io.File, f: java.io.File): Unit =
        throw new java.io.IOException(s"crash before swapping ${f.getName}")
      override def move(s: java.io.File, f: java.io.File, r: Boolean) = d.move(s, f, r)
      override def link(s: java.io.File, f: java.io.File) = d.link(s, f)
      override def renameDir(s: java.io.File, f: java.io.File) = d.renameDir(s, f)
    }
    try intercept[Exception] { spark.sql(s"ALTER TABLE $cat.corpus.t ADD COLUMNS (tag STRING)") }
    finally FrameCommitIo.impl = FrameCommitIo.Local

    val temps = dir.listFiles().filter(_.getName.endsWith(".tmp"))
    assert(temps.nonEmpty, "the interrupted swap must leave its temp behind")
    val old = System.currentTimeMillis() - 3600 * 1000L
    temps.foreach(t => java.nio.file.Files.setLastModifiedTime(t.toPath,
      java.nio.file.attribute.FileTime.fromMillis(old)))
    spark.sql(s"CALL $cat.corpus.remove_orphans(table => 'corpus.t')").collect()
    val left = dir.listFiles().map(_.getName).filter(_.endsWith(".tmp"))
    assert(left.isEmpty, s"remove_orphans left swap temps behind: ${left.mkString(", ")}")
    assert(spark.table(s"$cat.corpus.t").columns.toSeq == Seq("id", "v"),
      "the descriptor keeps its pre-ALTER schema")
    assert(ids(cat) == (0L until 10L))
  }

  test("a sidecar swap that never happens publishes no segment and leaves a temp remove_orphans sweeps") {
    val (cat, _) = freshCatalog("sidecartmp")
    val dir = new java.io.File(build(cat, 1))
    val before = dir.list().toSet
    spark.range(100, 110).coalesce(1).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("sidecar_tmp_src")
    // crash between writing a new segment's sidecar and swapping it in
    FrameCommitIo.impl = new FrameCommitIo {
      private val d = FrameCommitIo.Local
      override def tryLock(l: java.io.File) = d.tryLock(l)
      override def unlock(l: java.io.File) = d.unlock(l)
      override def publish(t: java.io.File, f: java.io.File) = d.publish(t, f)
      override def swap(t: java.io.File, f: java.io.File): Unit =
        throw new java.io.IOException(s"crash before swapping ${f.getName}")
      override def move(s: java.io.File, f: java.io.File, r: Boolean) = d.move(s, f, r)
      override def link(s: java.io.File, f: java.io.File) = d.link(s, f)
      override def renameDir(s: java.io.File, f: java.io.File) = d.renameDir(s, f)
    }
    try intercept[Exception] { spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM sidecar_tmp_src") }
    finally FrameCommitIo.impl = FrameCommitIo.Local

    val added = dir.list().toSet -- before
    assert(added.forall(_.startsWith(".")),
      s"no segment or sidecar may become visible: ${added.mkString(", ")}")
    val temps = dir.listFiles().filter(_.getName.endsWith(".stats.tmp"))
    assert(temps.nonEmpty, "the interrupted sidecar swap must leave its temp behind")
    assert(ids(cat) == (0L until 10L))
    val old = System.currentTimeMillis() - 3600 * 1000L
    dir.listFiles().filter(f => added(f.getName)).foreach(t => java.nio.file.Files.setLastModifiedTime(
      t.toPath, java.nio.file.attribute.FileTime.fromMillis(old)))
    spark.sql(s"CALL $cat.corpus.remove_orphans(table => 'corpus.t')").collect()
    val left = dir.list().toSet -- before
    assert(left.isEmpty, s"remove_orphans left temps behind: ${left.mkString(", ")}")
    spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM sidecar_tmp_src")
    assert(ids(cat) == (0L until 10L) ++ (100L until 110L))
  }
}
