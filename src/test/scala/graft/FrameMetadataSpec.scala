package graft

import java.io.File
import java.nio.file.Files

import scala.util.{Failure, Success, Try}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroFrames, AvroFrameStats, FrameMatView, FrameMetaTables}

/** Metadata documents that a crash left empty. Jackson's streaming
  * parser returns no token at all for empty input, so a reader looping
  * until the closing brace spins forever; each read here runs on a
  * daemon thread with a 10 s bound so such a reader fails the test
  * instead of hanging the suite.
  */
class FrameMetadataSpec extends AnyFunSuite with SparkFixture {

  private def bounded[T](what: String)(body: => T): Try[T] = {
    val out = new java.util.concurrent.atomic.AtomicReference[Try[T]]()
    val t = new Thread(() => out.set(Try(body)), s"bounded-read: $what")
    t.setDaemon(true)
    t.start()
    t.join(10000)
    assert(!t.isAlive, s"$what did not return within 10 s")
    out.get
  }

  private def empty(f: File): Unit = Files.writeString(f.toPath, "")

  test("an empty sidecar, descriptor or marker is answered, never spun on") {
    val base = Files.createTempDirectory("frame-empty-meta").toFile
    val cat = "fempty"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    Seq("t", "mv", "gone").foreach { t =>
      spark.sql(s"CREATE TABLE $cat.ns.$t (k BIGINT NOT NULL, v DOUBLE NOT NULL)")
    }
    (0 until 2).foreach(i => spark.sql(s"INSERT INTO $cat.ns.t VALUES ($i, $i.5)"))
    val dir = new File(base, "ns/t")
    val segs = AvroFrames.listSegments(dir.getAbsolutePath)
    assert(segs.length == 2)

    // sidecar: publishing writes it in place, so a crash can leave it
    // empty; the reader answers "no stats", and RENAME COLUMN (which
    // rewrites every readable sidecar) completes
    empty(new File(dir, segs(0).getName + ".stats"))
    assert(bounded("sidecar read")(AvroFrameStats.readFull(segs(0))) == Success(None))
    bounded("RENAME COLUMN")(spark.sql(s"ALTER TABLE $cat.ns.t RENAME COLUMN v TO w")).get
    assert(AvroFrameStats.readFull(segs(1)).get._2.keySet == Set("k", "w"))
    assert(spark.sql(s"SELECT sum(k) FROM $cat.ns.t").collect()(0).getLong(0) == 1L)

    // marker: an empty matview watermark is an error, not watermark 0
    // (which would re-apply the whole change history)
    empty(new File(base, "ns/mv/" + FrameMatView.MarkerFile))
    bounded("matview marker read")(FrameMatView.refresh(spark, cat, "ns.t", "ns.mv", "k", "w")) match {
      case Failure(e) => assert(String.valueOf(e.getMessage).contains("not a JSON object"), e)
      case Success(r) => fail(s"an empty watermark must not refresh: $r")
    }

    // descriptor probe: an empty descriptor declares no buckets
    empty(new File(dir, "_table.json"))
    val parts = bounded("partitions probe")(FrameMetaTables.rows(FrameMetaTables.Partitions, dir)).get
    assert(parts.length == 1 && parts(0).isNullAt(1), "unbucketed: one partition row, no bucket")
    // the catalog's own read of an empty descriptor fails loudly
    empty(new File(base, "ns/gone/_table.json"))
    bounded("catalog descriptor read")(spark.table(s"$cat.ns.gone").count()) match {
      case Failure(e) => assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("corrupt table descriptor")), e)
      case Success(n) => fail(s"an empty descriptor must not load as a table ($n rows)")
    }

  }
}
