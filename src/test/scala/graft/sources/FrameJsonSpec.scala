package graft.sources

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bytes of every metadata document kind of the framed-Avro
  * format and the values its reader returns. The golden strings are
  * what the format's writers emitted before the documents moved onto
  * one codec ([[FrameJson]]); a writer that drifts from them would
  * make tables written by one build unreadable, or differently read,
  * by another.
  */
class FrameJsonSpec extends AnyFunSuite {

  private val eAcute = "\u00e9"

  private val s1 = """{"type":"record","name":"t","fields":[{"name":"id","type":"long"}]}"""
  private val s2 = """{"type":"record","name":"t","fields":[{"name":"id","type":"long"},""" +
    """{"name":"tag","type":["null","string"],"default":null}]}"""
  private val s1Json = """"{\"type\":\"record\",\"name\":\"t\",\"fields\":[{\"name\":\"id\",\"type\":\"long\"}]}""""
  private val s2Json = """"{\"type\":\"record\",\"name\":\"t\",\"fields\":[{\"name\":\"id\",\"type\":\"long\"},""" +
    """{\"name\":\"tag\",\"type\":[\"null\",\"string\"],\"default\":null}]}""""

  private def tmpDir(tag: String): File = Files.createTempDirectory(s"frame-json-$tag").toFile
  private def slurp(f: File): String = Files.readString(f.toPath)

  private val huge = "99999999999999999999" // > Long.MaxValue

  test("sidecar: golden bytes, typed values, base64 blooms; out-of-range integers rejected") {
    def st(nulls: Long, mn: Any, mx: Any) = {
      val s = new AvroFrameWrite.FieldStats; s.nulls = nulls; s.min = mn; s.max = mx; s
    }
    val json = AvroFrameWrite.statsJson(7L, Seq(
      "id" -> st(1, 3L, 9L),
      "score" -> st(0, -1.5, 1.0E20),
      "tag" -> st(2, "a\"b\\c\n", s"z$eAcute\t"),
      "flag" -> st(0, false, true),
      "blob" -> st(4, null, null)),
      Map("id" -> "AAAAAQ==", "tag" -> "AAAAAg=="))
    assert(json == raw"""{"frames":7,"fields":{"id":{"nulls":1,"min":3,"max":9,"bloom":"AAAAAQ=="},""" +
      raw""""score":{"nulls":0,"min":-1.5,"max":1.0E20},""" +
      raw""""tag":{"nulls":2,"min":"a\"b\\c\n","max":"z$eAcute\t","bloom":"AAAAAg=="},""" +
      raw""""flag":{"nulls":0,"min":false,"max":true},"blob":{"nulls":4}}}""")

    val (frames, fields, blooms) = AvroFrameStats.parseStatsJson(json).get
    assert(frames == 7L)
    assert(fields == Map[String, (Long, Any, Any)](
      "id" -> ((1L, 3L, 9L)), "score" -> ((0L, -1.5, 1.0E20)),
      "tag" -> ((2L, "a\"b\\c\n", s"z$eAcute\t")), "flag" -> ((0L, false, true)),
      "blob" -> ((4L, null, null))))
    assert(fields("id")._2.isInstanceOf[java.lang.Long])
    assert(fields("score")._3.isInstanceOf[java.lang.Double])
    assert(fields("flag")._2.isInstanceOf[java.lang.Boolean])
    assert(blooms == Map("id" -> "AAAAAQ==", "tag" -> "AAAAAg=="))

    assert(AvroFrameStats.parseStatsJson(
      s"""{"frames":1,"fields":{"id":{"nulls":0,"min":$huge,"max":1}}}""").isEmpty)
  }

  test("stats ledger: golden root, shard and delta line; replay values; bad delta lines skipped") {
    import FrameStatsLedger.Entry
    val dir = tmpDir("ledger")
    FrameStatsLedger.write(dir, Map(
      "segment-0001-a.bin" -> Entry(7L, Map("id" -> ((1L, 3L, 9L)), "tag" -> ((0L, "a", "b"))),
        Set("id"), publishMs = 1700000000000L, dv = Some("segment-0001-a.bin.dv1"),
        dvMs = 1700000000500L),
      "segment-0002-b-T19000.bin" -> Entry(5L,
        Map("score" -> ((0L, -1.5, 1.0E20)), "flag" -> ((1L, false, true))),
        Set.empty, publishMs = 1700000001000L),
      "segment-0003-c-T19001.bin" -> Entry(-1L, Map.empty, Set.empty, publishMs = 1700000002000L)),
      authoritative = true)
    assert(slurp(new File(dir, FrameStatsLedger.LedgerFile)) ==
      """{"v":2,"live":true,"shards":["T19000","T19001"],"entries":{"segment-0001-a.bin":""" +
      """{"frames":7,"publishMs":1700000000000,"dv":"segment-0001-a.bin.dv1","dvMs":1700000000500,""" +
      """"fields":{"id":{"nulls":1,"min":3,"max":9,"bloom":true},"tag":{"nulls":0,"min":"a","max":"b"}}}}}""")
    val shards = new File(dir, FrameStatsLedger.ShardDirName)
    assert(slurp(new File(shards, "T19000.json")) ==
      """{"entries":{"segment-0002-b-T19000.bin":{"frames":5,"publishMs":1700000001000,""" +
      """"fields":{"flag":{"nulls":1,"min":false,"max":true},"score":{"nulls":0,"min":-1.5,"max":1.0E20}}}}}""")
    assert(slurp(new File(shards, "T19001.json")) ==
      """{"entries":{"segment-0003-c-T19001.bin":{"frames":-1,"publishMs":1700000002000,"fields":{}}}}""")

    FrameStatsLedger.fold(dir,
      add = Map("segment-0004-d.bin" -> Entry(3L, Map("id" -> ((0L, 10L, 12L))), Set("id"),
        publishMs = 1700000003000L)),
      remove = Seq("segment-0003-c-T19001.bin"),
      dvSet = Map("segment-0002-b-T19000.bin" -> (("segment-0002-b-T19000.bin.dv2", 1700000004000L))),
      dvClear = Seq("segment-0001-a.bin"))
    val delta = new File(dir, FrameStatsLedger.DeltaFile)
    assert(slurp(delta) ==
      """{"add":{"segment-0004-d.bin":{"frames":3,"publishMs":1700000003000,""" +
      """"fields":{"id":{"nulls":0,"min":10,"max":12,"bloom":true}}}},""" +
      """"remove":["segment-0003-c-T19001.bin"],""" +
      """"dvset":{"segment-0002-b-T19000.bin":{"dv":"segment-0002-b-T19000.bin.dv2","dvMs":1700000004000}},""" +
      """"dvclear":["segment-0001-a.bin"]}""" + "\n")

    val expected = Map(
      "segment-0001-a.bin" -> Entry(7L, Map("id" -> ((1L, 3L, 9L)), "tag" -> ((0L, "a", "b"))),
        Set("id"), 1700000000000L, None, 0L),
      "segment-0002-b-T19000.bin" -> Entry(5L,
        Map("flag" -> ((1L, false, true)), "score" -> ((0L, -1.5, 1.0E20))), Set.empty,
        1700000001000L, Some("segment-0002-b-T19000.bin.dv2"), 1700000004000L),
      "segment-0004-d.bin" -> Entry(3L, Map("id" -> ((0L, 10L, 12L))), Set("id"),
        1700000003000L, None, 0L))
    val live = FrameStatsLedger.readLive(dir, None).get
    assert(live.authoritative && live.complete)
    assert(live.entries == expected)

    // a delta line with an out-of-range integer, a blank line and a
    // torn tail are each skipped; the intact lines still replay
    Files.writeString(delta.toPath,
      s"""{"add":{"segment-0005-e.bin":{"frames":$huge,"fields":{}}},"remove":[]}""" + "\n" +
        "   \n" + """{"add":{"segment-0006-f.bin":{"fra""",
      java.nio.file.StandardOpenOption.APPEND)
    assert(FrameStatsLedger.read(dir).get == expected)
  }

  test("descriptor: golden bytes with bucket, partition and a two-entry history; minimal form") {
    import FrameCatalog.{Descriptor, readDescriptor, writeDescriptor}
    val dir = tmpDir("descriptor")
    val d = Descriptor(s2, 2, Some(("id", 4)), Some("id,tag"), Some(5000L),
      Vector(1 -> s1, 2 -> s2), Some("merge-on-read"), Some("id"), Some(0.25), Some(("ts", "days")))
    writeDescriptor(dir, d)
    assert(slurp(new File(dir, FrameCatalog.TableDescriptor)) ==
      s"""{"avroSchema":$s2Json,"schemaId":2,"bucketKey":"id","buckets":4,""" +
      """"bloomColumns":"id,tag","bloomExpectedItems":5000,"deleteMode":"merge-on-read",""" +
      """"sortedBy":"id","dvFoldThreshold":0.25,"partitionCol":"ts","partitionUnit":"days",""" +
      s""""schemas":[{"id":1,"schema":$s1Json},{"id":2,"schema":$s2Json}]}""")
    assert(readDescriptor(dir) == d)

    val min = tmpDir("descriptor-min")
    writeDescriptor(min, Descriptor(s1, 1, None, None, None))
    assert(slurp(new File(min, FrameCatalog.TableDescriptor)) == s"""{"avroSchema":$s1Json,"schemaId":1}""")
    assert(readDescriptor(min) == Descriptor(s1, 1, None, None, None, Vector(1 -> s1)))
  }

  test("manifest, tags, schema history and marker: golden bytes and values") {
    val man = tmpDir("manifest")
    val entry = FrameMaintenance.MaintEntry("compact", 1700000005000L,
      Vector("segment-0001-a.bin", "segment-0002-b.bin"), Vector(1700000000000L, 1700000001000L),
      Vector("segment-0001-a.bin.c1"), expired = true)
    FrameMaintenance.writeManifestForClone(man, entry)
    assert(slurp(new File(man, FrameMaintenance.ManifestFile)) ==
      """{"entries":[{"op":"compact","publishMs":1700000005000,""" +
      """"replaced":["segment-0001-a.bin","segment-0002-b.bin"],""" +
      """"replacedMs":[1700000000000,1700000001000],"replacements":["segment-0001-a.bin.c1"],""" +
      """"expired":true}]}""")
    assert(FrameMaintenance.readManifest(man) == Vector(entry))

    val tags = tmpDir("tags")
    FrameTags.write(tags, Map("validated" -> 3, "a \"q\"" -> 1))
    assert(slurp(new File(tags, FrameTags.TagsFile)) == """{"a \"q\"":1,"validated":3}""")
    assert(FrameTags.read(tags) == Map("validated" -> 3, "a \"q\"" -> 1))

    val h = AvroFrames.historyJson(Seq(1 -> s1, 2 -> s2))
    assert(h == s"""[{"id":1,"schema":$s1Json},{"id":2,"schema":$s2Json}]""")
    assert(AvroFrames.schemaHistory(s2, 2, h).map { case (k, v) => k -> v.toString } ==
      Map(1 -> s1, 2 -> s2))

    val marker = new File(tmpDir("marker"), FrameMatView.IntentFile)
    FrameJson.writeLongs(marker, "from" -> 1L, "to" -> 3L, "dstVersions" -> 5L)
    assert(slurp(marker) == """{"from":1,"to":3,"dstVersions":5}""")
    assert(FrameJson.readLongs(marker) == Map("from" -> 1L, "to" -> 3L, "dstVersions" -> 5L))
    Files.writeString(marker.toPath, """{"srcVersion":3,"note":"x","f":1.5,"neg":-2}""")
    assert(FrameJson.readLongs(marker) == Map("srcVersion" -> 3L, "neg" -> -2L))
    Files.writeString(marker.toPath, s"""{"srcVersion":$huge}""")
    intercept[IllegalArgumentException](FrameJson.readLongs(marker))
  }
}
