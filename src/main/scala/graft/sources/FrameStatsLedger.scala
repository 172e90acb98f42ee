package graft.sources

import java.io.File

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

/** Table-level statistics + LIVE-SET ledger — the scalable-planning
  * metadata layer.
  *
  * Round 16 introduced the ledger as a stats CACHE: one
  * `_stats.ledger.json` mirroring every live segment's sidecar so a
  * plan reads O(1) metadata files instead of one sidecar per segment.
  * Round 17 (VERDICT r16 item 1) promotes it to the AUTHORITATIVE
  * live-set record: a scan plan derives the segment universe, the
  * active deletion vectors, and every publish instant from the ledger
  * alone — `File.listFiles()` of the data directory is no longer on
  * the per-query planning path at all (it remains the bootstrap /
  * `CALL analyze` repair path). At 10⁵–10⁶ segments (100 TB), a
  * directory LIST per query is tens of seconds of driver time / ~1000
  * paginated object-store round trips; the ledger read is one small
  * root file plus only the shards a partition-pruned plan needs.
  *
  * v2 layout (v1 monoliths remain readable, as stats-cache only):
  *
  *  - root `_stats.ledger.json`:
  *    `{"v":2,"live":true,"shards":["T19000",…],"entries":{…}}` —
  *    `live` marks the ledger authoritative for the live set;
  *    `entries` holds segments with no time-partition token;
  *    `shards` names per-partition shard files.
  *  - shards `_stats.ledger.d/T<pv>.json`: `{"entries":{…}}`, one per
  *    hidden-time-partition value ([[FrameTimePart]] `-T` name token).
  *    A plan whose pushed filters prune to a time window parses ONLY
  *    the in-window shards — planning metadata is O(live partition),
  *    not O(table).
  *  - delta `_stats.ledger.delta.jsonl`: one line per fold
  *    (`{"add":{…},"remove":[…],"dvset":{…},"dvclear":[…]}`),
  *    replayed in order over the loaded base; compacted into fresh
  *    base + shards every [[CheckpointEveryDeltas]] lines. Replay is
  *    IDEMPOTENT (adds upsert, removes/dvclears tolerate absence), so
  *    replaying the full log over a mid-checkpoint mixture of old and
  *    new shard bytes converges to the same state.
  *
  * Each entry records the segment's sidecar stats (`frames`,
  * per-field nulls/min/max, bloom fields — `frames:-1` = published
  * without parseable stats: listed, never pruned-by-stats), its
  * publish instant (`publishMs`, = the file's commit mtime, serving
  * `TIMESTAMP AS OF` cuts without per-file stat calls), and its
  * active deletion vector (`dv` + `dvMs`), if any.
  *
  * Consistency contract:
  *
  *  - Every path that publishes or retires a live segment or deletion
  *    vector folds the ledger UNDER THE TABLE'S COMMIT LOCK. For
  *    ledgered readers the fold IS the commit point: a crash
  *    mid-publish leaves the new files invisible (readers keep the
  *    pre-commit snapshot — strictly better than the old torn-listing
  *    window) until the job retries or `CALL analyze` reconciles.
  *  - The first fold on an unledgered table BOOTSTRAPS an
  *    authoritative base: one directory listing at commit time
  *    retrofits every pre-existing segment (sidecar stats or a
  *    stats-less entry) and live vector, then `live:true` is set.
  *    Pre-round-17 v1 ledgers read as NON-authoritative: they keep
  *    serving stats, and planning falls back to the directory listing
  *    for the live set until a rebuild upgrades them.
  *  - A FOREIGN file dropped directly into the directory of an
  *    authoritative table is NOT part of the table until
  *    `CALL analyze` registers it (the Delta-lake contract; the
  *    directory remains physical truth that analyze reconciles).
  *  - Torn delta tail (crash mid-append): the intact prefix replays;
  *    the lost line's operation re-runs or `analyze` heals. Readers
  *    racing a checkpoint retry on a root-stamp mismatch and fall
  *    back to the directory listing if the race persists — never a
  *    half-applied state.
  *  - Bloom payloads stay OUT of the ledger (size); it records which
  *    fields carry one, and residual bloom pruning opens only
  *    surviving sidecars, capped ([[FrameStatsView.MaxDriverBloomOpens]]).
  *
  * Executors never read the ledger: task-side logic keeps using the
  * per-segment sidecars, which remain the per-segment stats truth.
  */
object FrameStatsLedger {

  val LedgerFile = "_stats.ledger.json"
  val ShardDirName = "_stats.ledger.d"
  val DeltaFile = "_stats.ledger.delta.jsonl"

  /** Base-rewrite cadence: read cost stays O(loaded shards + ≤64
    * lines), write cost O(delta) per commit + O(table)/64 amortized.
    */
  val CheckpointEveryDeltas = 64

  /** One live segment's ledger record: sidecar frame count (-1 =
    * published without parseable stats — listed in the live set, never
    * stat-pruned), per-field (nulls, min, max) in the stats value
    * domain, which fields carry a Bloom payload, the publish instant
    * (commit mtime), and the active deletion vector, if any.
    */
  case class Entry(frames: Long, fields: Map[String, (Long, Any, Any)],
                   bloomFields: Set[String], publishMs: Long = 0L,
                   dv: Option[String] = None, dvMs: Long = 0L) {
    def hasStats: Boolean = frames >= 0L
  }

  /** A ledger read: the (possibly shard-pruned) live entries, whether
    * the ledger is authoritative for the live set (v2 `live:true`),
    * and whether every shard was loaded (`complete` — false only under
    * a shard-pruning predicate, in which case `entries` is a superset
    * of the in-window live set and a subset of the full one).
    */
  case class LiveSet(entries: Map[String, Entry], authoritative: Boolean,
                     complete: Boolean)

  /** Build a ledger entry from a sidecar's JSON. None if unparseable. */
  def entryFromJson(json: String): Option[Entry] =
    AvroFrameStats.parseStatsJson(json).map { case (frames, fields, blooms) =>
      Entry(frames, fields, blooms.keySet)
    }

  /** A stats-less entry: listed in the live set, never stat-pruned. */
  private val Bare = Entry(-1L, Map.empty, Set.empty)

  /** Like [[entryFromJson]] but total: an unparseable sidecar yields a
    * stats-less entry — with the ledger authoritative for the live
    * set, EVERY published segment must land in it, stats or not.
    */
  def entryFromJsonOrBare(json: String): Entry = entryFromJson(json).getOrElse(Bare)

  /** The entry of a segment published at `publishMs` with sidecar JSON
    * `statsJson` — stats-less when there is none or it is unparseable.
    */
  private[sources] def entryOf(statsJson: Option[String], publishMs: Long): Entry =
    statsJson.fold(Bare)(entryFromJsonOrBare).copy(publishMs = publishMs)

  /** The entry of a segment on disk, from its stats sidecar —
    * stats-less without a readable one.
    */
  private[sources] def entryOf(segment: File, publishMs: Long): Entry =
    AvroFrameStats.readFull(segment)
      .fold(Bare) { case (frames, fields, blooms) => Entry(frames, fields, blooms.keySet) }
      .copy(publishMs = publishMs)

  /** Every live segment on disk except `skip`, as an entry: sidecar
    * stats, publish mtime and live deletion vector — one directory
    * retrofit, shared by the bootstrap fold and [[rebuild]].
    */
  private def onDisk(dir: File, skip: String => Boolean = _ => false): Map[String, Entry] = {
    val dvs = AvroFrames.liveDvMap(dir.getAbsolutePath)
    AvroFrames.listSegments(dir.getAbsolutePath).iterator.filterNot(f => skip(f.getName))
      .map { seg =>
        val d = dvs.get(seg.getName)
        seg.getName -> entryOf(seg, seg.lastModified())
          .copy(dv = d.map(_.getName), dvMs = d.fold(0L)(_.lastModified()))
      }.toMap
  }

  /** Shard key of a segment name: its hidden-time-partition token
    * (`T<pv>`), or "" for the root-inline group.
    */
  private def shardKeyOf(name: String): String =
    FrameTimePart.valueOf(name).map(v => s"T$v").getOrElse("")

  // ------------------------------------------------------------ caches
  // Parse caches keyed by file (length, lastModified). write() bumps
  // the root mtime STRICTLY above its predecessor, so every committed
  // root state has a distinct stamp — with the live set derived from
  // the ledger, a stale cache hit would lose segments, not just speed.

  private case class RootDoc(authoritative: Boolean, inline: Map[String, Entry],
                             shards: Vector[String], v2: Boolean)

  private case class DeltaLine(add: Map[String, Entry], remove: Seq[String],
                               dvSet: Map[String, (String, Long)], dvClear: Seq[String])

  private val rootCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), RootDoc)]()
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), Map[String, Entry])]()
  private val deltaCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), Vector[DeltaLine])]()

  private def purgeCaches(dir: File): Unit = {
    val prefix = dir.getAbsolutePath
    rootCache.remove(prefix)
    deltaCache.remove(prefix)
    val it = shardCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(prefix + "|")) it.remove()
  }

  // ------------------------------------------------------------ read

  /** Full ledger read: segment name → entry, every shard loaded. None
    * when no base exists or it is unreadable.
    */
  def read(dir: File): Option[Map[String, Entry]] =
    readLive(dir, None).map(_.entries)

  /** Ledger read with optional shard pruning: `keepPv` decides which
    * time-partition shards to parse (None = all). Root-inline entries
    * and delta-log adds are always included (conservative — downstream
    * partition pruning re-drops them by name token). Retries when a
    * concurrent checkpoint moves the root mid-read (the monotonic root
    * mtime makes the stamp check exact); persistent racing returns
    * None and the caller falls back to the directory listing.
    */
  def readLive(dir: File, keepPv: Option[Long => Boolean]): Option[LiveSet] = {
    val base = new File(dir, LedgerFile)
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      if (!base.isFile) return None
      val k1 = (base.length(), base.lastModified())
      val out = try {
        val root = loadRoot(dir, k1)
        val selected = root.shards.filter { k =>
          keepPv.isEmpty || (k match {
            case s if s.startsWith("T") =>
              scala.util.Try(s.drop(1).toLong).toOption.forall(keepPv.get)
            case _ => true
          })
        }
        var entries = root.inline
        selected.foreach { k => entries = entries ++ loadShard(dir, k, k1) }
        loadDeltas(dir).foreach { d => entries = applyLine(entries, d) }
        Some(LiveSet(entries, root.authoritative,
          complete = selected.length == root.shards.length))
      } catch { case scala.util.control.NonFatal(_) => None }
      val k2 = (base.length(), base.lastModified())
      // stamp stable across the read window ⇒ no checkpoint committed
      // mid-read: the delta log we saw pairs with the root we parsed
      if (k1 == k2) return out
    }
    None
  }

  private def loadRoot(dir: File, key: (Long, Long)): RootDoc = {
    val hit = rootCache.get(dir.getAbsolutePath)
    if (hit != null && hit._1 == key) return hit._2
    val doc = parseRoot(FrameJson.read(new File(dir, LedgerFile)))
    rootCache.put(dir.getAbsolutePath, (key, doc))
    doc
  }

  /** Shard FILE parses performed by this JVM — the round-17
    * observability hook: a partition-pruned plan must parse only the
    * in-window shards, however many partitions the table holds.
    */
  private[graft] val shardLoads = new java.util.concurrent.atomic.AtomicLong(0)

  private def loadShard(dir: File, shard: String, rootKey: (Long, Long)): Map[String, Entry] = {
    val ck = dir.getAbsolutePath + "|" + shard
    val hit = shardCache.get(ck)
    if (hit != null && hit._1 == rootKey) return hit._2
    shardLoads.incrementAndGet()
    val f = new File(new File(dir, ShardDirName), shard + ".json")
    val entries =
      if (!f.isFile) Map.empty[String, Entry]
      else entriesOf(FrameJson.requireObject(FrameJson.read(f)).path("entries"))
    shardCache.put(ck, (rootKey, entries))
    entries
  }

  private def loadDeltas(dir: File): Vector[DeltaLine] = {
    val delta = new File(dir, DeltaFile)
    if (!delta.isFile) return Vector.empty
    val key = (delta.length(), delta.lastModified())
    val hit = deltaCache.get(dir.getAbsolutePath)
    if (hit != null && hit._1 == key) return hit._2
    val src = scala.io.Source.fromFile(delta)(scala.io.Codec.UTF8)
    val lines =
      try src.getLines().filter(_.nonEmpty).flatMap(parseDeltaLine).toVector
      finally src.close()
    deltaCache.put(dir.getAbsolutePath, (key, lines))
    lines
  }

  /** One delta line over a state map: removes, then adds (upsert),
    * then dv clears, then dv sets — the fixed order a rollback that
    * retires one vector and restores another depends on. dv ops on
    * absent entries are skipped (the entry lives in an unloaded shard
    * — whose segments this read never plans — or was removed).
    */
  private def applyLine(state: Map[String, Entry], d: DeltaLine): Map[String, Entry] = {
    var s = state -- d.remove ++ d.add
    d.dvClear.foreach { base =>
      s.get(base).foreach(e => s = s.updated(base, e.copy(dv = None, dvMs = 0L)))
    }
    d.dvSet.foreach { case (base, (dv, ms)) =>
      s.get(base).foreach(e => s = s.updated(base, e.copy(dv = Some(dv), dvMs = ms)))
    }
    s
  }

  // ------------------------------------------------------------ parse

  private def parseRoot(doc: JsonNode): RootDoc = {
    val n = FrameJson.requireObject(doc)
    val v = FrameJson.int(n, "v", 1)
    val live = FrameJson.bool(n, "live", false)
    RootDoc(authoritative = v >= 2 && live, entriesOf(n.path("entries")),
      FrameJson.texts(n.path("shards")), v2 = v >= 2)
  }

  private def parseDeltaLine(line: String): Option[DeltaLine] =
    try {
      val n = FrameJson.requireObject(FrameJson.parse(line))
      val dvSet = FrameJson.fields(n.path("dvset")).flatMap { case (base, d) =>
        FrameJson.text(d, "dv").map(dv => base -> ((dv, FrameJson.long(d, "dvMs", 0L))))
      }.toMap
      Some(DeltaLine(entriesOf(n.path("add")), FrameJson.texts(n.path("remove")),
        dvSet, FrameJson.texts(n.path("dvclear"))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** An `entries` object: segment name → entry. */
  private def entriesOf(n: JsonNode): Map[String, Entry] =
    FrameJson.fields(n).map { case (seg, e) =>
      val fields = e.path("fields")
      seg -> Entry(FrameJson.long(e, "frames", 0L), FrameJson.statsOf(fields),
        FrameJson.fields(fields).collect { case (f, st) if st.path("bloom").booleanValue => f }.toSet,
        FrameJson.long(e, "publishMs", 0L), FrameJson.text(e, "dv"), FrameJson.long(e, "dvMs", 0L))
    }.toMap

  // ------------------------------------------------------------ write

  /** Serialize an entries map (shared by root/shard bodies and each
    * delta line's `add` field).
    */
  private def entriesNode(entries: Map[String, Entry]): ObjectNode = {
    val out = FrameJson.newObject()
    entries.toSeq.sortBy(_._1).foreach { case (seg, e) =>
      val n = out.putObject(seg).put("frames", e.frames)
      if (e.publishMs != 0L) n.put("publishMs", e.publishMs)
      e.dv.foreach(d => n.put("dv", d).put("dvMs", e.dvMs))
      val fields = n.putObject("fields")
      e.fields.toSeq.sortBy(_._1).foreach { case (name, (nulls, mn, mx)) =>
        val st = FrameJson.statNode(nulls, mn, mx)
        if (e.bloomFields.contains(name)) st.put("bloom", true)
        fields.set[JsonNode](name, st)
      }
    }
    out
  }

  /** Atomic write of the FULL ledger as a fresh base checkpoint:
    * shards first, root last (its move is the visibility point — a
    * crash in between leaves the old root pairing shard bytes the
    * idempotent delta replay converges over), delta reset. The root
    * mtime is bumped STRICTLY above its predecessor so every committed
    * state has a distinct cache stamp. Callers must hold the table's
    * commit lock (or be the only possible writer).
    */
  def write(dir: File, entries: Map[String, Entry], authoritative: Boolean): Unit = {
    val byShard = entries.groupBy { case (name, _) => shardKeyOf(name) }
    val inline = byShard.getOrElse("", Map.empty)
    val shardKeys = (byShard.keySet - "").toVector.sorted
    val shardDir = new File(dir, ShardDirName)
    if (shardKeys.nonEmpty) {
      shardDir.mkdirs()
      shardKeys.foreach { k =>
        FrameJson.write(new File(shardDir, k + ".json"))(
          FrameJson.newObject().set[JsonNode]("entries", entriesNode(byShard(k))))
      }
    }
    // stale shard files from a previous checkpoint's partition set
    Option(shardDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".json") &&
        !shardKeys.contains(f.getName.stripSuffix(".json")))
      .foreach(_.delete())
    if (shardKeys.isEmpty) shardDir.delete() // no-op if non-empty/absent
    val root = new File(dir, LedgerFile)
    val prevMtime = if (root.isFile) root.lastModified() else 0L
    val doc = FrameJson.newObject().put("v", 2).put("live", authoritative)
    doc.set[JsonNode]("shards", FrameJson.textArray(shardKeys))
    doc.set[JsonNode]("entries", entriesNode(inline))
    FrameJson.write(root)(doc)
    if (root.lastModified() <= prevMtime) root.setLastModified(prevMtime + 1)
    new File(dir, DeltaFile).delete()
    purgeCaches(dir)
  }

  // ------------------------------------------------------------ fold

  /** Fold the ledger forward: drop `remove`d segment names, add/replace
    * `add` entries (publish instants defensively stamped from the live
    * file when the caller left 0), clear then set deletion-vector
    * associations. With a base present this APPENDS one delta line —
    * O(delta) bytes, never O(table) — compacting into a fresh base
    * every [[CheckpointEveryDeltas]] lines. The FIRST fold on an
    * unledgered table bootstraps an authoritative base: one directory
    * listing retrofits every pre-existing segment (sidecar stats or a
    * stats-less entry) and live vector. Caller must hold the table's
    * commit lock.
    */
  def fold(dir: File, add: Map[String, Entry] = Map.empty,
           remove: Iterable[String] = Nil,
           dvSet: Map[String, (String, Long)] = Map.empty,
           dvClear: Iterable[String] = Nil): Unit = {
    if (add.isEmpty && remove.isEmpty && dvSet.isEmpty && dvClear.isEmpty) return
    val stampedAdd = add.map { case (name, e) =>
      name -> (if (e.publishMs != 0L) e
               else e.copy(publishMs = new File(dir, name).lastModified()))
    }
    val stampedDv = dvSet.map { case (base, (dv, ms)) =>
      base -> ((dv, if (ms != 0L) ms else new File(dir, dv).lastModified()))
    }
    if (!new File(dir, LedgerFile).isFile) {
      // bootstrap: retrofit everything already on disk, then the fold
      write(dir, applyLine(onDisk(dir, stampedAdd.contains) ++ stampedAdd,
        DeltaLine(Map.empty, remove.toSeq, stampedDv, dvClear.toSeq)),
        authoritative = true)
      return
    }
    val line = FrameJson.newObject()
    line.set[JsonNode]("add", entriesNode(stampedAdd))
    line.set[JsonNode]("remove", FrameJson.textArray(remove.toSeq.sorted))
    if (stampedDv.nonEmpty) {
      val dvs = line.putObject("dvset")
      stampedDv.toSeq.sortBy(_._1).foreach { case (base, (dv, ms)) =>
        dvs.putObject(base).put("dv", dv).put("dvMs", ms)
      }
    }
    if (dvClear.nonEmpty) line.set[JsonNode]("dvclear", FrameJson.textArray(dvClear.toSeq.sorted))
    val delta = new File(dir, DeltaFile)
    // heal a torn tail (crash mid-append): if the file doesn't end in a
    // newline, terminate the torn line first so this fold's line stays
    // parseable — the torn line alone is skipped at replay
    val needsNewline = delta.isFile && delta.length() > 0 && {
      val raf = new java.io.RandomAccessFile(delta, "r")
      try { raf.seek(delta.length() - 1); raf.read() != '\n' }
      finally raf.close()
    }
    val out = new java.io.FileOutputStream(delta, true)
    try out.write(((if (needsNewline) "\n" else "") + FrameJson.render(line) + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    purgeCaches(dir)
    // checkpoint: compact base + log into a fresh base
    val lines = {
      val st = java.nio.file.Files.lines(delta.toPath)
      try st.count() finally st.close()
    }
    if (lines >= CheckpointEveryDeltas)
      readLive(dir, None).foreach(ls => write(dir, ls.entries, ls.authoritative))
  }

  /** Drop the ledger outright (physical TRUNCATE starts a new lineage;
    * a corrupt ledger heals by deletion — the directory listing and
    * sidecars take over until the next fold re-bootstraps).
    */
  def drop(dir: File): Unit = {
    new File(dir, LedgerFile).delete()
    new File(dir, DeltaFile).delete()
    val shardDir = new File(dir, ShardDirName)
    Option(shardDir.listFiles()).getOrElse(Array.empty[File]).foreach(_.delete())
    shardDir.delete()
    purgeCaches(dir)
  }

  /** Rebuild the ledger from the directory: every live segment
    * (sidecar stats or a stats-less entry), every live vector, every
    * publish mtime — the retrofit path for pre-ledger/v1 tables, the
    * repair path after out-of-band surgery, and how a FOREIGN file
    * dropped into an authoritative table's directory becomes part of
    * the table. O(live segments) metadata reads, once; every later
    * plan is O(loaded shards) again. Returns entries written.
    */
  def rebuild(dir: File): Int = {
    val entries = onDisk(dir)
    write(dir, entries, authoritative = true)
    entries.size
  }

  /** Re-key every ledger entry's field stats (ALTER TABLE RENAME/DROP
    * COLUMN — the ledger twin of [[FrameMaintenance.rewriteSidecars]]):
    * `transform` maps an old field name to its new name, or None to
    * strip it. Authoritativeness and live-set/dv state are preserved.
    * No-op when no ledger exists.
    */
  def rewriteFields(dir: File, transform: String => Option[String]): Unit =
    readLive(dir, None).foreach { ls =>
      write(dir, ls.entries.map { case (seg, e) =>
        seg -> e.copy(
          fields = e.fields.flatMap { case (n, st) => transform(n).map(_ -> st) },
          bloomFields = e.bloomFields.flatMap(transform(_)))
      }, ls.authoritative)
    }
}

/** Plan-time view of a table's segment statistics: ledger-first (ONE
  * metadata read per view — or zero, when the scan hands over its
  * already-loaded live-set entries), per-segment sidecar fallback for
  * names the ledger doesn't know or records stats-less. Instantiated
  * once per scan / plan / maintenance classification, so the whole
  * plan costs O(1) metadata opens on a ledgered table regardless of
  * segment count.
  */
final class FrameStatsView(dir: File,
                           preloaded: Option[Map[String, FrameStatsLedger.Entry]] = None) {

  private lazy val ledger: Map[String, FrameStatsLedger.Entry] =
    preloaded.getOrElse(FrameStatsLedger.read(dir).getOrElse(Map.empty))

  // segments whose bloom payloads the driver's residual pass already
  // evaluated against the pushed filters and found may-match — the
  // executor-side gate would reach the same verdict, so their splits
  // carry probeBloom = false and the task skips the sidecar re-read
  private val driverVerified = scala.collection.mutable.Set.empty[String]

  /** Split-level probe hint (round 17): should this segment's TASK
    * consult its own sidecar blooms before opening the data file
    * ([[AvroFrameStats.bloomBlocked]])? False when the ledger proves
    * no bloom payload exists on any column the pushed filters probe,
    * or when the driver's residual pass already evaluated this exact
    * segment. Conservative-true for segments the ledger doesn't know
    * (their sidecar may carry blooms the driver never saw). Purely an
    * I/O hint — a wrong `true` costs one small sidecar read, a `false`
    * only skips an optimization; row output is identical either way.
    */
  def probeBloom(segment: File, pushed: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val cols = pushed.iterator.flatMap(FrameFilter.bloomColumns).toSet
    if (cols.isEmpty) return false
    if (driverVerified.contains(segment.getName)) return false
    ledger.get(segment.getName) match {
      case Some(e) if e.hasStats => e.bloomFields.exists(cols)
      case _                     => true
    }
  }

  /** (frames, fields) for a segment — ledger entry if present (with
    * stats), else its sidecar. None = no stats anywhere (never prune,
    * never claim).
    */
  def read(segment: File): Option[(Long, Map[String, (Long, Any, Any)])] =
    ledger.get(segment.getName) match {
      case Some(e) if e.hasStats => Some((e.frames, e.fields))
      case _                     => AvroFrameStats.read(segment)
    }

  /** Does the segment have stats at all (ledger or sidecar file)? The
    * complete-aggregate-pushdown gate — avoids one `.stats` existence
    * stat per segment on ledgered tables.
    */
  def has(segment: File): Boolean =
    ledger.get(segment.getName).exists(_.hasStats) ||
      new File(segment.getParentFile, segment.getName + ".stats").isFile

  /** Segments surviving stat-pruning under ALL pushed filters. One
    * check per segment: min/max bounds (ledger entry, zero file opens;
    * else its sidecar), then Bloom residual pruning if the filters
    * probe a Bloom and the segment carries payloads. A ledgered
    * segment's payloads cost one extra sidecar open, capped at
    * [[FrameStatsView.MaxDriverBloomOpens]] per plan (beyond the cap
    * the residual check is skipped — conservative; the pushed filters
    * still apply executor-side).
    */
  def prune(segments: Array[File], pushed: Array[org.apache.spark.sql.sources.Filter]): Array[File] =
    if (pushed.isEmpty) segments
    else {
      val wantBloom = pushed.exists(FrameFilter.bloomColumns(_).nonEmpty)
      var bloomOpens = 0
      segments.filter { seg =>
        val ledgered = ledger.get(seg.getName).filter(_.hasStats)
        lazy val sidecar = AvroFrameStats.readFull(seg)
        val stats = ledgered.map(e => (e.frames, e.fields)).orElse(sidecar.map(s => (s._1, s._2)))
        stats.forall { case (frames, fields) =>
          pushed.forall(FrameFilter.mayMatch(frames, fields, _)) && (!wantBloom || {
            val b64 = ledgered match {
              case None => sidecar.get._3
              case Some(e) if e.bloomFields.isEmpty || bloomOpens >= FrameStatsView.MaxDriverBloomOpens =>
                Map.empty[String, String]
              case Some(_) => bloomOpens += 1; sidecar.fold(Map.empty[String, String])(_._3)
            }
            b64.isEmpty || {
              val ok = pushed.forall(FrameFilter.bloomMayMatch(AvroFrameStats.blooms(b64), _))
              // driver evaluated THESE filters against THESE blooms:
              // the executor gate need not repeat it
              if (ok) driverVerified += seg.getName
              ok
            }
          })
        }
      }
    }
}

object FrameStatsView {
  /** Driver-side Bloom residual-pruning budget per plan: each check
    * opens one sidecar, so a point lookup that min/max can't narrow on
    * a million-segment table must not reopen the metadata wall the
    * ledger tore down. Past the cap, segments pass unpruned here and
    * the EXECUTOR-side gate takes over ([[AvroFrameStats.bloomBlocked]]):
    * each task consults its own segment's bloom before opening the
    * data file, so the residual pruning is distributed rather than lost.
    */
  val MaxDriverBloomOpens = 512
}
