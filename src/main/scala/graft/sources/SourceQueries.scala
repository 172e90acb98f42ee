package graft.sources

import java.io.File
import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryGroup, Tables}

/** The build-once protocol behind the on-disk fixtures of the
  * frame-table queries (q325–q361). A fixture is built once per scale
  * factor under `java.io.tmpdir` and re-used across runs while its
  * marker file holds the row count of the table it was built from; a
  * re-generated sf dir with a different count rebuilds it. The count is
  * the source table's footer row count ([[Tables.rowCount]]), so the
  * marker check of a warm fixture starts no Spark job.
  */
private[graft] object FrameFixtures {

  /** Runs `build` unless `marker` holds `rows`, then stamps `rows` into
    * `marker` — only after `build` returns. A missing, stale or
    * unparseable marker rebuilds; a build that throws leaves no marker
    * and propagates.
    */
  def once(marker: File, rows: Long)(build: => Unit): Unit =
    if (!Try(Files.readString(marker.toPath).trim.toLong).toOption.contains(rows)) {
      marker.delete()
      build
      Files.writeString(marker.toPath, rows.toString)
    }

  /** `d` as a file-name- and identifier-safe suffix. */
  def key(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  /** The per-sfDir frame catalog. The name is sf-scoped because Spark
    * caches catalog instances by name for the session's lifetime.
    */
  final case class Catalog(name: String, base: File)

  def catalog(d: String): Catalog = Catalog(s"frames_${key(d)}",
    new File(System.getProperty("java.io.tmpdir"), s"graft-frame-catalog-${key(d)}"))

  /** Registers the per-sfDir frame catalog in `s` (idempotent). */
  def register(s: SparkSession, d: String): Catalog = {
    val c = catalog(d)
    s.conf.set(s"spark.sql.catalog.${c.name}", "graft.sources.FrameCatalog")
    s.conf.set(s"spark.sql.catalog.${c.name}.base", c.base.getAbsolutePath)
    c
  }

  /** A catalog fixture: registers the catalog and, through [[once]] on
    * `marker` under its base, creates the base directory and the
    * `corpus` namespace and runs `build` with the catalog name.
    * Returns the catalog name.
    */
  def inCatalog(s: SparkSession, d: String, marker: String, rows: Long)(
      build: String => Unit): String = {
    val c = register(s, d)
    once(new File(c.base, marker), rows) {
      c.base.mkdirs()
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS ${c.name}.corpus")
      build(c.name)
    }
    c.name
  }

  /** Drops and re-creates `<cat>.corpus.<table>` with the five event
    * columns; `ddl` is the suffix (`PARTITIONED BY …` / `TBLPROPERTIES …`).
    */
  def createEvents(s: SparkSession, cat: String, table: String, ddl: String = ""): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $cat.corpus.$table")
    s.sql(s"""CREATE TABLE $cat.corpus.$table (
      event_id BIGINT NOT NULL, ts_us BIGINT NOT NULL, user_id BIGINT NOT NULL,
      event_type STRING NOT NULL, value DOUBLE NOT NULL) $ddl""")
  }

  /** The events table in the frame schema: `ts` as epoch micros `ts_us`. */
  def eventRows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))

  /** The ingest layout of most fixtures: `n` ts-range slices. */
  def byTime(n: Int): DataFrame => DataFrame = _.repartitionByRange(n, col("ts_us"))

  /** Registers [[eventRows]] under the ingest `layout` as a temp view
    * and returns its name.
    */
  def eventsView(s: SparkSession, d: String, layout: DataFrame => DataFrame): String = {
    val view = s"graft_events_src_${key(d)}"
    layout(eventRows(s, d)).createOrReplaceTempView(view)
    view
  }

  /** [[eventsView]], then `INSERT INTO <cat>.corpus.<table>` every row
    * of it; returns the view name.
    */
  def loadEvents(s: SparkSession, d: String, cat: String, table: String,
                 layout: DataFrame => DataFrame): String = {
    val view = eventsView(s, d, layout)
    s.sql(s"INSERT INTO $cat.corpus.$table SELECT * FROM $view")
    view
  }
}

/** Judged queries for the engine's own DataSource V2 connector
  * ([[AvroFrameDataSource]]). The fixture step re-encodes the events
  * table as framed-Avro segment files (executor-side, one segment per
  * input partition — no driver collect), once per scale factor; the
  * judged relation is then read back THROUGH the connector with a
  * filter + projection that must reach the source, and aggregated.
  * The DuckDB oracle runs the equivalent SQL over the original parquet
  * — so the whole encode → frame → scan → pushdown → decode loop has
  * to be lossless and the pushed filters exactly SQL-semantics.
  */
object SourceQueries extends QueryGroup {
  import FrameFixtures.{byTime, createEvents, eventRows, eventsView, loadEvents}

  /** Avro writer schema for an events record — the "registry entry"
    * for schema id 7. Timestamps travel as epoch micros (Avro long),
    * the same Long the engine's as-of/atribution operators key on.
    */
  val EventsAvroSchema: String =
    """{"type":"record","name":"event","fields":[
      |{"name":"event_id","type":"long"},
      |{"name":"ts_us","type":"long"},
      |{"name":"user_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"}
      |]}""".stripMargin
  val EventsSchemaId = 7

  /** Materialize the events table as framed-Avro segments under a
    * per-sfDir fixture directory. The encode goes through the
    * connector's OWN DSv2 write path (task temp files → stats sidecars
    * → job-commit renames), range-partitioned on `ts_us` so every
    * segment covers a disjoint time slice — the layout a log compactor
    * produces, and what makes the sidecar min/max stats prunable for
    * time-bounded reads (q326).
    */
  def ensureFixture(s: SparkSession, d: String): String = {
    val dir = new File(System.getProperty("java.io.tmpdir"),
      "graft-avro-frames-v2-" + FrameFixtures.key(d))
    FrameFixtures.once(new File(dir, "_SUCCESS"), Tables.rowCount(s, d, "events")) {
      if (dir.exists()) dir.listFiles().foreach(_.delete()) else dir.mkdirs()
      byTime(8)(eventRows(s, d))
        .write.format("graft.sources.AvroFrameDataSource")
        .option("path", dir.getAbsolutePath)
        .option("avroSchema", EventsAvroSchema)
        .option("schemaId", EventsSchemaId.toString)
        .mode("overwrite").save()
    }
    dir.getAbsolutePath
  }

  /** Read events through the connector. */
  def frames(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.AvroFrameDataSource")
      .option("path", ensureFixture(s, d))
      .option("avroSchema", EventsAvroSchema)
      .option("schemaId", EventsSchemaId.toString)
      .load()

  /** Retention cutoff for q336's time-window purge (2024-01-10T00:00Z
    * in epoch micros — mid-range of the events fixture, so old
    * segments delete metadata-only and exactly one straddles).
    */
  val DeleteCutoffUs = 1704844800000000L
  /** Erased user for q336's GDPR-path delete. */
  val DeleteUserId = 17L
  /** Erased users for q350/q351's merge-on-read deletes (present at
    * every scale factor — sf0.001 only has users 0..14).
    */
  val DvUserA = 7L
  val DvUserB = 11L

  /** Backfill cutoff for q340 (2024-01-22T00:00Z in epoch micros —
    * the "recompute the last third" slice).
    */
  val ReplaceCutoffUs = 1705881600000000L

  /** q356's judged window: [2024-01-10, 2024-01-20) in epoch micros —
    * ten whole days inside the events fixture's range, so the plan
    * keeps exactly the ten in-window day partitions (declared BEFORE
    * `entries` — the oracle strings interpolate at object init).
    */
  val PartWindowLoUs = 1704844800000000L
  val PartWindowHiUs = 1705708800000000L

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    // ------------------------------------------------------------ DSv2 frame source (round 13)
    // The connector end-to-end: the click-purchase value rollup per
    // user, where `event_type = 'click' AND value >= 100` and the
    // 3-column projection are pushed INTO AvroFrameScan (SourcesSpec
    // asserts both from the scan description and counts what crosses
    // the reader boundary) — frames failing the filter never allocate
    // a Spark row. At 100 TB the same plan fans one task per segment
    // and ships only the 3 projected columns of the matching frames.
    ("q325_avro_frame_source", (s, d) => {
      frames(s, d)
        .filter(col("event_type") === "click" && col("value") >= 100.0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
             graft.operators.Quant.quant6(sum("value")).as("sum_value"),
             max("ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }, Some("""
      SELECT user_id, count(*)::BIGINT AS n_clicks,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value,
             max(epoch_us(ts::TIMESTAMP)) AS last_ts_us
      FROM events
      WHERE event_type = 'click' AND value >= 100.0
      GROUP BY user_id
      ORDER BY user_id
    """)),

    // ------------------------------------------------------------ stat-pruned time-slice read (round 13)
    // The manifest-statistics rung end-to-end: the fixture's segments
    // are ts-range-partitioned with min/max sidecars from the DSv2
    // WRITE path, so this last-3-days rollup PRUNES ~7 of 8 segments
    // before opening a file (SourcesSpec asserts the Segments=k/n scan
    // description; the pushed ts_us filter then drops residual frames
    // pre-materialization). At 100 TB this is retention-window math
    // touching only the tail shards — the parquet row-group-stats /
    // Iceberg-manifest pattern on the engine's own format.
    ("q326_stat_pruned_timeslice", (s, d) => {
      val cutoffUs = 1706400000000000L // 2024-01-28T00:00:00Z in epoch micros
      frames(s, d)
        .filter(col("ts_us") >= cutoffUs)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             countDistinct("user_id").as("n_users"),
             graft.operators.Quant.quant6(sum("value")).as("sum_value"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM events
      WHERE epoch_us(ts::TIMESTAMP) >= 1706400000000000
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ aggregate pushdown, sidecar-only (round 13)
    // COMPLETE aggregate pushdown: MIN/MAX/COUNT with no row filters
    // over a fully-sidecar'd log is answered ENTIRELY from the write
    // path's stats sidecars — zero segment files opened (SourcesSpec
    // proves it by corrupting every segment body and still getting the
    // right answer). At 100 TB this is the "SELECT max(ts) FROM log"
    // freshness probe costing O(metadata), the Iceberg-manifest /
    // parquet-footer aggregate trick on the engine's own format.
    ("q327_agg_pushdown_stats", (s, d) => {
      frames(s, d).agg(
        count(lit(1)).as("n_frames"),
        count(col("value")).as("n_value"),
        min(col("ts_us")).as("min_ts_us"),
        max(col("ts_us")).as("max_ts_us"),
        min(col("event_type")).as("min_type"),
        max(col("event_type")).as("max_type"),
        graft.operators.Quant.quant6(min(col("value"))).as("min_value"),
        graft.operators.Quant.quant6(max(col("value"))).as("max_value"))
    }, Some("""
      SELECT count(*)::BIGINT AS n_frames, count(value)::BIGINT AS n_value,
             min(epoch_us(ts::TIMESTAMP)) AS min_ts_us,
             max(epoch_us(ts::TIMESTAMP)) AS max_ts_us,
             min(event_type) AS min_type, max(event_type) AS max_type,
             floor(min(value) * 1000000.0 + 0.5) / 1000000.0 AS min_value,
             floor(max(value) * 1000000.0 + 0.5) / 1000000.0 AS max_value
      FROM events
    """)),

    // ------------------------------------------------------------ aggregate pushdown under filters (round 13)
    // PARTIAL aggregate pushdown: with a pushed row filter the sidecar
    // extremes are no longer exact, so each segment decodes with the
    // filter applied and emits ONE partial row; Spark's final aggregate
    // merges (count→sum, min→min). At scale the win is the shuffle:
    // one row per segment crosses the scan instead of every matching
    // frame — the aggregate never materializes the fact rows.
    ("q328_filtered_agg_pushdown", (s, d) => {
      frames(s, d)
        .filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("n_purchases"),
             min(col("ts_us")).as("first_ts_us"),
             max(col("ts_us")).as("last_ts_us"),
             min(col("user_id")).as("min_user"),
             max(col("user_id")).as("max_user"))
    }, Some("""
      SELECT count(*)::BIGINT AS n_purchases,
             min(epoch_us(ts::TIMESTAMP)) AS first_ts_us,
             max(epoch_us(ts::TIMESTAMP)) AS last_ts_us,
             min(user_id) AS min_user, max(user_id) AS max_user
      FROM events
      WHERE event_type = 'purchase'
    """)),

    // ------------------------------------------------------------ limit pushdown (round 13)
    // LIMIT n reaches the scan builder: segment planning stops once the
    // kept prefix's sidecar counts prove ≥ n rows (a LIMIT over a
    // million-segment log plans a handful of splits) and each reader
    // stops decoding at n emitted rows. COUNT over the limited sample
    // is the deterministic judged form: min(n, |events|) in both
    // engines regardless of WHICH rows the limit keeps.
    ("q329_limit_pushdown_sample", (s, d) => {
      frames(s, d).limit(4000).agg(count(lit(1)).as("n_sampled"))
    }, Some("""
      SELECT count(*)::BIGINT AS n_sampled
      FROM (SELECT * FROM events LIMIT 4000) t
    """)),

    // ------------------------------------------------------------ catalog SQL (round 13)
    // The connector as a first-class SQL citizen: the events log lives
    // in a FrameCatalog metastore (CREATE NAMESPACE / CREATE TABLE /
    // INSERT INTO build it, once per scale factor) and the judged query
    // is plain multi-part-name SQL — no format() or path anywhere. The
    // scan underneath is the SAME AvroFrameScan with full pushdown
    // (FrameCatalogSpec asserts it), so catalog reads inherit every
    // scale property; integer-only outputs keep the oracle float-free.
    ("q330_catalog_sql", (s, d) => {
      val cat = ensureCatalogFixture(s, d)
      s.sql(s"""
        SELECT user_id, count(*) AS n_purchases, max(ts_us) AS last_ts_us
        FROM $cat.corpus.events
        WHERE event_type = 'purchase'
        GROUP BY user_id
        HAVING count(*) >= 2
        ORDER BY user_id
      """)
    }, Some("""
      SELECT user_id, count(*)::BIGINT AS n_purchases,
             max(epoch_us(ts::TIMESTAMP)) AS last_ts_us
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id
      HAVING count(*) >= 2
      ORDER BY user_id
    """)),

    // ------------------------------------------------------------ catalog V2 function (round 13)
    // The DSv2 UDF surface end-to-end: jaro_winkler dispatched through
    // the catalog's FunctionCatalog — analyzer binds the UnboundFunction
    // against the call-site schema, then plans the MAGIC_METHOD
    // `invoke` as a direct statically-typed call (codegen-compatible,
    // no row boxing). Same kernel as the Catalyst expression, so
    // DuckDB's jaro_winkler_similarity stays the value-for-value
    // oracle (q159's parity, re-proven through V2 dispatch). Pairs are
    // (brand, size)-blocked — the equi-key discipline every pair
    // generator in this engine follows; never all-pairs.
    ("q331_catalog_function_linkage", (s, d) => {
      val cat = ensureCatalogRegistered(s, d)
      Tables.part(s, d).createOrReplaceTempView("graft_q331_part")
      s.sql(s"""
        SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
               round($cat.corpus.jaro_winkler(a.p_name, b.p_name), 4) AS jw
        FROM graft_q331_part a
        JOIN graft_q331_part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        WHERE round($cat.corpus.jaro_winkler(a.p_name, b.p_name), 4) >= 0.9
        ORDER BY pk_a, pk_b
      """)
    }, Some("""
      SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
             round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
      FROM part a
      JOIN part b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 4) >= 0.9
      ORDER BY pk_a, pk_b
    """)),

    // ------------------------------------------------------------ catalog V2 function, primitive dispatch (round 13)
    // hamming64 through the catalog — the PRIMITIVE-typed magic-method
    // shape (invoke(long,long): int, unboxed direct call) next to
    // q331's object-typed one. Per-source fingerprint drift: every
    // doc's 60-bit portable hash XOR-popcounted against the source's
    // anchor (min-doc_id) hash; the hash is the md5-prefix long BOTH
    // engines compute bit-identically (house sketch-hash pattern), so
    // the oracle is exact. Source-keyed join + aggregates — scales.
    ("q334_hamming_source_drift", (s, d) => {
      val cat = ensureCatalogRegistered(s, d)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.portableHash(col("text")).as("h"))
        .createOrReplaceTempView("graft_q334_hashes")
      s.sql(s"""
        WITH a AS (
          SELECT source, min_by(h, doc_id) AS anchor_h
          FROM graft_q334_hashes GROUP BY source
        )
        SELECT d.source,
               count(*) AS n_docs,
               CAST(sum($cat.lib.hamming64(d.h, a.anchor_h)) AS BIGINT) AS sum_dist,
               CAST(max($cat.lib.hamming64(d.h, a.anchor_h)) AS BIGINT) AS max_dist
        FROM graft_q334_hashes d JOIN a ON d.source = a.source
        GROUP BY d.source
        ORDER BY d.source
      """)
    }, Some("""
      WITH h AS (
        SELECT doc_id, source,
               ('0x'||substring(md5(text),1,15))::BIGINT AS h
        FROM documents
      ),
      a AS (SELECT source, min_by(h, doc_id) AS anchor_h FROM h GROUP BY source)
      SELECT h.source, count(*)::BIGINT AS n_docs,
             sum(bit_count(xor(h.h, a.anchor_h)))::BIGINT AS sum_dist,
             max(bit_count(xor(h.h, a.anchor_h)))::BIGINT AS max_dist
      FROM h JOIN a ON h.source = a.source
      GROUP BY h.source
      ORDER BY h.source
    """)),

    // ------------------------------------------------------------ segment compaction (round 14)
    // The log-structured table-maintenance rung: the fixture writes the
    // events log as MANY small segments (one per ts-range slice), then
    // `CALL <cat>.corpus.compact(...)` byte-concatenates them into a
    // handful of bins with merged stats sidecars — and the judged
    // aggregate must be HASH-IDENTICAL to the oracle over the original
    // parquet, because compaction is semantically invisible
    // (FrameCatalogSpec also proves before == after and that VERSION
    // AS OF still resolves pre-compaction states from _history/). At
    // 100 TB this is what keeps a streaming-written log scannable: the
    // scan plans one split per compacted bin instead of one per tiny
    // epoch segment, and the driver's file listing stays O(bins).
    ("q335_compacted_rollup", (s, d) => {
      val cat = ensureCompactedFixture(s, d)
      s.sql(s"""
        SELECT event_type,
               count(*) AS n_events,
               min(ts_us) AS first_ts_us,
               max(ts_us) AS last_ts_us,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value
        FROM $cat.corpus.events_compacted
        GROUP BY event_type
        ORDER BY event_type
      """)
    }, Some("""
      SELECT event_type, count(*)::BIGINT AS n_events,
             min(epoch_us(ts::TIMESTAMP)) AS first_ts_us,
             max(epoch_us(ts::TIMESTAMP)) AS last_ts_us,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ row-level DELETE (round 14)
    // The DSv2 delete rung end-to-end: the fixture loads events
    // ts-range-partitioned, then runs TWO SQL DELETEs — a time-window
    // purge (`ts_us < cutoff`: whole old segments deleted METADATA-ONLY
    // from their sidecar bounds, only the straddling segment rewritten)
    // and a user erasure (`user_id = K`: the GDPR path, executor-side
    // rewrites copying surviving raw frames). The judged aggregate over
    // the survivors must match DuckDB computing the same NOT-deleted
    // predicate over the original parquet — so both delete paths have
    // to remove exactly the right rows and nothing else. Originals
    // retire to _history/ (pre-delete snapshots stay addressable until
    // expiry — FrameCatalogSpec proves it); at 100 TB the retention
    // purge touches only sidecars for all but one segment.
    ("q336_delete_survivors", (s, d) => {
      val cat = ensureDeleteFixture(s, d)
      s.sql(s"""
        SELECT user_id,
               count(*) AS n_events,
               min(ts_us) AS first_ts_us,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value
        FROM $cat.corpus.events_gdpr
        GROUP BY user_id
        HAVING count(*) >= 3
        ORDER BY user_id
      """)
    }, Some(s"""
      SELECT user_id, count(*)::BIGINT AS n_events,
             min(epoch_us(ts::TIMESTAMP)) AS first_ts_us,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM events
      WHERE epoch_us(ts::TIMESTAMP) >= $DeleteCutoffUs AND user_id <> $DeleteUserId
      GROUP BY user_id
      HAVING count(*) >= 3
      ORDER BY user_id
    """)),

    // ------------------------------------------------------------ storage-partitioned join (round 14)
    // The last pushdown rung the connector lacked (VERDICT r13 item 5):
    // both tables are created `PARTITIONED BY (bucket(8, user_id))`, so
    // the DSv2 WRITE clusters rows into one segment per bucket
    // (RequiresDistributionAndOrdering) and the SCAN reports
    // KeyGroupedPartitioning over the catalog's own `bucket` V2
    // function — Spark's storage-partitioned join then aligns the two
    // sides partition-for-partition and the join runs with ZERO
    // exchange on either side (FrameCatalogSpec asserts no Exchange in
    // the executed plan; this judged query proves the whole
    // write-placement → reported-partitioning → SPJ loop computes the
    // right answer). At 100 TB this is the difference between
    // shuffling two fact tables and shuffling nothing.
    ("q337_bucketed_spj_join", (s, d) => {
      val cat = ensureBucketedFixture(s, d)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.sql(s"""
        SELECT e.user_id,
               max(u.n_events) AS n_events_total,
               count(*) AS n_purchases,
               max(e.ts_us) AS last_ts_us
        FROM $cat.corpus.events_bucketed e
        JOIN $cat.corpus.user_stats u ON e.user_id = u.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
        ORDER BY e.user_id
      """)
    }, Some("""
      WITH u AS (SELECT user_id, count(*)::BIGINT AS n_events FROM events GROUP BY user_id)
      SELECT e.user_id, max(u.n_events) AS n_events_total,
             count(*)::BIGINT AS n_purchases,
             max(epoch_us(e.ts::TIMESTAMP)) AS last_ts_us
      FROM events e JOIN u ON e.user_id = u.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id
      ORDER BY e.user_id
    """)),

    // ------------------------------------------------------------ REPLACE WHERE (round 14)
    // Filter-based overwrite — the backfill shape: `INSERT INTO t
    // REPLACE WHERE ts_us >= cutoff SELECT <recomputed slice>` swaps a
    // time slice in ONE command. The delete half rides the maintenance
    // machinery (old segments fully inside the slice retire
    // metadata-only from their sidecar bounds, the straddler rewrites
    // executor-side, pre-replace snapshots stay addressable) and the
    // append half is the normal exactly-once commit. The fixture
    // replaces the tail slice with value*2 rows; the judged rollup
    // must match DuckDB computing the same piecewise relation over the
    // original parquet — so the slice boundary has to be exact on both
    // the delete and the reinsert. At 100 TB this is the nightly
    // recompute-last-day pattern costing sidecar reads + one day's
    // segments, never a table rewrite.
    ("q340_replace_where_backfill", (s, d) => {
      val cat = ensureReplaceFixture(s, d)
      s.sql(s"""
        SELECT event_type,
               count(*) AS n_events,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value,
               min(ts_us) AS first_ts_us,
               max(ts_us) AS last_ts_us
        FROM $cat.corpus.events_replace
        GROUP BY event_type
        ORDER BY event_type
      """)
    }, Some(s"""
      WITH t AS (
        SELECT event_type, epoch_us(ts::TIMESTAMP) AS ts_us,
               CASE WHEN epoch_us(ts::TIMESTAMP) >= $ReplaceCutoffUs
                    THEN value * 2 ELSE value END AS value
        FROM events)
      SELECT event_type, count(*)::BIGINT AS n_events,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value,
             min(ts_us) AS first_ts_us, max(ts_us) AS last_ts_us
      FROM t
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ SQL UPDATE (round 14)
    // The group-based row-level rewrite end-to-end: the fixture runs an
    // UPDATE whose condition (`user_id % 5 = 2`) the sidecar filters
    // CANNOT express, so it routes through SupportsRowLevelOperations —
    // Spark's runtime group filter narrows the read-and-replace set to
    // segments actually containing matches, affected segments are read
    // WHOLE (prune-only filter mode), their new contents republish as
    // appends, and the originals retire to _history/ in one delete
    // version. The judged rollup must match DuckDB computing the same
    // CASE over the original parquet — both the matched rewrite and
    // the untouched-row copy-through have to be exact.
    ("q341_sql_update", (s, d) => {
      val cat = ensureUpdateFixture(s, d)
      s.sql(s"""
        SELECT event_type,
               count(*) AS n_events,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value
        FROM $cat.corpus.events_update
        GROUP BY event_type
        ORDER BY event_type
      """)
    }, Some("""
      WITH t AS (
        SELECT event_type,
               CASE WHEN event_type = 'view' AND user_id % 5 = 2
                    THEN value * 3 ELSE value END AS value
        FROM events)
      SELECT event_type, count(*)::BIGINT AS n_events,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM t
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ composite filter pushdown (round 14)
    // Disjunctions/negations/IN-lists evaluated INSIDE the scan with
    // exact SQL three-valued semantics (a NULL operand is UNKNOWN, not
    // false — FrameCatalogSpec pins the 3VL edge cases): this judged
    // read pushes `(type IN (...) AND value >= x) OR value >= y` whole,
    // so non-matching frames never allocate a row, and the OR's range
    // disjuncts prune whole ts-sliced segments via the sidecars where
    // they can. The DuckDB oracle over the original parquet proves the
    // composite evaluation row-exact.
    ("q343_composite_pushdown", (s, d) => {
      frames(s, d)
        .filter((col("event_type").isin("click", "purchase") && col("value") >= 400.0)
          || col("value") >= 495.0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             min("event_id").as("min_event"),
             max("event_id").as("max_event"),
             graft.operators.Quant.quant6(sum("value")).as("sum_value"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, count(*)::BIGINT AS n_events,
             min(event_id) AS min_event, max(event_id) AS max_event,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM events
      WHERE (event_type IN ('click', 'purchase') AND value >= 400.0)
         OR value >= 495.0
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ change data feed (round 14)
    // Row-level CDC with NO stored change log: the feed is derived
    // exactly from the event history — appends are inserts, DELETE
    // operations contribute retired rows (metadata-deleted segments
    // whole; rewrite survivors subtracted by a byte-exact subsequence
    // walk over raw frames, which maintenance rewrites copy in order),
    // compaction contributes nothing. This judged query replays the
    // q336 GDPR fixture's feed from version 0 and must reproduce, per
    // event_type, exactly the insert count, delete count, the SUM OF
    // DELETED EVENT IDS and the latest deleted timestamp — an
    // integer-exact witness that the feed names precisely the purged
    // rows (both delete paths) and nothing else. At 100 TB an
    // incremental consumer reads O(changed segments), never the table.
    ("q344_change_feed_audit", (s, d) => {
      val cat = ensureDeleteFixture(s, d)
      val dir = tableDir(d, "events_gdpr")
      val schemaJson = AvroFrames.avroSchemaFor(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType, nullable = false))),
        "events_gdpr")
      val _ = cat // fixture side effect only; the feed reads the log directly
      FrameChanges.read(s, dir.getAbsolutePath, schemaJson, AvroFrames.DefaultSchemaId, 0)
        .groupBy("event_type")
        .agg(count(when(col("_change_type") === "insert", 1)).as("n_inserts"),
             count(when(col("_change_type") === "delete", 1)).as("n_deletes"),
             sum(when(col("_change_type") === "delete", col("event_id"))).as("sum_deleted_ids"),
             max(when(col("_change_type") === "delete", col("ts_us"))).as("max_deleted_ts"))
        .orderBy("event_type")
    }, Some(s"""
      SELECT event_type,
             count(*)::BIGINT AS n_inserts,
             count(CASE WHEN epoch_us(ts::TIMESTAMP) < $DeleteCutoffUs
                          OR user_id = $DeleteUserId THEN 1 END)::BIGINT AS n_deletes,
             sum(CASE WHEN epoch_us(ts::TIMESTAMP) < $DeleteCutoffUs
                        OR user_id = $DeleteUserId THEN event_id END)::BIGINT AS sum_deleted_ids,
             max(CASE WHEN epoch_us(ts::TIMESTAMP) < $DeleteCutoffUs
                        OR user_id = $DeleteUserId
                      THEN epoch_us(ts::TIMESTAMP) END) AS max_deleted_ts
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ incremental materialized view (round 14)
    // The change feed's flagship consumer: a per-user (cnt, sum) rollup
    // maintained INCREMENTALLY — the fixture builds it, then mutates
    // the source (retention DELETE + a late-arriving insert slice) and
    // refreshes again; the second refresh reads ONLY the change units
    // minted since the first (FrameChangesSpec pins the version range)
    // and MERGEs signed deltas into the view through the engine's own
    // row-level ops. The judged read of the VIEW must match DuckDB
    // recomputing the final state from scratch — incremental
    // maintenance and full recompute must be indistinguishable. At
    // 100 TB: merging a day of deltas vs recomputing a trillion-row
    // rollup nightly.
    ("q345_incremental_matview", (s, d) => {
      val cat = ensureMatViewFixture(s, d)
      s.sql(s"""
        SELECT user_id, cnt,
               CAST(floor(sum_v * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_v
        FROM $cat.corpus.user_rollup_mv
        ORDER BY user_id
      """)
    }, Some(s"""
      WITH t AS (
        SELECT user_id, value FROM events
        WHERE epoch_us(ts::TIMESTAMP) >= $DeleteCutoffUs
        UNION ALL
        SELECT user_id, value * 0.5 FROM events WHERE event_type = 'purchase')
      SELECT user_id, count(*)::BIGINT AS cnt,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_v
      FROM t
      GROUP BY user_id
      ORDER BY user_id
    """)),

    // ------------------------------------------------------------ z-order clustered layout (round 14)
    // Data clustering — the layout operation that makes MULTI-column
    // pruning real: the fixture ingests events time-sliced (the layout
    // a stream produces: ts prunes, user_id never does), then
    // `CALL rewrite_clustered(by => 'user_id,ts_us')` re-lays the log
    // out z-ordered, after which the recomputed sidecars are tight on
    // BOTH columns and this user-slice rollup prunes most segments
    // before opening a file (FrameClusterSpec asserts pruning on each
    // dimension separately, plus before/after hash-identity and
    // pre-cluster time travel). The rewrite is version-neutral
    // maintenance — same multiset of rows at every addressable
    // version, zero change-feed rows. At 100 TB: a 2-D selective query
    // touches O(√) of the shards instead of all of them.
    ("q346_zorder_user_slice", (s, d) => {
      val cat = ensureZorderFixture(s, d)
      s.sql(s"""
        SELECT event_type,
               count(*) AS n_events,
               min(ts_us) AS first_ts_us,
               max(ts_us) AS last_ts_us,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value
        FROM $cat.corpus.events_zorder
        WHERE user_id BETWEEN 10 AND 19
        GROUP BY event_type
        ORDER BY event_type
      """)
    }, Some("""
      SELECT event_type, count(*)::BIGINT AS n_events,
             min(epoch_us(ts::TIMESTAMP)) AS first_ts_us,
             max(epoch_us(ts::TIMESTAMP)) AS last_ts_us,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM events
      WHERE user_id BETWEEN 10 AND 19
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ bloom-sidecar point lookup (round 14)
    // The pruning rung min/max cannot provide: the fixture ingests
    // events HASH-distributed on event_id (the unclustered layout a
    // parallel backfill produces — every segment's id range spans the
    // whole table, so range stats prune NOTHING), with write-time Bloom
    // filters on event_id (`TBLPROPERTIES bloomColumns='event_id'`,
    // the parquet-bloom / Iceberg-bloom pattern on the engine's own
    // sidecars). This 8-key IN lookup then opens only the few segments
    // whose filters might contain a key (FrameBloomSpec asserts the
    // Segments=k/16 plan line and that the same layout WITHOUT blooms
    // keeps all 16). At 100 TB this is a point lookup on an unclustered
    // log costing a handful of shard opens instead of a full scan.
    ("q347_bloom_point_lookup", (s, d) => {
      val cat = ensureBloomFixture(s, d)
      s.sql(s"""
        SELECT event_id, user_id, event_type, ts_us,
               CAST(floor(value * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS value_q
        FROM $cat.corpus.events_bloom
        WHERE event_id IN (3, 97, 151, 299, 402, 555, 731, 876)
        ORDER BY event_id
      """)
    }, Some("""
      SELECT event_id, user_id, event_type,
             epoch_us(ts::TIMESTAMP) AS ts_us,
             floor(value * 1000000.0 + 0.5) / 1000000.0 AS value_q
      FROM events
      WHERE event_id IN (3, 97, 151, 299, 402, 555, 731, 876)
      ORDER BY event_id
    """)),

    // ------------------------------------------------------------ schema evolution (round 14)
    // ALTER TABLE ADD COLUMNS on an immutable wire format: the fixture
    // loads the pre-cutoff half of events, evolves the table (+channel,
    // +score — descriptor appends a NEW registry entry, id = max + 1,
    // nothing rewritten), then loads the post-cutoff half WITH values.
    // Every reader resolves each frame's embedded schema id against the
    // CURRENT schema — exactly the Confluent-registry consume path the
    // reference is built around (Processor.java:128-130), made
    // first-class: old frames surface the new columns as NULL. The
    // judged rollup mixes both frame generations — count(channel) and
    // the score sum must split exactly at the cutoff — against DuckDB
    // composing the same piecewise relation from the original parquet.
    // At 100 TB: adding a column costs one descriptor write, not a
    // table rewrite.
    ("q348_schema_evolution", (s, d) => {
      val cat = ensureEvolutionFixture(s, d)
      s.sql(s"""
        SELECT event_type,
               count(*) AS n_events,
               count(channel) AS n_evolved,
               count(DISTINCT channel) AS n_channels,
               CAST(floor(sum(coalesce(score, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS score_sum,
               min(ts_us) AS first_ts_us,
               max(ts_us) AS last_ts_us
        FROM $cat.corpus.events_evo
        GROUP BY event_type
        ORDER BY event_type
      """)
    }, Some(s"""
      SELECT event_type,
             count(*)::BIGINT AS n_events,
             count(CASE WHEN epoch_us(ts::TIMESTAMP) >= $DeleteCutoffUs THEN 1 END)::BIGINT AS n_evolved,
             count(DISTINCT CASE WHEN epoch_us(ts::TIMESTAMP) >= $DeleteCutoffUs
                                 THEN event_type || '-ch' END)::BIGINT AS n_channels,
             floor(sum(CASE WHEN epoch_us(ts::TIMESTAMP) >= $DeleteCutoffUs
                            THEN value * 0.01 ELSE 0 END) * 1000000.0 + 0.5) / 1000000.0 AS score_sum,
             min(epoch_us(ts::TIMESTAMP)) AS first_ts_us,
             max(epoch_us(ts::TIMESTAMP)) AS last_ts_us
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ TopN pushdown (round 14)
    // ORDER BY … LIMIT reaches the scan (SupportsPushDownTopN): each
    // split keeps only its 20 best rows in a bounded heap, so the
    // global top-20 ships ≤ 20 rows PER SEGMENT across the scan
    // boundary instead of every frame — at 100 TB the difference
    // between a leaderboard query reading the log and shuffling it.
    // Partial by contract: Spark's TakeOrderedAndProject merges, so
    // correctness never depends on the heap (FrameScanSpec pins the
    // PushedTopN plan line, null-ordering edge cases, and parity with
    // the unpushed plan). Tie-broken by unique event_id — the judged
    // row set is deterministic and DuckDB-exact.
    ("q349_topn_pushdown", (s, d) => {
      frames(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.operators.Quant.quant6(col("value")).as("value_q"), col("value"))
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(20)
        .select("event_id", "user_id", "event_type", "value_q")
    }, Some("""
      SELECT event_id, user_id, event_type,
             floor(value * 1000000.0 + 0.5) / 1000000.0 AS value_q
      FROM events
      ORDER BY value DESC, event_id
      LIMIT 20
    """)),

    // ------------------------------------------------------------ SQL MERGE INTO (round 14)
    // The upsert statement every CDC/corrections pipeline needs, on the
    // engine's own format: matched purchases get corrected values,
    // unmatched correction rows insert — one MERGE, planned as the
    // same group rewrite as q341 (matched groups retire + republish,
    // inserts ride along as new rows). Oracle: DuckDB composes the
    // same piecewise relation (update half + insert half) from the
    // original parquet; count/sum per type must match exactly.
    ("q342_merge_upsert", (s, d) => {
      val cat = ensureMergeFixture(s, d)
      s.sql(s"""
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value
        FROM $cat.corpus.events_merge
        GROUP BY event_type
        ORDER BY event_type
      """)
    }, Some("""
      WITH base AS (
        SELECT event_id, user_id, event_type,
               CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
        FROM events),
      inserted AS (
        SELECT event_id + 100000000, user_id, 'correction', value * 2
        FROM events WHERE event_type = 'purchase'),
      t AS (SELECT * FROM base UNION ALL SELECT * FROM inserted)
      SELECT event_type, count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM t
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ merge-on-read delete (round 15)
    // Deletion vectors — the Iceberg-v2 position-delete pattern on the
    // engine's own format: the fixture table is
    // `TBLPROPERTIES('deleteMode'='merge-on-read')`, so its two sparse
    // user-erasure DELETEs (both straddle every ts-sliced segment)
    // write tiny `.dv<gen>` position sidecars instead of rewriting the
    // log — the fixture ASSERTS zero data segments were rewritten, and
    // FrameDvSpec pins cumulative second deletes, version-exact time
    // travel through vector history, and compaction folding. Every
    // scan rung (filters, aggregates, limits, the feed) applies the
    // vector, so this post-delete rollup must match DuckDB filtering
    // the original parquet. At 100 TB: a GDPR erasure touching 0.1% of
    // rows in every shard costs O(deleted positions), not a table
    // rewrite — copy-on-write's worst case turned into merge-on-read's
    // best.
    ("q350_mor_sparse_delete", (s, d) => {
      val cat = ensureDvFixture(s, d)
      s.sql(s"""
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value,
               min(ts_us) AS first_ts_us,
               max(ts_us) AS last_ts_us
        FROM $cat.corpus.events_dv
        GROUP BY event_type
        ORDER BY event_type
      """)
    }, Some(s"""
      SELECT event_type, count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value,
             min(epoch_us(ts::TIMESTAMP)) AS first_ts_us,
             max(epoch_us(ts::TIMESTAMP)) AS last_ts_us
      FROM events WHERE user_id NOT IN ($DvUserA, $DvUserB)
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ row-exact CDC from vectors (round 15)
    // What merge-on-read buys the change feed: a vector names the
    // deleted POSITIONS, so the feed reports exactly the erased rows —
    // no group-grain delete+reinsert pairs, no subsequence walk. This
    // audit reads the table's full change feed, keeps only the delete
    // rows, and rolls them up per erased user; DuckDB recomputes the
    // same rows from the original parquet. The erasure-certificate
    // query a GDPR pipeline runs after the purge.
    ("q351_dv_change_audit", (s, d) => {
      val cat = ensureDvFixture(s, d)
      val c = s.sessionState.catalogManager.catalog(cat).asInstanceOf[FrameCatalog]
      val dir = c.resolveTableDir("corpus.events_dv").getAbsolutePath
      val (schemaJson, schemaId) = c.wireSchemaOf("corpus.events_dv")
      FrameChanges.read(s, dir, schemaJson, schemaId, 0, None,
          c.historyJsonOf("corpus.events_dv"))
        .filter(col(FrameChanges.ChangeTypeCol) === "delete")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_deleted"),
          (floor(sum(col("value")) * 1000000.0 + 0.5) / 1000000.0)
            .cast("double").as("sum_deleted"))
        .orderBy("user_id")
    }, Some(s"""
      SELECT user_id, count(*)::BIGINT AS n_deleted,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_deleted
      FROM events WHERE user_id IN ($DvUserA, $DvUserB)
      GROUP BY user_id
      ORDER BY user_id
    """)),

    // ------------------------------------------------------------ full schema evolution (round 15)
    // RENAME + DROP + re-ADD across frame generations: the fixture
    // loads pre-cutoff events, RENAMEs value->amount (the field renames
    // in EVERY stored schema — Avro bytes carry no names, so the old
    // frames keep their values under the new name with zero rewrite),
    // DROPs event_type (history entries tombstone the name), re-ADDs
    // event_type, then loads post-cutoff rows under the final schema.
    // The judged rollup buckets pre-drop rows as 'pre' (their
    // event_type MUST read NULL — never the tombstoned originals) and
    // post-re-add rows by their real type, summing the renamed column
    // across all three generations. Sidecars re-keyed at ALTER time so
    // pushed COUNT/MIN/MAX stay exact (FrameEvolutionSpec pins the
    // resurrection case). At 100 TB: rename/drop cost one descriptor
    // write + O(segments) sidecar re-keys, never a data rewrite.
    ("q352_rename_drop_readd", (s, d) => {
      val cat = ensureRenameDropFixture(s, d)
      s.sql(s"""
        SELECT coalesce(event_type, 'pre') AS etype,
               count(*) AS n_events,
               count(event_type) AS n_typed,
               CAST(floor(sum(amount) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_amount,
               min(ts_us) AS first_ts_us,
               max(ts_us) AS last_ts_us
        FROM $cat.corpus.events_rd
        GROUP BY coalesce(event_type, 'pre')
        ORDER BY etype
      """)
    }, Some(s"""
      WITH t AS (
        SELECT CASE WHEN epoch_us(ts::TIMESTAMP) < $DeleteCutoffUs THEN NULL
                    ELSE event_type END AS event_type,
               value AS amount, epoch_us(ts::TIMESTAMP) AS ts_us
        FROM events)
      SELECT coalesce(event_type, 'pre') AS etype,
             count(*)::BIGINT AS n_events,
             count(event_type)::BIGINT AS n_typed,
             floor(sum(amount) * 1000000.0 + 0.5) / 1000000.0 AS sum_amount,
             min(ts_us) AS first_ts_us,
             max(ts_us) AS last_ts_us
      FROM t
      GROUP BY coalesce(event_type, 'pre')
      ORDER BY etype
    """)),

    // ------------------------------------------------------------ sorted SPJ: zero-exchange, zero-sort (round 15)
    // SupportsReportOrdering closes the last gap in the bucketed join:
    // both tables are bucket(8, user_id) AND sortedBy user_id, so the
    // write sorts within each bucket task, the scan reports the
    // per-partition ordering, and the storage-partitioned sort-merge
    // join runs with ZERO exchange and ZERO sort on either side
    // (FrameCatalogSpec pins both plan properties and the
    // claim-drops-when-unsafe case). At 100 TB this is the fully
    // zero-overhead fact-to-fact join: no shuffle, no re-sort, stream
    // the co-located runs.
    ("q353_sorted_spj_join", (s, d) => {
      val cat = ensureSortedSpjFixture(s, d)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.sql(s"""
        SELECT e.user_id,
               count(*) AS n_events,
               max(u.n_events) AS n_events_total,
               CAST(floor(sum(e.value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value
        FROM $cat.corpus.events_sorted e
        JOIN $cat.corpus.user_stats_sorted u ON e.user_id = u.user_id
        WHERE e.event_type IN ('click', 'purchase')
        GROUP BY e.user_id
        ORDER BY e.user_id
      """)
    }, Some("""
      WITH u AS (SELECT user_id, count(*)::BIGINT AS n_events FROM events GROUP BY user_id)
      SELECT e.user_id, count(*)::BIGINT AS n_events,
             max(u.n_events) AS n_events_total,
             floor(sum(e.value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM events e JOIN u ON e.user_id = u.user_id
      WHERE e.event_type IN ('click', 'purchase')
      GROUP BY e.user_id
      ORDER BY e.user_id
    """)),

    // ------------------------------------------------------------ delta MERGE (merge-on-read, round 15)
    // q342's upsert statement re-run on a merge-on-read table — planned
    // DELTA-based (SupportsDelta, rowId = (_segment, _frame_offset)):
    // matched purchases become deletion-vector positions + re-inserted
    // rows, unmatched corrections plain inserts — the fixture ASSERTS
    // no data segment was retired or rewritten (q342's group rewrite
    // republishes whole segments; this ships only changed rows). The
    // judged rollup must match the same DuckDB piecewise relation as
    // q342 — two physical strategies, one answer. At 100 TB: a CDC
    // upsert wave touching 0.1% of rows costs O(changed rows), not
    // O(touched segments).
    ("q354_delta_merge_upsert", (s, d) => {
      val cat = ensureDeltaMergeFixture(s, d)
      s.sql(s"""
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value
        FROM $cat.corpus.events_dmerge
        GROUP BY event_type
        ORDER BY event_type
      """)
    }, Some("""
      WITH base AS (
        SELECT event_id, user_id, event_type,
               CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
        FROM events),
      inserted AS (
        SELECT event_id + 100000000, user_id, 'correction', value * 2
        FROM events WHERE event_type = 'purchase'),
      t AS (SELECT * FROM base UNION ALL SELECT * FROM inserted)
      SELECT event_type, count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM t
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ LIKE pushdown (round 15)
    // String-match filters reach the scan: `event_type LIKE 'pu%'`
    // pushes as StringStartsWith (evaluated on the decoded record
    // BEFORE row materialization, exact 3VL), and the sidecar prefix
    // bounds prune whole segments whose [min.take(p), max.take(p)]
    // range excludes the prefix — the parquet StartsWith stats rule on
    // the engine's own sidecars (FrameScanSpec pins pruning to <=2/8
    // segments on a prefix-clustered layout plus EndsWith/Contains
    // row-filter parity). At 100 TB: a prefix lookup on a
    // lexicographically-clustered column opens the few shards whose
    // bounds can match.
    ("q355_like_prefix_pushdown", (s, d) => {
      frames(s, d)
        .filter(col("event_type").startsWith("pu"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          (floor(sum(col("value")) * 1000000.0 + 0.5) / 1000000.0)
            .cast("double").as("sum_value"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM events
      WHERE event_type LIKE 'pu%'
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ hidden time partitioning (round 16)
    // `PARTITIONED BY (days(ts_us))` — the commonest 100-TB ingest
    // layout as a first-class table layout (VERDICT r15 item 2): ONE
    // INSERT splits into per-day segments (`-T<day>` name token), and
    // this ten-day window rollup PRUNES every other day's segments
    // from the NAMES alone — before any stats sidecar or ledger entry
    // is consulted (the fixture asserts the plan's Segments=k/n line
    // matches exactly the in-window day tokens). Hidden partitioning
    // proper: the query filters on ts_us and never mentions the
    // transform. Partition-grain lifecycle ops ride the same token
    // (per-partition compaction bins, `CALL compact(partition => d)`
    // scoping, metadata-only day drops — FramePartitionSpec). At
    // 100 TB: time-windowed reads and retention touch exactly the
    // in-window partitions of a petabyte log, planned from names.
    ("q356_partitioned_days_prune", (s, d) => {
      val cat = ensurePartFixture(s, d)
      s.sql(s"""
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value,
               min(ts_us) AS first_ts_us,
               max(ts_us) AS last_ts_us
        FROM $cat.corpus.events_part
        WHERE ts_us >= $PartWindowLoUs AND ts_us < $PartWindowHiUs
        GROUP BY event_type
        ORDER BY event_type
      """)
    }, Some(s"""
      SELECT event_type, count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value,
             min(epoch_us(ts::TIMESTAMP)) AS first_ts_us,
             max(epoch_us(ts::TIMESTAMP)) AS last_ts_us
      FROM events
      WHERE epoch_us(ts::TIMESTAMP) >= $PartWindowLoUs
        AND epoch_us(ts::TIMESTAMP) < $PartWindowHiUs
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ snapshot rollback + tags (round 16)
    // The ops answer to "a bad backfill just landed" (VERDICT r15
    // item 3): the fixture tags the clean state (`CALL create_tag`),
    // lands a corrupt duplicate slice, then `CALL rollback(version =>
    // 'clean')` — ONE version-minting operation that retires the bad
    // segments (still time-travelable: the fixture asserts the bad
    // version remains addressable and that the rollback version's
    // change feed is exactly the bad rows as deletes). The judged
    // rollup reads BOTH the current table and `VERSION AS OF 'clean'`
    // (tag-addressed time travel) and must match DuckDB over the
    // original events — current state == tagged state == the truth.
    // At 100 TB: recovery is O(delta files) of metadata moves, zero
    // data bytes copied, nothing about the event history rewritten.
    ("q357_rollback_tag_audit", (s, d) => {
      val cat = ensureRollbackFixture(s, d)
      s.sql(s"""
        SELECT cur.event_type,
               cur.n_events,
               tag.n_events AS n_events_tagged,
               cur.sum_value
        FROM (SELECT event_type, count(*) AS n_events,
                     CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value
              FROM $cat.corpus.events_rb GROUP BY event_type) cur
        JOIN (SELECT event_type, count(*) AS n_events
              FROM $cat.corpus.events_rb VERSION AS OF 'clean' GROUP BY event_type) tag
          ON cur.event_type = tag.event_type
        ORDER BY cur.event_type
      """)
    }, Some("""
      SELECT event_type, count(*)::BIGINT AS n_events,
             count(*)::BIGINT AS n_events_tagged,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ streaming partitioned ingest (round 17)
    // The 100-TB ingest shape end-to-end on the judged surface
    // (VERDICT r16 item 5): a REAL streaming query — the engine's own
    // micro-batch source, admission-controlled into several epochs —
    // lands the events in a days-partitioned table via the partitioned
    // streaming sink (per-epoch, per-day segment routing with
    // exactly-once replay keyed on the epoch tag). The judged per-day
    // rollup over the STREAM-BUILT table must match DuckDB over the
    // original parquet: streaming ingest lost nothing, duplicated
    // nothing, and routed every row to the right day. At 100 TB:
    // continuous ingest → day partitions → windowed reads → retention,
    // all on one table.
    ("q360_stream_partitioned_ingest", (s, d) => {
      val cat = ensureStreamPartFixture(s, d)
      s.sql(s"""
        SELECT CAST(floor(ts_us / 86400000000.0) AS BIGINT) AS day,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value
        FROM $cat.corpus.events_stream
        GROUP BY 1
        ORDER BY 1
      """)
    }, Some("""
      SELECT CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000.0) AS BIGINT) AS day,
             count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
      FROM events
      GROUP BY 1
      ORDER BY 1
    """)),

    // ------------------------------------------------------------ partition retention (round 17)
    // `CALL drop_partitions` itself on the oracle surface: the fixture
    // loads ALL events into a days-partitioned table, then retention
    // drops every day before the window start — ONE metadata-only
    // delete version, classified from segment names alone, zero data
    // bytes touched (the fixture asserts byte-identical retirement and
    // that time travel still serves the full pre-retention history).
    // The judged FULL-TABLE rollup over the post-retention table must
    // equal DuckDB over the original events WITH the time predicate —
    // i.e. the retention sweep removed exactly the old days' rows and
    // nothing else. At 100 TB: the nightly retention job is O(dropped
    // segments) metadata moves, and this query is its audit.
    ("q361_partition_retention", (s, d) => {
      val cat = ensureRetentionFixture(s, d)
      s.sql(s"""
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS sum_value,
               min(ts_us) AS first_ts_us
        FROM $cat.corpus.events_retain
        GROUP BY event_type
        ORDER BY event_type
      """)
    }, Some(s"""
      SELECT event_type, count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value,
             min(epoch_us(ts::TIMESTAMP)) AS first_ts_us
      FROM events
      WHERE epoch_us(ts::TIMESTAMP) >= $PartWindowLoUs
      GROUP BY event_type
      ORDER BY event_type
    """))
  )

  /** An events catalog fixture: [[FrameFixtures.inCatalog]] stamped
    * with the events row count, which `build` receives next to the
    * catalog name.
    */
  private def eventsFixture(s: SparkSession, d: String, marker: String)(
      build: (String, Long) => Unit): String = {
    val n = Tables.rowCount(s, d, "events")
    FrameFixtures.inCatalog(s, d, marker, n)(build(_, n))
  }

  /** The segment directory of `corpus.<table>` in the per-sfDir catalog. */
  private def tableDir(d: String, table: String): File =
    new File(FrameFixtures.catalog(d).base, s"corpus/$table")

  /** Catalog fixture for q341: events loaded, then one SQL UPDATE with
    * a non-translatable condition through the group rewrite.
    */
  def ensureUpdateFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_UPDATE_READY") { (cat, _) =>
      createEvents(s, cat, "events_update")
      loadEvents(s, d, cat, "events_update", byTime(8))
      s.sql(s"""UPDATE $cat.corpus.events_update SET value = value * 3
                WHERE event_type = 'view' AND user_id % 5 = 2""")
    }

  /** Catalog fixture for q342: events loaded, then one MERGE INTO —
    * purchase corrections (matched update) + synthetic correction rows
    * (not-matched insert).
    */
  def ensureMergeFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_MERGE_READY") { (cat, _) =>
      createEvents(s, cat, "events_merge")
      loadEvents(s, d, cat, "events_merge", byTime(8))
      // corrections: matched purchases double (source ids = existing
      // purchase ids); shadow rows insert as 'correction' events under
      // shifted ids that match nothing
      val corr = s"graft_merge_corr_${FrameFixtures.key(d)}"
      val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("m_ts_us"),
          col("user_id").as("m_user"), (col("value") * 2).as("m_value"))
      purchases.select(col("event_id").as("m_id"), col("m_ts_us"), col("m_user"), col("m_value"))
        .unionByName(purchases.select(
          (col("event_id") + lit(100000000L)).as("m_id"),
          col("m_ts_us"), col("m_user"), col("m_value")))
        .createOrReplaceTempView(corr)
      s.sql(s"""
        MERGE INTO $cat.corpus.events_merge t
        USING (SELECT m_id, m_ts_us, m_user, m_value FROM $corr) s
        ON t.event_id = s.m_id
        WHEN MATCHED THEN UPDATE SET value = s.m_value
        WHEN NOT MATCHED THEN INSERT (event_id, ts_us, user_id, event_type, value)
          VALUES (s.m_id, s.m_ts_us, s.m_user, 'correction', s.m_value)
      """)
    }

  /** Catalog fixture for q340: events loaded ts-range-partitioned,
    * then the tail slice replaced with value-doubled rows through
    * `INSERT INTO … REPLACE WHERE`.
    */
  def ensureReplaceFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_REPLACE_READY") { (cat, _) =>
      createEvents(s, cat, "events_replace")
      val view = loadEvents(s, d, cat, "events_replace", byTime(8))
      s.sql(s"""
        INSERT INTO $cat.corpus.events_replace
        REPLACE WHERE ts_us >= ${ReplaceCutoffUs}L
        SELECT event_id, ts_us, user_id, event_type, value * 2 AS value
        FROM $view WHERE ts_us >= ${ReplaceCutoffUs}L
      """)
    }

  /** Catalog fixture for q337: events + a per-user stats dim, BOTH
    * bucketed 8 ways on user_id through `PARTITIONED BY (bucket(8,
    * user_id))` DDL.
    */
  def ensureBucketedFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_BUCKETED_READY") { (cat, _) =>
      createEvents(s, cat, "events_bucketed", "PARTITIONED BY (bucket(8, user_id))")
      s.sql(s"DROP TABLE IF EXISTS $cat.corpus.user_stats")
      s.sql(s"""CREATE TABLE $cat.corpus.user_stats (
        user_id BIGINT NOT NULL, n_events BIGINT NOT NULL)
        PARTITIONED BY (bucket(8, user_id))""")
      val view = loadEvents(s, d, cat, "events_bucketed", identity)
      s.sql(s"INSERT INTO $cat.corpus.user_stats " +
        s"SELECT user_id, count(*) FROM $view GROUP BY user_id")
    }

  /** Catalog fixture for q335: events written as many small segments
    * (range-partitioned on ts_us), then compacted through the stored
    * procedure.
    */
  def ensureCompactedFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_COMPACTED_READY") { (cat, _) =>
      createEvents(s, cat, "events_compacted")
      loadEvents(s, d, cat, "events_compacted", byTime(16))
      // 16 small segments -> a few bins; target 4x the mean segment size
      val segs = AvroFrames.listSegments(tableDir(d, "events_compacted").getAbsolutePath)
      val target = math.max(1L, segs.map(_.length()).sum / segs.length * 4)
      s.sql(s"CALL $cat.corpus.compact(table => 'corpus.events_compacted', " +
        s"target_bytes => ${target}L)")
    }

  /** Catalog fixture for q336: events loaded ts-range-partitioned,
    * then purged twice through SQL DELETE (retention window +
    * user-id erasure).
    */
  def ensureDeleteFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_GDPR_READY") { (cat, _) =>
      createEvents(s, cat, "events_gdpr")
      loadEvents(s, d, cat, "events_gdpr", byTime(8))
      s.sql(s"DELETE FROM $cat.corpus.events_gdpr WHERE ts_us < ${DeleteCutoffUs}L")
      s.sql(s"DELETE FROM $cat.corpus.events_gdpr WHERE user_id = ${DeleteUserId}L")
    }

  /** Catalog fixture for q345: a source events table plus a per-user
    * (cnt, sum_v) materialized rollup, refreshed TWICE — full build,
    * then source mutation (retention DELETE + late-arriving inserts),
    * then incremental refresh from the change feed. The second
    * refresh's from-version is asserted > 0: this fixture must never
    * silently degrade to a rebuild.
    */
  def ensureMatViewFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_MATVIEW_READY") { (cat, _) =>
      createEvents(s, cat, "events_mv")
      s.sql(s"DROP TABLE IF EXISTS $cat.corpus.user_rollup_mv")
      s.sql(s"""CREATE TABLE $cat.corpus.user_rollup_mv (
        user_id BIGINT NOT NULL, cnt BIGINT NOT NULL, sum_v DOUBLE NOT NULL)""")
      val view = loadEvents(s, d, cat, "events_mv", byTime(8))
      FrameMatView.refresh(s, cat, "corpus.events_mv", "corpus.user_rollup_mv",
        "user_id", "value")
      // source mutation: retention purge + a late-arriving slice
      s.sql(s"DELETE FROM $cat.corpus.events_mv WHERE ts_us < ${DeleteCutoffUs}L")
      s.sql(s"""
        INSERT INTO $cat.corpus.events_mv
        SELECT event_id + 500000000, ts_us, user_id, 'late', value * 0.5
        FROM $view WHERE event_type = 'purchase'
      """)
      val r = FrameMatView.refresh(s, cat, "corpus.events_mv", "corpus.user_rollup_mv",
        "user_id", "value")
      require(r.fromVersion > 0 && r.toVersion > r.fromVersion,
        s"second refresh must be incremental, got $r")
    }

  /** Catalog fixture for q346: events ingested time-sliced (16
    * ts-range segments), then z-order-rewritten on (user_id, ts_us)
    * through the stored procedure.
    */
  def ensureZorderFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_ZORDER_READY") { (cat, _) =>
      createEvents(s, cat, "events_zorder")
      loadEvents(s, d, cat, "events_zorder", byTime(16))
      s.sql(s"CALL $cat.corpus.rewrite_clustered(table => 'corpus.events_zorder', " +
        s"by => 'user_id,ts_us', target_segments => 16)")
    }

  /** Catalog fixture for q347: events HASH-distributed on event_id
    * into 16 segments (min/max spans everything — the layout where
    * only blooms can prune), written with Bloom filters on event_id.
    */
  def ensureBloomFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_BLOOM_READY") { (cat, _) =>
      createEvents(s, cat, "events_bloom",
        "TBLPROPERTIES ('bloomColumns'='event_id', 'bloomExpectedItems'='100000')")
      loadEvents(s, d, cat, "events_bloom", _.repartition(16, col("event_id")))
    }

  /** Catalog fixture for q348: pre-cutoff events loaded under schema
    * v1, table evolved (+channel STRING, +score DOUBLE), post-cutoff
    * events loaded under schema v2 with values.
    */
  def ensureEvolutionFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_EVOLUTION_READY") { (cat, _) =>
      createEvents(s, cat, "events_evo")
      val view = eventsView(s, d, identity)
      s.sql(s"INSERT INTO $cat.corpus.events_evo " +
        s"SELECT * FROM $view WHERE ts_us < ${DeleteCutoffUs}L")
      s.sql(s"ALTER TABLE $cat.corpus.events_evo ADD COLUMNS (channel STRING, score DOUBLE)")
      s.sql(s"""
        INSERT INTO $cat.corpus.events_evo
        SELECT event_id, ts_us, user_id, event_type, value,
               event_type || '-ch' AS channel, value * 0.01 AS score
        FROM $view WHERE ts_us >= ${DeleteCutoffUs}L
      """)
    }

  /** Catalog fixture for q350/q351: events loaded ts-range-partitioned
    * into a `deleteMode='merge-on-read'` table, then two sparse
    * user-erasure DELETEs — each straddles every segment, so each
    * mints deletion vectors, never a rewrite (asserted: the data
    * segment listing is unchanged and live vectors exist).
    */
  def ensureDvFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_DV_READY") { (cat, _) =>
      createEvents(s, cat, "events_dv", "TBLPROPERTIES ('deleteMode'='merge-on-read')")
      loadEvents(s, d, cat, "events_dv", byTime(8))
      val dir = tableDir(d, "events_dv")
      val segsBefore = AvroFrames.listSegments(dir.getAbsolutePath).map(_.getName).toSeq
      s.sql(s"DELETE FROM $cat.corpus.events_dv WHERE user_id = ${DvUserA}L")
      s.sql(s"DELETE FROM $cat.corpus.events_dv WHERE user_id = ${DvUserB}L")
      val segsAfter = AvroFrames.listSegments(dir.getAbsolutePath).map(_.getName).toSeq
      require(segsAfter == segsBefore,
        s"merge-on-read DELETE must not rewrite data segments: $segsBefore -> $segsAfter")
      require(Option(dir.listFiles()).getOrElse(Array.empty)
          .exists(f => FrameDv.isDvName(f.getName)),
        "merge-on-read DELETE must have minted deletion vectors")
    }

  /** Catalog fixture for q352: pre-cutoff events loaded under the
    * original schema, then RENAME COLUMN value->amount, DROP COLUMN
    * event_type, ADD COLUMNS (event_type STRING) — three schema
    * generations, nothing rewritten — then post-cutoff events loaded
    * under the final schema.
    */
  def ensureRenameDropFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_RENAMEDROP_READY") { (cat, _) =>
      createEvents(s, cat, "events_rd")
      val view = eventsView(s, d, identity)
      s.sql(s"INSERT INTO $cat.corpus.events_rd " +
        s"SELECT * FROM $view WHERE ts_us < ${DeleteCutoffUs}L")
      s.sql(s"ALTER TABLE $cat.corpus.events_rd RENAME COLUMN value TO amount")
      s.sql(s"ALTER TABLE $cat.corpus.events_rd DROP COLUMN event_type")
      s.sql(s"ALTER TABLE $cat.corpus.events_rd ADD COLUMNS (event_type STRING)")
      s.sql(s"""
        INSERT INTO $cat.corpus.events_rd
        SELECT event_id, ts_us, user_id, value AS amount, event_type
        FROM $view WHERE ts_us >= ${DeleteCutoffUs}L
      """)
    }

  /** Catalog fixture for q353: events + per-user stats, both
    * `PARTITIONED BY (bucket(8, user_id))` AND `sortedBy='user_id'` —
    * one clustered+sorted insert each, so every bucket holds exactly
    * one internally-sorted segment and the scan can report ordering.
    */
  def ensureSortedSpjFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_SORTEDSPJ_READY") { (cat, _) =>
      createEvents(s, cat, "events_sorted",
        "PARTITIONED BY (bucket(8, user_id)) TBLPROPERTIES ('sortedBy'='user_id')")
      s.sql(s"DROP TABLE IF EXISTS $cat.corpus.user_stats_sorted")
      s.sql(s"""CREATE TABLE $cat.corpus.user_stats_sorted (
        user_id BIGINT NOT NULL, n_events BIGINT NOT NULL)
        PARTITIONED BY (bucket(8, user_id)) TBLPROPERTIES ('sortedBy'='user_id')""")
      val view = loadEvents(s, d, cat, "events_sorted", identity)
      s.sql(s"INSERT INTO $cat.corpus.user_stats_sorted " +
        s"SELECT user_id, count(*) FROM $view GROUP BY user_id")
    }

  /** Catalog fixture for q354: events loaded into a merge-on-read
    * table, then ONE MERGE doubling purchase values and inserting
    * correction rows — planned delta-based, so the fixture asserts the
    * original segments all survive untouched (vectors + appends only).
    */
  def ensureDeltaMergeFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_DELTAMERGE_READY") { (cat, _) =>
      createEvents(s, cat, "events_dmerge", "TBLPROPERTIES ('deleteMode'='merge-on-read')")
      val view = loadEvents(s, d, cat, "events_dmerge", byTime(8))
      val dir = tableDir(d, "events_dmerge")
      val segsBefore = AvroFrames.listSegments(dir.getAbsolutePath).map(_.getName).toSet
      s.sql(s"""
        MERGE INTO $cat.corpus.events_dmerge t
        USING (
          SELECT event_id AS m_id, ts_us AS m_ts_us, user_id AS m_user,
                 value * 2 AS m_value
          FROM $view WHERE event_type = 'purchase'
          UNION ALL
          SELECT event_id + 100000000, ts_us, user_id, value * 2
          FROM $view WHERE event_type = 'purchase') s
        ON t.event_id = s.m_id
        WHEN MATCHED THEN UPDATE SET value = s.m_value
        WHEN NOT MATCHED THEN INSERT (event_id, ts_us, user_id, event_type, value)
          VALUES (s.m_id, s.m_ts_us, s.m_user, 'correction', s.m_value)
      """)
      val segsAfter = AvroFrames.listSegments(dir.getAbsolutePath).map(_.getName).toSet
      require(segsBefore.subsetOf(segsAfter),
        s"delta MERGE must not retire data segments: lost ${segsBefore -- segsAfter}")
      require(Option(dir.listFiles()).getOrElse(Array.empty)
          .exists(f => FrameDv.isDvName(f.getName)),
        "delta MERGE must have minted deletion vectors for the matched rows")
    }

  /** Catalog fixture for q356: events loaded into a
    * `PARTITIONED BY (days(ts_us))` table in ONE insert — the write
    * path splits per day; the fixture asserts every segment carries a
    * partition token and that the judged window's plan keeps exactly
    * the in-window days' segments (name-only partition pruning).
    */
  def ensurePartFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_PART_READY") { (cat, _) =>
      createEvents(s, cat, "events_part", "PARTITIONED BY (days(ts_us))")
      loadEvents(s, d, cat, "events_part", byTime(8))
      val names = AvroFrames.listSegments(tableDir(d, "events_part").getAbsolutePath).map(_.getName)
      require(names.nonEmpty && names.forall(FrameTimePart.valueOf(_).isDefined),
        s"every segment of a partitioned table must carry -T<day>: ${names.toSeq}")
      // the judged window must plan exactly the in-window days' segments
      val dayLo = PartWindowLoUs / 86400000000L
      val dayHi = PartWindowHiUs / 86400000000L // exclusive
      val inWindow = names.count(nm => FrameTimePart.valueOf(nm)
        .exists(pv => pv >= dayLo && pv < dayHi))
      val plan = s.sql(s"""SELECT event_id FROM $cat.corpus.events_part
        WHERE ts_us >= $PartWindowLoUs AND ts_us < $PartWindowHiUs""")
        .queryExecution.executedPlan.toString
      // round 17: the sharded ledger means a partition-pruned plan only
      // ever PARSES the in-window shards, so the reported universe is
      // the shard-pruned superset (<= all segments), not the full log —
      // the invariant is that exactly the in-window days are planned
      val seg = "Segments=(\\d+)/(\\d+) after stat-pruning".r.findFirstMatchIn(plan)
      require(seg.exists(m => m.group(1).toInt == inWindow &&
          m.group(2).toInt <= names.length),
        s"window plan must prune to $inWindow of <=${names.length} segments:\n$plan")
    }

  /** Catalog fixture for q360: the events table ingested into a
    * days-partitioned catalog table BY A REAL STREAMING QUERY — the
    * engine's own micro-batch source tails a staging frame log
    * (admission-controlled to force several epochs) and the
    * partitioned streaming sink routes every epoch's rows into per-day
    * segments: the stream → day partitions → retention ingest shape.
    * Asserts every published segment carries its day token and the
    * table holds exactly the source rows (exactly-once across the
    * multi-epoch run).
    */
  def ensureStreamPartFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_STREAMPART_READY") { (cat, n) =>
      createEvents(s, cat, "events_stream", "PARTITIONED BY (days(ts_us))")
      val src = ensureFixture(s, d) // staging frame log of the events rows
      val ck = new File(FrameFixtures.catalog(d).base, "_events_stream_ck")
      def rmTree(f: File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
        f.delete()
      }
      rmTree(ck)
      val q = s.readStream.format("graft.sources.AvroFrameDataSource")
        .option("path", src)
        .option("avroSchema", EventsAvroSchema)
        .option("schemaId", EventsSchemaId.toString)
        .option("maxSegmentsPerTrigger", "2") // several micro-batches, not one
        .load()
        .writeStream
        .option("checkpointLocation", ck.getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.corpus.events_stream")
      q.awaitTermination(180000)
      val names = AvroFrames.listSegments(tableDir(d, "events_stream").getAbsolutePath).map(_.getName)
      require(names.nonEmpty && names.forall(FrameTimePart.valueOf(_).isDefined),
        s"streamed segments must carry -T<day> tokens: ${names.take(8).toSeq}")
      require(s.table(s"$cat.corpus.events_stream").count() == n,
        "streaming ingest must land exactly the source rows, exactly once")
    }

  /** Catalog fixture for q361: all events loaded into a
    * days-partitioned table, then `CALL drop_partitions` retires every
    * day before the judged window start as ONE metadata-only delete
    * version. Asserts the drop was metadata-only (every retired
    * segment byte-identical in `_history/`, no replacement minted),
    * that the surviving live set is exactly the in/after-window days,
    * and that time travel to the pre-retention version still serves
    * the full history.
    */
  def ensureRetentionFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_RETAIN_READY") { (cat, n) =>
      createEvents(s, cat, "events_retain", "PARTITIONED BY (days(ts_us))")
      loadEvents(s, d, cat, "events_retain", byTime(8))
      val dir = tableDir(d, "events_retain")
      val dayLo = PartWindowLoUs / 86400000000L
      val before = AvroFrames.listSegments(dir.getAbsolutePath)
        .map(f => f.getName -> f.length()).toMap
      val victims = before.keySet.filter(nm =>
        FrameTimePart.valueOf(nm).exists(_ < dayLo))
      val preV = FrameMaintenance.totalVersions(dir)
      val res = s.sql(s"CALL $cat.corpus.drop_partitions(" +
        s"table => 'corpus.events_retain', older_than => ${dayLo}L)").collect()(0)
      require(res.getInt(1) == victims.size,
        s"retention must drop exactly the pre-window segments: $res vs ${victims.size}")
      // metadata-only: every victim sits in _history byte-identical
      victims.foreach { nm =>
        val h = new File(dir, s"_history/$nm")
        require(h.isFile && h.length() == before(nm),
          s"$nm must retire byte-identical (metadata-only drop)")
      }
      val live = AvroFrames.listSegments(dir.getAbsolutePath).map(_.getName)
      require(live.forall(nm => FrameTimePart.valueOf(nm).exists(_ >= dayLo)),
        s"only in/after-window days may survive: ${live.toSeq}")
      // the full pre-retention history stays time-travelable
      require(s.sql(
        s"SELECT count(*) FROM $cat.corpus.events_retain VERSION AS OF $preV")
        .collect()(0).getLong(0) == n,
        "pre-retention snapshot must still serve all rows")
    }

  /** Catalog fixture for q357: events loaded, clean state tagged, a
    * corrupt duplicate slice landed, then rolled back by TAG. Asserts
    * the rollback restored the clean state, the bad version stays
    * addressable, and the rollback version's change feed is exactly
    * the bad rows as deletes.
    */
  def ensureRollbackFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_ROLLBACK_READY") { (cat, n) =>
      createEvents(s, cat, "events_rb")
      loadEvents(s, d, cat, "events_rb", byTime(8))
      s.sql(s"CALL $cat.sys.create_tag(table => 'corpus.events_rb', tag => 'clean')")
      val dir = tableDir(d, "events_rb")
      val cleanV = FrameMaintenance.totalVersions(dir)
      // the bad backfill: a duplicated purchase slice at 10x value
      val bad = s"graft_rb_bad_${FrameFixtures.key(d)}"
      Tables.events(s, d).filter(col("event_type") === "purchase")
        .select((col("event_id") + 500000000L).as("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("user_id"),
          col("event_type"), (col("value") * 10).as("value"))
        .coalesce(2)
        .createOrReplaceTempView(bad)
      s.sql(s"INSERT INTO $cat.corpus.events_rb SELECT * FROM $bad")
      val badV = FrameMaintenance.totalVersions(dir)
      require(badV > cleanV, "bad backfill must have minted versions")
      s.sql(s"CALL $cat.sys.rollback(table => 'corpus.events_rb', version => 'clean')")
      // current == clean, bad version still addressable, CDC exact
      require(s.sql(s"SELECT count(*) FROM $cat.corpus.events_rb")
        .collect()(0).getLong(0) == n, "rollback must restore the clean row count")
      val badCount = s.sql(
        s"SELECT count(*) FROM $cat.corpus.events_rb VERSION AS OF $badV")
        .collect()(0).getLong(0)
      require(badCount > n, "the bad version must stay addressable after rollback")
      val deltas = s.sql(s"""SELECT _change_type, count(*) FROM $cat.corpus.events_rb.changes
        WHERE _commit_version > $badV GROUP BY 1""").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      require(deltas.keySet == Set("delete") && deltas("delete") == badCount - n,
        s"rollback CDC must be exactly the bad rows as deletes, got $deltas")
    }

  /** Register the per-sfDir frame catalog and return its name. */
  def ensureCatalogRegistered(s: SparkSession, d: String): String =
    FrameFixtures.register(s, d).name

  /** Catalog fixture for q330: the events table loaded through SQL
    * DDL/DML.
    */
  def ensureCatalogFixture(s: SparkSession, d: String): String =
    eventsFixture(s, d, "_READY") { (cat, _) =>
      createEvents(s, cat, "events")
      loadEvents(s, d, cat, "events", byTime(8))
    }
}
