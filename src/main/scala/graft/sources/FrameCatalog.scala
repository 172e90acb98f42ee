package graft.sources

import java.io.File
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NonEmptyNamespaceException, NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Catalog plugin over a directory tree of framed-Avro segment logs —
  * the metastore rung of the engine's own connector (SURVEY §2.2
  * C1/C15; the reference wires its source by hand in code,
  * `Processor.java:118-138` — this is what makes the same transport a
  * first-class SQL citizen):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.frames", "graft.sources.FrameCatalog")
  * spark.conf.set("spark.sql.catalog.frames.base", "/data/frame-logs")
  * spark.sql("CREATE NAMESPACE frames.corpus")
  * spark.sql("CREATE TABLE frames.corpus.events (event_id BIGINT, ...)")
  * spark.sql("INSERT INTO frames.corpus.events SELECT ...")
  * spark.sql("SELECT ... FROM frames.corpus.events")   // full pushdown
  * }}}
  *
  * Layout: `<base>/<namespace>/<table>/` holds the segment files, the
  * stats sidecars, and a `_table.json` descriptor (the Avro writer
  * schema — derived from the CREATE TABLE columns — plus the expected
  * embedded schema id). Everything the scan/write paths offer
  * (projection/filter/aggregate/limit pushdown, stat-pruning, metadata
  * columns, exactly-once commit) applies identically through SQL,
  * because loadTable returns the SAME [[AvroFrameTable]] the
  * path-based API builds.
  *
  * Filesystem-as-metastore is deliberate: table existence is the
  * descriptor file's existence, so concurrent readers need no extra
  * coordination service — the pattern of path-based lakehouse
  * catalogs. At 100 TB the catalog holds directory pointers, never
  * data; no operation here scales with row count.
  */
class FrameCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  import FrameCatalog._

  private var catalogName: String = _
  private var base: File = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val b = options.get("base")
    require(b != null,
      s"catalog '$name' requires option spark.sql.catalog.$name.base (root directory)")
    base = new File(b)
    base.mkdirs()
  }

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  /** Every namespace/table identifier segment must be a plain name
    * BEFORE it is used as a path component: drop/rename/namespace ops
    * delete recursively, so a backquoted `..` (or a segment containing
    * a separator) must never reach the filesystem — `DROP NAMESPACE
    * cat.`..` CASCADE` would otherwise delete everything above the
    * catalog base. Leading `_`/`.` are reserved for catalog metadata
    * files (`_table.json`, temp files), so they are rejected too.
    */
  private def isSafe(seg: String): Boolean =
    seg != null && seg.matches("[A-Za-z0-9][A-Za-z0-9_.-]*") && !seg.contains("..")

  private def checkSegment(seg: String): String = {
    require(isSafe(seg),
      s"unsafe catalog identifier segment '$seg': segments must match " +
        "[A-Za-z0-9][A-Za-z0-9_.-]* and must not contain '..'")
    seg
  }

  private def nsDir(ns: Array[String]): File = {
    require(ns.length == 1,
      s"frame catalog namespaces are single-level, got ${ns.mkString(".")}")
    new File(base, checkSegment(ns(0)))
  }

  private def tableDir(ident: Identifier): File =
    new File(nsDir(ident.namespace), checkSegment(ident.name))

  private def isTable(dir: File): Boolean = new File(dir, TableDescriptor).isFile

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] =
    Option(base.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(f => Array(f.getName)).sortBy(_.head)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // no nesting
    else throw new NoSuchNamespaceException(namespace)

  // exists-checks answer false for unsafe segments (Spark probes
  // during resolution); mutating ops go through checkSegment and throw
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && isSafe(namespace(0)) && nsDir(namespace).isDirectory

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    nsDir(namespace).mkdirs()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("frame catalog namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val dir = nsDir(namespace)
    val tables = Option(dir.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
    if (tables.nonEmpty && !cascade) throw new NonEmptyNamespaceException(namespace)
    deleteRecursively(dir)
    true
  }

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Option(nsDir(namespace).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && isTable(d))
      .map(d => Identifier.of(namespace, d.getName)).sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && isSafe(ident.namespace()(0)) &&
      isSafe(ident.name) && isTable(tableDir(ident))

  /** Metadata tables (round 14) — the Iceberg-style SQL inspection
    * surface: `SELECT * FROM cat.ns.t.segments` / `cat.ns.t.history`.
    * Spark parses the extra path step as a 2-level namespace, so a
    * load of `(ns, t).segments` where `(ns).t` is a real table serves
    * the metadata relation instead. Driver-built rows, O(segments) /
    * O(history events) — metadata, never data.
    */
  override def loadTable(ident: Identifier): Table = {
    if (ident.namespace.length == 2 && FrameMetaTables.names.contains(ident.name)) {
      val inner = Identifier.of(Array(ident.namespace()(0)), ident.namespace()(1))
      if (tableExists(inner))
        return new FrameMetaTable(ident.name, tableDir(inner))
    }
    // `SELECT * FROM cat.ns.t.changes` (round 15): the change data feed
    // as a first-class SQL relation — the whole history by default;
    // `WHERE _commit_version > n` narrows it (or use the reader options
    // for planning-time version bounds). Same scan the DataFrame API
    // builds, configured from the table's own descriptor.
    if (ident.namespace.length == 2 && ident.name == "changes") {
      val inner = Identifier.of(Array(ident.namespace()(0)), ident.namespace()(1))
      if (tableExists(inner)) {
        val d = readDescriptor(tableDir(inner))
        val opts = new CaseInsensitiveStringMap((Map(
          "path" -> tableDir(inner).getAbsolutePath,
          "avroSchema" -> d.avroSchema,
          "schemaId" -> d.schemaId.toString,
          "changeFeed" -> "true") ++
          d.historyJson.map(h => Map("avroSchemaHistory" -> h)).getOrElse(Map.empty)).asJava)
        return new AvroFrameChangesTable(
          FrameChanges.changeSchema(AvroFrames.sparkSchema(
            new org.apache.avro.Schema.Parser().parse(d.avroSchema))), opts)
      }
    }
    if (ident.namespace.length != 1) throw new NoSuchTableException(ident)
    loadTableAsOf(ident, Map.empty)
  }

  /** Time travel — free on an append-only log. `VERSION AS OF n`
    * addresses the state after the n-th version-minting operation:
    * each appended segment mints one version (the append-count
    * contract) and each DELETE mints one; compaction mints none — it
    * is semantically invisible at every addressable version.
    * `TIMESTAMP AS OF t` replays the log's event history up to t (the
    * job commit restamps every segment to the commit instant, so
    * mtime IS publish time, never task write time). Nothing is copied
    * or snapshotted — immutable segments ARE the history; segments
    * replaced by maintenance stay addressable from `_history/` until
    * `expire_snapshots` drops them ([[FrameMaintenance]]).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // a non-numeric version is a TAG (round 16): `FOR VERSION AS OF
    // 'validated'` resolves through `_tags.json`
    val n = FrameTags.resolveVersionArg(tableDir(ident), version)
    val files = FrameMaintenance.resolveVersion(tableDir(ident), n)
    loadTableAsOf(ident, Map(
      "segmentFiles" -> files.map(_.getAbsolutePath).mkString("\n")))
  }

  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val files = FrameMaintenance.resolveTimestamp(tableDir(ident), timestampMicros / 1000L)
    loadTableAsOf(ident, Map(
      "segmentFiles" -> files.map(_.getAbsolutePath).mkString("\n")))
  }

  private def loadTableAsOf(ident: Identifier, asOf: Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val d = readDescriptor(dir)
    val opts = new CaseInsensitiveStringMap((Map(
      "path" -> dir.getAbsolutePath,
      "avroSchema" -> d.avroSchema,
      "schemaId" -> d.schemaId.toString) ++
      d.bucket.map { case (k, n) => Map("bucketKey" -> k, "buckets" -> n.toString) }
        .getOrElse(Map.empty) ++
      d.bloomColumns.map(c => Map("bloomColumns" -> c)).getOrElse(Map.empty) ++
      d.bloomExpectedItems.map(n => Map("bloomExpectedItems" -> n.toString)).getOrElse(Map.empty) ++
      d.deleteMode.map(m => Map("deleteMode" -> m)).getOrElse(Map.empty) ++
      d.sortedBy.map(c => Map("sortedBy" -> c)).getOrElse(Map.empty) ++
      d.dvFoldThreshold.map(t => Map("dvFoldThreshold" -> t.toString)).getOrElse(Map.empty) ++
      d.timePart.map { case (c, u) =>
        Map("partitionCol" -> c, "partitionUnit" -> u) }.getOrElse(Map.empty) ++
      d.historyJson.map(h => Map("avroSchemaHistory" -> h)).getOrElse(Map.empty) ++
      asOf).asJava)
    new AvroFrameTable(
      AvroFrames.sparkSchema(new org.apache.avro.Schema.Parser().parse(d.avroSchema)), opts)
  }

  /** CREATE TABLE. The only partitioning a segment log supports is
    * `PARTITIONED BY (bucket(n, col))` — hash-bucketed placement, the
    * storage-partitioned-join layout: the write path routes each row
    * to the segment of its bucket ([[AvroFrameWriteBuilder]]
    * `RequiresDistributionAndOrdering`), the scan reports
    * `KeyGroupedPartitioning(bucket(n, col))`, and a join of two
    * tables bucketed the same way runs with ZERO exchange on either
    * side (the q96 bucketed-join discipline, through the connector).
    */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    // PARTITIONED BY: at most one bucket(n, col) + at most one hidden
    // time transform (hours/days/months/years over a BIGINT NOT NULL
    // epoch-micros column) — round 16, the time-partitioned ingest rung
    var bucket: Option[(String, Int)] = None
    var timePart: Option[(String, String)] = None
    info.partitions().foreach {
      case t if t.name == "bucket" =>
        require(bucket.isEmpty, "at most one bucket transform")
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.asInstanceOf[Number].intValue
        }
        val key = t.arguments().collectFirst {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
              if r.fieldNames.length == 1 => r.fieldNames()(0)
        }
        require(n.isDefined && key.isDefined && n.get > 0 && n.get <= 99999,
          s"bucket transform must be bucket(<1..99999>, <column>), got $t")
        val col = info.schema().fields.find(_.name == key.get).getOrElse(
          throw new IllegalArgumentException(s"bucket column ${key.get} not in schema"))
        require(Set[DataType](org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType, StringType).contains(col.dataType),
          s"bucket column must be INT/BIGINT/STRING, got ${col.dataType}")
        bucket = Some((key.get, n.get))
      case t if FrameTimePart.Units.contains(t.name) =>
        require(timePart.isEmpty, "at most one time-partition transform")
        val key = t.arguments().collectFirst {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
              if r.fieldNames.length == 1 => r.fieldNames()(0)
        }
        require(key.isDefined, s"${t.name} transform needs a column argument, got $t")
        val col = info.schema().fields.find(_.name == key.get).getOrElse(
          throw new IllegalArgumentException(s"partition column ${key.get} not in schema"))
        require(col.dataType == org.apache.spark.sql.types.LongType && !col.nullable,
          s"${t.name}(${key.get}): partition column must be BIGINT NOT NULL holding " +
            s"epoch microseconds, got ${col.dataType}" +
            (if (col.nullable) " (nullable)" else ""))
        timePart = Some((key.get, t.name))
      case other => throw new IllegalArgumentException(
        "frame tables support PARTITIONED BY with one optional " +
          "hours/days/months/years(col) transform and one optional bucket(n, col); " +
          s"got $other")
    }
    if (!namespaceExists(ident.namespace)) throw new NoSuchNamespaceException(ident.namespace)
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    dir.mkdirs()
    val avroSchema = AvroFrames.avroSchemaFor(info.schema(), ident.name)
    val schemaId = Option(info.properties().get("schemaId")).map(_.toInt)
      .getOrElse(AvroFrames.DefaultSchemaId)
    // write-time Bloom filter config (TBLPROPERTIES) — validated here so
    // a bad CREATE fails, not the first INSERT
    val bloomCols = Option(info.properties().get("bloomColumns")).map { csv =>
      csv.split(',').map(_.trim).filter(_.nonEmpty).foreach { c =>
        val f = info.schema().fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"bloom column $c not in schema"))
        require(Set[DataType](org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType, StringType).contains(f.dataType),
          s"bloom column $c must be INT/BIGINT/STRING, got ${f.dataType}")
      }
      csv
    }
    val bloomItems = Option(info.properties().get("bloomExpectedItems")).map(_.toLong)
    // row-level DELETE strategy (TBLPROPERTIES): copy-on-write rewrites
    // straddling segments (default); merge-on-read publishes deletion
    // vectors instead — O(deleted rows), folded in by compaction
    val deleteMode = Option(info.properties().get("deleteMode")).map { m =>
      require(m == "copy-on-write" || m == "merge-on-read",
        s"deleteMode must be 'copy-on-write' or 'merge-on-read', got '$m'")
      m
    }
    // write-sorted layout (TBLPROPERTIES 'sortedBy'='col'): every write
    // locally sorts its partitions on the column, so each segment is
    // individually sorted and the scan can report per-split ordering
    // auto DV-fold trigger (TBLPROPERTIES 'dvFoldThreshold'): fraction
    // of a segment's rows its cumulative deletion vector may reach
    // before maintenance folds it; >1 disables, default 0.5
    val dvFold = Option(info.properties().get("dvFoldThreshold")).map { t =>
      val v = t.toDouble
      require(v > 0.0, s"dvFoldThreshold must be positive, got $t")
      v
    }
    val sortedBy = Option(info.properties().get("sortedBy")).map { c =>
      val f = info.schema().fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"sortedBy column $c not in schema"))
      require(Set[DataType](org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.FloatType,
          org.apache.spark.sql.types.DoubleType, StringType).contains(f.dataType),
        s"sortedBy column $c must be an orderable primitive, got ${f.dataType}")
      c
    }
    writeDescriptor(dir,
      Descriptor(avroSchema, schemaId, bucket, bloomCols, bloomItems,
        deleteMode = deleteMode, sortedBy = sortedBy, dvFoldThreshold = dvFold,
        timePart = timePart))
    loadTable(ident)
  }

  /** Schema evolution — `ALTER TABLE … ADD COLUMNS (c TYPE, …)`, the
    * one change an immutable wire format can honor exactly: already-
    * written frames keep their original schema version (the embedded
    * Confluent id IS the version pointer), the descriptor appends a
    * NEW registry entry (id = max + 1) whose schema is the old one
    * plus the nullable new fields, and every reader resolves each
    * frame's writer schema against the CURRENT schema — old frames
    * surface the new columns as NULL (Avro default-value resolution),
    * new writes encode them under the new id. Nothing is rewritten:
    * ADD COLUMNS is O(descriptor). Everything else (drop/rename/
    * retype — changes that would re-interpret existing bytes) stays
    * rejected with the CTAS guidance.
    */
  /** Schema evolution. Three changes an immutable wire format can
    * honor exactly, because Avro binary encodes no field names and
    * resolution runs writer-by-id against the CURRENT schema:
    *
    *  - '''ADD COLUMNS''' (round 14): new registry entry = old schema
    *    plus the nullable fields; old frames read NULL via Avro
    *    default resolution. O(descriptor).
    *  - '''RENAME COLUMN''' (round 15): the field renames in EVERY
    *    stored schema — current AND each history entry. Names are
    *    metadata: the bytes decode identically, and because writer
    *    copies carry the new name, resolution keeps delivering the old
    *    values under it. No new schema id (the wire layout of every
    *    version is unchanged); the bucket layout and bloom config
    *    follow the rename. Old stats sidecars keyed by the old name
    *    simply stop pruning (conservative — `CALL analyze` retrofits).
    *  - '''DROP COLUMN''' (round 15): new registry entry without the
    *    field; in every HISTORY entry the field renames to a reserved
    *    tombstone (`<name>__dropped_<id>`), so a later re-ADD of the
    *    same name can never resurrect pre-drop values (the Iceberg
    *    field-id guarantee, bought with the registry the engine
    *    already owns). Bucket/bloom columns refuse to drop.
    *
    * Retype stays rejected (it would re-interpret existing bytes) with
    * the CTAS guidance.
    */
  /** TBLPROPERTIES an ALTER may change after CREATE (round 16): the
    * BEHAVIORAL knobs — delete strategy, fold threshold, write-time
    * bloom config. Physical-layout properties (bucket/sort/partition)
    * and identity (path/schemaId) stay immutable: segments already on
    * disk embody them.
    */
  private val MutableProps: Set[String] =
    Set("deleteMode", "dvFoldThreshold", "bloomColumns", "bloomExpectedItems")

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // empty change list = the analyzer already discharged everything
    // (DROP COLUMN IF EXISTS on a missing column): a no-op, not an error
    if (changes.isEmpty) return loadTable(ident)
    val supported = changes.forall {
      case _: TableChange.AddColumn | _: TableChange.RenameColumn |
           _: TableChange.DeleteColumn => true
      case p: TableChange.SetProperty    => MutableProps.contains(p.property)
      case p: TableChange.RemoveProperty => MutableProps.contains(p.property)
      case _ => false
    }
    if (!supported)
      throw new UnsupportedOperationException(
        s"ALTER TABLE ${ident.namespace.mkString(".")}.${ident.name}: frame tables " +
          "support ADD COLUMNS (nullable, top-level), RENAME COLUMN, DROP COLUMN, " +
          s"and SET/UNSET TBLPROPERTIES of ${MutableProps.toSeq.sorted.mkString("/")} " +
          "— the Avro writer schema in " +
          s"${new File(tableDir(ident), TableDescriptor).getAbsolutePath} is the wire " +
          "contract every already-written frame was encoded with, and physical-layout " +
          "properties (bucket/sort/partition) are embodied by segments already on " +
          "disk; for any other change (retype etc.), create a new table with the " +
          "desired shape and INSERT INTO it from this one (CTAS works), then RENAME")
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    var d = readDescriptor(dir)
    // renames/drops/property changes apply in statement order; ALL
    // AddColumns of one statement batch into ONE registry entry (one
    // ALTER = one new schema id, however many columns it adds)
    changes.foreach {
      case r: TableChange.RenameColumn   => d = applyRename(ident, d, r)
      case x: TableChange.DeleteColumn   => d = applyDrop(ident, d, x)
      case p: TableChange.SetProperty    => d = applySetProp(d, p.property, p.value)
      case p: TableChange.RemoveProperty => d = applyRemoveProp(d, p.property)
      case _                             => ()
    }
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    if (adds.nonEmpty) d = applyAdds(ident, d, adds)
    writeDescriptor(dir, d)
    loadTable(ident)
  }

  /** Behavioral-property change, validated like CREATE (round 16):
    * `deleteMode` affects FUTURE row-level operations only (existing
    * deletion vectors keep applying to scans either way);
    * `dvFoldThreshold` tunes the auto-fold policy; the bloom config
    * applies to future writes — `CALL analyze(..., bloom_columns)`
    * retrofits existing segments.
    */
  private def applySetProp(d: Descriptor, key: String, value: String): Descriptor =
    key match {
      case "deleteMode" =>
        require(value == "copy-on-write" || value == "merge-on-read",
          s"deleteMode must be 'copy-on-write' or 'merge-on-read', got '$value'")
        d.copy(deleteMode = Some(value))
      case "dvFoldThreshold" =>
        val v = value.toDouble
        require(v > 0.0, s"dvFoldThreshold must be positive, got $value")
        d.copy(dvFoldThreshold = Some(v))
      case "bloomColumns" =>
        val schema = currentSchemaOf(d)
        value.split(',').map(_.trim).filter(_.nonEmpty).foreach { c =>
          val f = schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(s"bloom column $c not in schema"))
          require(Set[DataType](org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.LongType, StringType).contains(f.dataType),
            s"bloom column $c must be INT/BIGINT/STRING, got ${f.dataType}")
        }
        d.copy(bloomColumns = Some(value))
      case "bloomExpectedItems" =>
        val v = value.toLong
        require(v > 0, s"bloomExpectedItems must be positive, got $value")
        d.copy(bloomExpectedItems = Some(v))
      case other => throw new UnsupportedOperationException(s"immutable property $other")
    }

  private def applyRemoveProp(d: Descriptor, key: String): Descriptor = key match {
    case "deleteMode"         => d.copy(deleteMode = None) // default: copy-on-write
    case "dvFoldThreshold"    => d.copy(dvFoldThreshold = None)
    case "bloomColumns"       => d.copy(bloomColumns = None)
    case "bloomExpectedItems" => d.copy(bloomExpectedItems = None)
    case other => throw new UnsupportedOperationException(s"immutable property $other")
  }

  private def currentSchemaOf(d: Descriptor): StructType =
    AvroFrames.sparkSchema(new org.apache.avro.Schema.Parser().parse(d.avroSchema))

  private def applyAdds(ident: Identifier, d: Descriptor,
                        adds: Seq[TableChange.AddColumn]): Descriptor = {
    val current = currentSchemaOf(d)
    val newFields = adds.map { a =>
      require(a.fieldNames.length == 1,
        s"ADD COLUMNS supports top-level columns only, got ${a.fieldNames.mkString(".")}")
      val name = a.fieldNames()(0)
      require(!current.fieldNames.contains(name), s"column $name already exists")
      require(!name.matches(".*__dropped_\\d+"),
        s"column name $name is reserved (drop tombstone)")
      require(a.isNullable,
        s"ADD COLUMNS $name: new columns must be nullable — frames written before " +
          "the change carry no value for them (they read as NULL)")
      org.apache.spark.sql.types.StructField(name, a.dataType(), nullable = true)
    }
    val evolved = StructType(current.fields ++ newFields)
    val newSchema = AvroFrames.avroSchemaFor(evolved, ident.name)
    val newId = (d.history.map(_._1) :+ d.schemaId).max + 1
    d.copy(avroSchema = newSchema, schemaId = newId,
      history = d.history :+ ((newId, newSchema)))
  }

  private def applyRename(ident: Identifier, d: Descriptor,
                          r: TableChange.RenameColumn): Descriptor = {
    require(r.fieldNames.length == 1,
      s"RENAME COLUMN supports top-level columns only, got ${r.fieldNames.mkString(".")}")
    val from = r.fieldNames()(0)
    val to = r.newName()
    val current = currentSchemaOf(d)
    require(current.fieldNames.contains(from), s"column $from does not exist")
    require(!current.fieldNames.contains(to), s"column $to already exists")
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid Avro field name: $to")
    require(!to.matches(".*__dropped_\\d+"),
      s"column name $to is reserved (drop tombstone)")
    // sidecars re-key so the old segments keep pruning/answering under
    // the new name (values unchanged — stats and blooms stay exact)
    FrameMaintenance.rewriteSidecars(tableDir(ident),
      n => Some(if (n == from) to else n))
    d.copy(
      avroSchema = AvroFrames.renameField(d.avroSchema, from, to),
      bucket = d.bucket.map { case (k, n) => (if (k == from) to else k, n) },
      timePart = d.timePart.map { case (c, u) => (if (c == from) to else c, u) },
      bloomColumns = d.bloomColumns.map(_.split(',').map(_.trim)
        .map(c => if (c == from) to else c).mkString(",")),
      sortedBy = d.sortedBy.map(c => if (c == from) to else c),
      history = d.history.map { case (id, schema) =>
        (id, AvroFrames.renameField(schema, from, to))
      })
  }

  private def applyDrop(ident: Identifier, d: Descriptor,
                        x: TableChange.DeleteColumn): Descriptor = {
    require(x.fieldNames.length == 1,
      s"DROP COLUMN supports top-level columns only, got ${x.fieldNames.mkString(".")}")
    val name = x.fieldNames()(0)
    val current = currentSchemaOf(d)
    if (!current.fieldNames.contains(name)) {
      if (x.ifExists()) return d
      throw new IllegalArgumentException(s"column $name does not exist")
    }
    require(current.fields.length > 1, s"cannot drop the only column $name")
    d.bucket.foreach { case (k, _) =>
      require(k != name, s"cannot drop bucket column $name: the table's physical " +
        "layout and reported partitioning key on it") }
    d.bloomColumns.foreach(csv =>
      require(!csv.split(',').map(_.trim).contains(name),
        s"cannot drop bloom column $name: drop the bloom config first"))
    d.sortedBy.foreach(c => require(c != name,
      s"cannot drop sort column $name: the table's physical layout orders on it"))
    d.timePart.foreach { case (c, _) => require(c != name,
      s"cannot drop partition column $name: the table's physical layout and " +
        "partition pruning route on it") }
    val evolved = StructType(current.fields.filterNot(_.name == name))
    val newSchema = AvroFrames.avroSchemaFor(evolved, ident.name)
    val newId = (d.history.map(_._1) :+ d.schemaId).max + 1
    // tombstone the dropped name in every HISTORY entry: a future
    // re-ADD of the same name must read NULL for pre-drop frames, not
    // resurrect their old values (name-based Avro resolution would)
    val tomb = s"${name}__dropped_$newId"
    // strip the dropped field from every sidecar: a later re-ADD of
    // the same name must not inherit the pre-drop generation's stats
    // (pushed COUNT/MIN/MAX and null-test pruning would go wrong)
    FrameMaintenance.rewriteSidecars(tableDir(ident),
      n => if (n == name) None else Some(n))
    d.copy(avroSchema = newSchema, schemaId = newId,
      history = d.history.map { case (id, schema) =>
        (id, AvroFrames.renameField(schema, name, tomb))
      } :+ ((newId, newSchema)))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) return false
    deleteRecursively(dir)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    val ok = FrameCommitIo.impl.renameDir(tableDir(oldIdent), tableDir(newIdent))
    require(ok, s"rename failed: $oldIdent -> $newIdent")
  }

  // ------------------------------------------------------------ functions

  /** V2 catalog functions — the DSv2 UDF surface (SURVEY §2.2 C13/C14's
    * catalog rung). Library functions, available in every namespace
    * like built-ins; `bind` validates arity/types at analysis and the
    * MAGIC_METHOD `invoke` gives Spark a statically-typed entry point
    * it compiles to a direct call inside whole-stage codegen — no row
    * boxing, unlike a classic Scala UDF.
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespaceExists(namespace))
      FrameFunctions.all.keys.toArray.sorted.map(Identifier.of(namespace, _))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    FrameFunctions.all.getOrElse(ident.name, throw new NoSuchFunctionException(ident))

  // ------------------------------------------------------------ procedures

  /** Stored procedures — the table-maintenance surface as first-class
    * SQL (`CALL cat.sys.compact(table => 'ns.t')`), the
    * Iceberg-procedure pattern on the engine's own catalog. Available
    * in every namespace, like the V2 functions.
    */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    FrameProcedures.names.map(Identifier.of(namespace, _))

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    FrameProcedures.load(this, ident.name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown frame-catalog procedure ${ident.name}; " +
          s"available: ${FrameProcedures.names.mkString(", ")}"))

  /** `<namespace>.<table>` string (procedure argument form) → table
    * directory, existence-checked.
    */
  private[graft] def resolveTableDir(multipart: String): File = {
    val parts = multipart.split('.')
    require(parts.length == 2, s"expected <namespace>.<table>, got '$multipart'")
    val ident = Identifier.of(Array(parts(0)), parts(1))
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    dir
  }

  // ------------------------------------------------------------ clone

  /** Zero-copy snapshot clone (round 16): materialize `srcMultipart`'s
    * CURRENT state (or any addressable version/tag) as a brand-new
    * table via HARDLINKS — segments are immutable and maintenance
    * retires by RENAME (the inode persists under the other link), so
    * the two tables can never observe each other's mutations; bytes
    * are shared until one side's lifecycle diverges. Per file:
    * hardlink, with a plain copy fallback (cross-device). The clone
    * gets: the source descriptor minus nothing (schema history, bucket
    * /sort/partition layout, behavioral props all carry), linked stats
    * sidecars, a REBUILT stats ledger, and — when the snapshot carries
    * deletion vectors — a synthesized one-entry manifest declaring
    * them, so replay, scans, and the clone's change feed all see a
    * consistent history (appends, then one dv op). Version tags do NOT
    * copy: the clone's version numbering is its own (the source's tag
    * numbers would silently address different states).
    */
  private[sources] def cloneTable(srcMultipart: String, dstMultipart: String,
                                  version: Option[String]): (Int, Int) = {
    val srcDir = resolveTableDir(srcMultipart)
    val dstParts = dstMultipart.split('.')
    require(dstParts.length == 2, s"expected <namespace>.<table>, got '$dstMultipart'")
    val dstIdent = Identifier.of(Array(checkSegment(dstParts(0))), checkSegment(dstParts(1)))
    if (!namespaceExists(dstIdent.namespace)) throw new NoSuchNamespaceException(dstIdent.namespace)
    if (isTable(tableDir(dstIdent))) throw new TableAlreadyExistsException(dstIdent)
    val d = readDescriptor(srcDir)

    // snapshot file set: live listing + live vectors (current), or the
    // version/tag-addressed resolution (may span _history/)
    val files: Vector[File] = version match {
      case None =>
        AvroFrames.listSegments(srcDir.getAbsolutePath).toVector ++
          AvroFrames.liveDvMap(srcDir.getAbsolutePath).values.toVector.sortBy(_.getName)
      case Some(v) =>
        FrameMaintenance.resolveVersion(srcDir, FrameTags.resolveVersionArg(srcDir, v))
    }
    val dstDir = tableDir(dstIdent)
    dstDir.mkdirs()
    var linked = 0
    var copied = 0
    def bring(src: File, name: String): Unit = {
      val dst = new File(dstDir, name)
      if (FrameCommitIo.impl.link(src, dst)) linked += 1
      else {
        java.nio.file.Files.copy(src.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
        copied += 1
      }
    }
    files.foreach { f =>
      bring(f, f.getName)
      val stats = new File(f.getParentFile, f.getName + ".stats")
      if (stats.isFile) bring(stats, f.getName + ".stats")
    }
    // vectors need a manifest declaration: without one, replay/changes
    // would treat the vectored segments' deleted rows as live history
    val dvNames = files.map(_.getName).filter(FrameDv.isDvName)
    if (dvNames.nonEmpty) {
      val publishMs = math.max(System.currentTimeMillis(),
        files.map(_.lastModified()).max + 1)
      FrameMaintenance.writeManifestForClone(dstDir,
        FrameMaintenance.MaintEntry("dv", publishMs, Vector.empty, Vector.empty,
          dvNames.sorted, expired = false))
    }
    writeDescriptor(dstDir, d)
    FrameStatsLedger.rebuild(dstDir)
    (linked, copied)
  }

  /** Is this table bucketed? (descriptor probe for the maintenance
    * procedures — compaction must not merge across buckets.)
    */
  private[sources] def bucketSpecOf(multipart: String): Option[(String, Int)] = {
    val dir = resolveTableDir(multipart)
    readDescriptor(dir).bucket
  }

  /** Hidden time-partition transform of a table: (source column, unit),
    * None when unpartitioned — the `drop_partitions` retention guard.
    */
  private[sources] def timePartOf(multipart: String): Option[(String, String)] = {
    val dir = resolveTableDir(multipart)
    readDescriptor(dir).timePart
  }

  /** Wire contract of a table: (Avro writer schema JSON, schema id) —
    * what the change-data-feed reader and the maintenance rewrites
    * decode with ([[FrameChanges]], [[FrameMatView]]).
    */
  private[graft] def wireSchemaOf(multipart: String): (String, Int) = {
    val dir = resolveTableDir(multipart)
    val d = readDescriptor(dir)
    (d.avroSchema, d.schemaId)
  }

  /** `avroSchemaHistory` option value for a table (None = single
    * schema version) — what maintenance procedures and the matview
    * refresher pass so multi-version logs decode completely.
    */
  private[graft] def historyJsonOf(multipart: String): Option[String] = {
    val dir = resolveTableDir(multipart)
    readDescriptor(dir).historyJson
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
}

/** The `_table.json` descriptor of a catalog table — its one reader
  * and writer, shared with the descriptor probes of the metadata
  * tables and the maintenance procedures.
  */
object FrameCatalog {

  val TableDescriptor = "_table.json"

  /** The `_table.json` contents: CURRENT wire schema + id, the full
    * schema-version history (id → schema, the table's private
    * registry — populated past one entry by ALTER TABLE ADD COLUMNS),
    * optional bucket layout, optional write-time Bloom filter config.
    */
  private[sources] case class Descriptor(avroSchema: String, schemaId: Int,
                                         bucket: Option[(String, Int)],
                                         bloomColumns: Option[String],
                                         bloomExpectedItems: Option[Long],
                                         history: Vector[(Int, String)] = Vector.empty,
                                         deleteMode: Option[String] = None,
                                         sortedBy: Option[String] = None,
                                         dvFoldThreshold: Option[Double] = None,
                                         timePart: Option[(String, String)] = None) {
    /** History option value for readers/writers; None when the table
      * has a single schema version (zero plumbing overhead).
      */
    def historyJson: Option[String] =
      if (history.length <= 1) None else Some(AvroFrames.historyJson(history))
  }

  /** Swap in a table directory's descriptor: ALTER must never leave a
    * torn one.
    */
  private[sources] def writeDescriptor(dir: File, d: Descriptor): Unit = {
    val n = FrameJson.newObject().put("avroSchema", d.avroSchema).put("schemaId", d.schemaId)
    d.bucket.foreach { case (k, b) => n.put("bucketKey", k).put("buckets", b) }
    d.bloomColumns.foreach(n.put("bloomColumns", _))
    d.bloomExpectedItems.foreach(n.put("bloomExpectedItems", _))
    d.deleteMode.foreach(n.put("deleteMode", _))
    d.sortedBy.foreach(n.put("sortedBy", _))
    d.dvFoldThreshold.foreach(n.put("dvFoldThreshold", _))
    d.timePart.foreach { case (c, u) => n.put("partitionCol", c).put("partitionUnit", u) }
    if (d.history.length > 1)
      n.set[com.fasterxml.jackson.databind.JsonNode]("schemas", FrameJson.historyNode(d.history))
    FrameJson.write(new File(dir, TableDescriptor))(n)
  }

  /** A table directory's descriptor; fails when it is absent, not
    * JSON, or names no schema.
    */
  private[sources] def readDescriptor(dir: File): Descriptor = {
    val f = new File(dir, TableDescriptor)
    val n = FrameJson.read(f)
    val schema = FrameJson.text(n, "avroSchema")
    require(schema.isDefined, s"corrupt table descriptor ${f.getAbsolutePath}")
    val id = FrameJson.int(n, "schemaId", AvroFrames.DefaultSchemaId)
    val buckets = FrameJson.int(n, "buckets", 0)
    val hist = FrameJson.historyOf(n.path("schemas"))
    Descriptor(schema.get, id,
      FrameJson.text(n, "bucketKey").filter(_ => buckets > 0).map((_, buckets)),
      FrameJson.text(n, "bloomColumns"),
      Some(FrameJson.long(n, "bloomExpectedItems", -1L)).filter(_ > 0),
      if (hist.nonEmpty) hist else Vector((id, schema.get)),
      FrameJson.text(n, "deleteMode"), FrameJson.text(n, "sortedBy"),
      FrameJson.double(n, "dvFoldThreshold"),
      for (c <- FrameJson.text(n, "partitionCol"); u <- FrameJson.text(n, "partitionUnit"))
        yield (c, u))
  }
}

/** The catalog's function library. Each function is an
  * [[UnboundFunction]] whose `bind` validates the call site's schema,
  * returning a [[ScalarFunction]] with a MAGIC_METHOD `invoke` —
  * Spark's analyzer resolves that method reflectively and plans a
  * direct (codegen-compatible) call on UTF8String/primitive values.
  */
object FrameFunctions {

  val all: Map[String, UnboundFunction] = Map(
    "jaro_winkler" -> JaroWinklerUnbound,
    "hamming64" -> Hamming64Unbound,
    "bucket" -> BucketUnbound)

  /** Jaro–Winkler similarity as a V2 catalog function — the SAME
    * static kernel as the Catalyst expression
    * ([[graft.expressions.JaroWinkler.similarity]]), so DuckDB's
    * built-in `jaro_winkler_similarity` remains the value-for-value
    * oracle (q159 proved the parity; q331 proves it through the V2
    * dispatch path).
    */
  object JaroWinklerUnbound extends UnboundFunction {
    override def name(): String = "jaro_winkler"
    override def description(): String =
      "jaro_winkler(string, string) -> double: Jaro-Winkler name similarity in [0,1]"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2 &&
          inputType.fields.forall(_.dataType == StringType),
        s"jaro_winkler expects (STRING, STRING), got $inputType")
      JaroWinklerBound
    }
  }

  object JaroWinklerBound extends ScalarFunction[java.lang.Double] {
    override def inputTypes(): Array[DataType] = Array(StringType, StringType)
    override def resultType(): DataType = DoubleType
    override def name(): String = "jaro_winkler"
    override def canonicalName(): String = "graft.jaro_winkler"
    override def isDeterministic: Boolean = true
    override def isResultNullable: Boolean = true // null in -> null out

    /** MAGIC_METHOD entry point: statically resolvable, codegen-direct. */
    def invoke(a: UTF8String, b: UTF8String): java.lang.Double =
      if (a == null || b == null) null
      else Double.box(graft.expressions.JaroWinkler.similarity(a, b))

    /** Interpreted fallback (also the contract Spark checks at bind). */
    override def produceResult(input: InternalRow): java.lang.Double =
      invoke(if (input.isNullAt(0)) null else input.getUTF8String(0),
             if (input.isNullAt(1)) null else input.getUTF8String(1))
  }

  /** Hamming distance between two 64-bit signatures (popcount of xor)
    * — the simhash/fingerprint comparator, as a V2 function with
    * PRIMITIVE-typed magic dispatch: `invoke(long, long): int` compiles
    * to an unboxed direct call (the other magic-method shape next to
    * jaro_winkler's object-typed one). Null-intolerant like the SQL
    * expression `bit_count(a ^ b)`: any NULL input yields NULL.
    */
  object Hamming64Unbound extends UnboundFunction {
    override def name(): String = "hamming64"
    override def description(): String =
      "hamming64(bigint, bigint) -> int: popcount of xor — Hamming distance of 64-bit signatures"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2 &&
          inputType.fields.forall(_.dataType == org.apache.spark.sql.types.LongType),
        s"hamming64 expects (BIGINT, BIGINT), got $inputType")
      Hamming64Bound
    }
  }

  /** The `bucket(n, key)` placement function behind the frame tables'
    * storage-partitioned join: Spark's analyzer resolves the scan's
    * reported bucket transform THROUGH this catalog function
    * (V2ExpressionUtils → FunctionCatalog → bind), and compares both
    * join sides by its canonical name — so two frame tables bucketed
    * with the same n align partition-for-partition. The kernel is
    * bit-equal to the write placement (Spark's HashPartitioning:
    * `pmod(murmur3(key, seed=42), n)`, with NULL hashing to the bare
    * seed), so if Spark ever materializes the function — e.g.
    * partially-clustered distribution shuffling the smaller side — the
    * computed bucket matches the stored one exactly.
    */
  object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n INT, key INT|BIGINT|STRING) -> int: storage bucket ordinal, " +
        "pmod(murmur3(key, 42), n) — the frame write placement"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2 &&
          inputType.fields(0).dataType == org.apache.spark.sql.types.IntegerType,
        s"bucket expects (INT n, key), got $inputType")
      inputType.fields(1).dataType match {
        case org.apache.spark.sql.types.LongType    => BucketLongBound
        case org.apache.spark.sql.types.IntegerType => BucketIntBound
        case StringType                             => BucketStringBound
        case other => throw new UnsupportedOperationException(
          s"bucket key type $other unsupported (INT/BIGINT/STRING)")
      }
    }
  }

  sealed abstract class BucketBound(keyType: DataType) extends ScalarFunction[java.lang.Integer] {
    override def inputTypes(): Array[DataType] =
      Array(org.apache.spark.sql.types.IntegerType, keyType)
    override def resultType(): DataType = org.apache.spark.sql.types.IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isDeterministic: Boolean = true
    override def isResultNullable: Boolean = false

    protected def hashKey(input: InternalRow): Int

    /** pmod(murmur3, n) — exactly HashPartitioning's
      * partitionIdExpression, NULL hashing to the seed.
      */
    override def produceResult(input: InternalRow): java.lang.Integer = {
      val n = input.getInt(0)
      val h = if (input.isNullAt(1)) 42 else hashKey(input)
      val r = h % n
      Int.box(if (r < 0) r + n else r)
    }
  }

  object BucketLongBound extends BucketBound(org.apache.spark.sql.types.LongType) {
    override protected def hashKey(input: InternalRow): Int =
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(input.getLong(1), 42)
  }

  object BucketIntBound extends BucketBound(org.apache.spark.sql.types.IntegerType) {
    override protected def hashKey(input: InternalRow): Int =
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(input.getInt(1), 42)
  }

  object BucketStringBound extends BucketBound(StringType) {
    override protected def hashKey(input: InternalRow): Int = {
      val s = input.getUTF8String(1)
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes(), 42)
    }
  }

  object Hamming64Bound extends ScalarFunction[java.lang.Integer] {
    override def inputTypes(): Array[DataType] =
      Array(org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.LongType)
    override def resultType(): DataType = org.apache.spark.sql.types.IntegerType
    override def name(): String = "hamming64"
    override def canonicalName(): String = "graft.hamming64"
    override def isDeterministic: Boolean = true
    override def isResultNullable: Boolean = true // null in -> null out

    /** MAGIC_METHOD entry point: primitive-typed, unboxed dispatch. */
    def invoke(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

    override def produceResult(input: InternalRow): java.lang.Integer =
      if (input.isNullAt(0) || input.isNullAt(1)) null
      else Int.box(invoke(input.getLong(0), input.getLong(1)))
  }
}

/** The catalog's stored-procedure library ([[FrameCatalog.loadProcedure]]):
  * table maintenance as SQL `CALL`s. Each procedure returns a one-row
  * summary through a [[org.apache.spark.sql.connector.read.LocalScan]]
  * so the caller sees what happened (`CALL` surfaces the row).
  *
  *  - `compact(table, target_bytes)` — merge runs of consecutive small
  *    segments into bins of ≤ target_bytes ([[FrameMaintenance.compact]]).
  *  - `expire_snapshots(table, older_than_ms)` — drop history retained
  *    by maintenance operations published at or before the cutoff
  *    ([[FrameMaintenance.expire]]).
  */
object FrameProcedures {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{IntegerType, LongType, StructField}

  val names: Array[String] =
    Array("analyze", "clone", "compact", "create_tag", "drop_partitions", "drop_tag",
      "expire_snapshots", "remove_orphans", "rewrite_clustered", "rollback")

  def load(cat: FrameCatalog, name: String): Option[UnboundProcedure] = name match {
    case "analyze"           => Some(new AnalyzeProcedure(cat))
    case "clone"             => Some(new CloneProcedure(cat))
    case "compact"           => Some(new CompactProcedure(cat))
    case "create_tag"        => Some(new CreateTagProcedure(cat))
    case "drop_partitions"   => Some(new DropPartitionsProcedure(cat))
    case "drop_tag"          => Some(new DropTagProcedure(cat))
    case "expire_snapshots"  => Some(new ExpireProcedure(cat))
    case "remove_orphans"    => Some(new RemoveOrphansProcedure(cat))
    case "rewrite_clustered" => Some(new RewriteClusteredProcedure(cat))
    case "rollback"          => Some(new RollbackProcedure(cat))
    case _                   => None
  }

  /** One-row result scan for a procedure summary. */
  private def summary(fields: (String, Any)*): java.util.Iterator[Scan] = {
    val schema = StructType(fields.map { case (n, v) =>
      StructField(n, v match { case _: Long => LongType; case _ => IntegerType },
        nullable = false)
    })
    val row = new GenericInternalRow(fields.map(_._2.asInstanceOf[Any]).toArray)
    java.util.Collections.singletonList(new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = schema
    }: Scan).iterator()
  }

  abstract class FrameProcedure extends UnboundProcedure with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false // side-effecting
  }

  class CompactProcedure(cat: FrameCatalog) extends FrameProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "compact(table STRING, target_bytes BIGINT = unbounded): merge runs of " +
        "consecutive small segments into bins of at most target_bytes; " +
        "semantically invisible, replaced segments stay time-travelable until expiry"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<namespace>.<table> in this catalog").build(),
      ProcedureParameter.in("target_bytes", org.apache.spark.sql.types.LongType)
        .defaultValue("9223372036854775807L")
        .comment("max bytes per compacted output segment").build(),
      ProcedureParameter.in("partition", org.apache.spark.sql.types.LongType)
        .defaultValue("CAST(NULL AS BIGINT)")
        .comment("time-partition value to scope to (default: whole table)").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val target = if (input.isNullAt(1)) Long.MaxValue else input.getLong(1)
      val dir = cat.resolveTableDir(table)
      // bucketed tables compact PER BUCKET: bins never merge across
      // buckets, so the replacement keeps its constituents' bucket
      // ordinal and the reported KeyGroupedPartitioning (and every
      // storage-partitioned join on it) survives compaction
      val bucketGroup: java.io.File => Any = cat.bucketSpecOf(table) match {
        case Some((_, n)) => (f: java.io.File) => {
          val b = AvroFrames.bucketOf(f.getName)
          require(b.exists(x => x >= 0 && x < n),
            s"segment ${f.getName} of bucketed table $table carries no valid " +
              "bucket ordinal — refusing to compact (foreign writer?)")
          b.get
        }
        case None => (_: java.io.File) => ()
      }
      // time-partitioned tables compact PER PARTITION: bins never merge
      // across partition values, so the replacement keeps its members'
      // `-T` token and partition pruning survives compaction
      val grouping: java.io.File => Any =
        (f: java.io.File) => (bucketGroup(f), FrameTimePart.valueOf(f.getName))
      // optional partition scope: compact exactly one time partition,
      // leaving every other partition's segments untouched
      val only: Option[Set[String]] =
        if (input.isNullAt(2)) None
        else {
          val pv = input.getLong(2)
          Some(AvroFrames.listSegments(dir.getAbsolutePath)
            .map(_.getName).filter(n => FrameTimePart.valueOf(n).contains(pv)).toSet)
        }
      val res = FrameMaintenance.compact(
        org.apache.spark.sql.SparkSession.active, dir, target, grouping, only)
      summary("compacted_bins" -> res.bins, "replaced_segments" -> res.replacedSegments)
    }
  }

  class DropPartitionsProcedure(cat: FrameCatalog) extends FrameProcedure {
    override def name(): String = "drop_partitions"
    override def description(): String =
      "drop_partitions(table STRING, older_than BIGINT): metadata-only retention " +
        "sweep on a time-partitioned table — retires every segment whose partition " +
        "value is < older_than as ONE delete version (zero data bytes touched); " +
        "dropped partitions stay time-travelable until expiry and the version's " +
        "change feed is exactly the dropped rows as deletes"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<namespace>.<table> in this catalog").build(),
      ProcedureParameter.in("older_than", org.apache.spark.sql.types.LongType)
        .comment("exclusive partition-value cutoff (day/hour/month/year ordinal " +
          "of the table's transform); partitions < this are dropped").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val olderThan = input.getLong(1)
      require(cat.timePartOf(table).isDefined,
        s"drop_partitions: $table is not time-partitioned — retention by " +
          "partition value needs a PARTITIONED BY (days/hours/months/years(col)) table")
      val res = FrameMaintenance.dropPartitions(cat.resolveTableDir(table), olderThan)
      summary("dropped_partitions" -> res.partitions,
        "dropped_segments" -> res.segments)
    }
  }

  class AnalyzeProcedure(cat: FrameCatalog) extends FrameProcedure {
    override def name(): String = "analyze"
    override def description(): String =
      "analyze(table STRING, bloom_columns STRING = NULL, bloom_expected_items " +
        "BIGINT = 100000): recompute every live segment's stats sidecar (decode " +
        "once, executor-side, data untouched) — repairs sidecar-less foreign " +
        "segments and, with bloom_columns, retrofits/restores Bloom payloads " +
        "(maintenance rewrites drop them conservatively)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<namespace>.<table> in this catalog").build(),
      ProcedureParameter.in("bloom_columns", StringType)
        .defaultValue("CAST(NULL AS STRING)")
        .comment("comma-separated INT/BIGINT/STRING columns to bloom-index").build(),
      ProcedureParameter.in("bloom_expected_items", org.apache.spark.sql.types.LongType)
        .defaultValue(AvroFrameWrite.DefaultBloomExpectedItems.toString + "L")
        .comment("fixed filter sizing — keep constant per table so compaction can merge").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val cols =
        if (input.isNullAt(1)) Seq.empty[String]
        else input.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val items = if (input.isNullAt(2)) AvroFrameWrite.DefaultBloomExpectedItems.toLong
        else input.getLong(2)
      val dir = cat.resolveTableDir(table)
      val (schemaJson, schemaId) = cat.wireSchemaOf(table)
      val schema = AvroFrames.sparkSchema(
        new org.apache.avro.Schema.Parser().parse(schemaJson))
      cols.foreach { c =>
        require(schema.fieldNames.contains(c), s"unknown bloom column $c")
        require(Set[DataType](org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType, StringType).contains(schema(c).dataType),
          s"bloom column $c must be INT/BIGINT/STRING, got ${schema(c).dataType}")
      }
      val res = FrameMaintenance.analyze(
        org.apache.spark.sql.SparkSession.active, dir, schemaJson, schemaId, cols, items,
        cat.historyJsonOf(table).orNull)
      summary("analyzed_segments" -> res.analyzed)
    }
  }

  class RewriteClusteredProcedure(cat: FrameCatalog) extends FrameProcedure {
    override def name(): String = "rewrite_clustered"
    override def description(): String =
      "rewrite_clustered(table STRING, by STRING, target_segments INT): re-layout " +
        "the whole log z-ordered on the (comma-separated) numeric cluster columns, " +
        "so sidecar pruning works on every cluster column simultaneously; " +
        "version-neutral like compaction, replaced segments stay time-travelable"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<namespace>.<table> in this catalog").build(),
      ProcedureParameter.in("by", StringType)
        .comment("comma-separated numeric cluster columns, e.g. 'user_id,ts_us'").build(),
      ProcedureParameter.in("target_segments", IntegerType)
        .comment("number of z-range segments to produce").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val by = input.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty)
      val target = input.getInt(2)
      require(cat.bucketSpecOf(table).isEmpty,
        s"cannot z-order BUCKETED table $table: clustering would break the " +
          "one-bucket-per-segment invariant behind its reported partitioning")
      val dir = cat.resolveTableDir(table)
      val (schemaJson, schemaId) = cat.wireSchemaOf(table)
      val res = FrameMaintenance.rewriteClustered(
        org.apache.spark.sql.SparkSession.active, dir, schemaJson, schemaId,
        by.toSeq, target, cat.historyJsonOf(table).orNull)
      summary("segments" -> res.segments, "replaced_segments" -> res.replacedSegments)
    }
  }

  class RemoveOrphansProcedure(cat: FrameCatalog) extends FrameProcedure {
    override def name(): String = "remove_orphans"
    override def description(): String =
      "remove_orphans(table STRING, older_than_ms BIGINT = now - 10 minutes): " +
        "delete dot-prefixed task temps and scratch dirs abandoned by crashed " +
        "writers/maintainers — invisible to readers by construction, pure GC; " +
        "pass a horizon above your longest write job"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<namespace>.<table> in this catalog").build(),
      ProcedureParameter.in("older_than_ms", org.apache.spark.sql.types.LongType)
        .defaultValue("CAST(NULL AS BIGINT)")
        .comment("epoch-millis cutoff (inclusive); default now - 10 min").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val cutoff = if (input.isNullAt(1)) System.currentTimeMillis() - 10 * 60 * 1000L
        else input.getLong(1)
      val removed = FrameMaintenance.removeOrphans(cat.resolveTableDir(table), cutoff)
      summary("removed_files" -> removed)
    }
  }

  class CloneProcedure(cat: FrameCatalog) extends FrameProcedure {
    override def name(): String = "clone"
    override def description(): String =
      "clone(table STRING, target STRING, version STRING = current): materialize a " +
        "snapshot (current, a version number, or a tag) as a NEW independent table " +
        "via hardlinks — zero data bytes copied (copy fallback cross-device); " +
        "immutable segments + rename-based maintenance mean neither table can " +
        "observe the other's mutations. The dev/test-fork rung."
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<namespace>.<table> source in this catalog").build(),
      ProcedureParameter.in("target", StringType)
        .comment("<namespace>.<table> to create (must not exist)").build(),
      ProcedureParameter.in("version", StringType)
        .defaultValue("CAST(NULL AS STRING)")
        .comment("version number or tag; default = the current state").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val target = input.getUTF8String(1).toString
      val version =
        if (input.isNullAt(2)) None else Some(input.getUTF8String(2).toString)
      val (linked, copied) = cat.cloneTable(table, target, version)
      summary("linked_files" -> linked, "copied_files" -> copied)
    }
  }

  class RollbackProcedure(cat: FrameCatalog) extends FrameProcedure {
    override def name(): String = "rollback"
    override def description(): String =
      "rollback(table STRING, version STRING): make the CURRENT table state equal " +
        "the addressed snapshot (a version number or a tag name) as one new " +
        "version-minting operation — retired files stay time-travelable, restored " +
        "files move back from history, the change feed reports the delta row-exactly"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<namespace>.<table> in this catalog").build(),
      ProcedureParameter.in("version", StringType)
        .comment("target version number, or a tag name").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val dir = cat.resolveTableDir(table)
      val v = FrameTags.resolveVersionArg(dir, input.getUTF8String(1).toString)
      val res = FrameMaintenance.rollback(dir, v)
      summary("retired_files" -> res.retired, "restored_files" -> res.restored)
    }
  }

  class CreateTagProcedure(cat: FrameCatalog) extends FrameProcedure {
    override def name(): String = "create_tag"
    override def description(): String =
      "create_tag(table STRING, tag STRING, version BIGINT = current): name an " +
        "addressable version — `FOR VERSION AS OF '<tag>'` and rollback resolve it; " +
        "pure metadata, nothing is pinned against expiry"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<namespace>.<table> in this catalog").build(),
      ProcedureParameter.in("tag", StringType)
        .comment("tag name ([A-Za-z0-9_.-]+, not a bare integer)").build(),
      ProcedureParameter.in("version", org.apache.spark.sql.types.LongType)
        .defaultValue("CAST(NULL AS BIGINT)")
        .comment("version to tag; default = the current version").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val tag = input.getUTF8String(1).toString
      require(tag.matches("[A-Za-z0-9_.-]+") && scala.util.Try(tag.toInt).isFailure,
        s"invalid tag name '$tag': [A-Za-z0-9_.-]+ and not a bare integer " +
          "(integers address versions directly)")
      val dir = cat.resolveTableDir(table)
      val total = FrameMaintenance.totalVersions(dir)
      val v = if (input.isNullAt(2)) total else input.getLong(2).toInt
      require(v >= 0 && v <= total,
        s"cannot tag version $v: $table has $total versions")
      FrameTags.write(dir, FrameTags.read(dir) + (tag -> v))
      summary("tagged_version" -> v)
    }
  }

  class DropTagProcedure(cat: FrameCatalog) extends FrameProcedure {
    override def name(): String = "drop_tag"
    override def description(): String =
      "drop_tag(table STRING, tag STRING): remove a version tag (metadata only)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<namespace>.<table> in this catalog").build(),
      ProcedureParameter.in("tag", StringType).comment("tag name").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val tag = input.getUTF8String(1).toString
      val dir = cat.resolveTableDir(table)
      val tags = FrameTags.read(dir)
      require(tags.contains(tag), s"no tag '$tag' on $table " +
        s"(tags: ${tags.keys.toSeq.sorted.mkString(", ")})")
      FrameTags.write(dir, tags - tag)
      summary("dropped" -> 1)
    }
  }

  class ExpireProcedure(cat: FrameCatalog) extends FrameProcedure {
    override def name(): String = "expire_snapshots"
    override def description(): String =
      "expire_snapshots(table STRING, older_than_ms BIGINT): drop history files " +
        "retained by maintenance operations published at or before the cutoff; " +
        "snapshots needing them stop resolving"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<namespace>.<table> in this catalog").build(),
      ProcedureParameter.in("older_than_ms", org.apache.spark.sql.types.LongType)
        .comment("epoch-millis cutoff (inclusive)").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val cutoff = input.getLong(1)
      val dropped = FrameMaintenance.expire(cat.resolveTableDir(table), cutoff)
      summary("expired_segments" -> dropped)
    }
  }
}
