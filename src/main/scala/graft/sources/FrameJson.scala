package graft.sources

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** How a metadata document of the framed-Avro format is read, written
  * and swapped — the one codec behind the stats sidecars, the stats
  * ledger (root, shards, delta lines), the table descriptor, the
  * maintenance manifest, the version tags, the schema history and the
  * matview/ANN markers.
  *
  * Documents are Jackson trees. A writer builds an [[ObjectNode]] and
  * puts its fields in a fixed order; rendering is compact and keeps
  * insertion order, so that order alone fixes a document's bytes
  * (`FrameJsonSpec` pins them for every document kind).
  * Readers take the tree apart with the typed accessors below, which
  * fail exactly where `JsonParser.getLongValue`/`getIntValue`/
  * `getBooleanValue` fail (a non-number, an integer outside the target
  * range, a non-boolean) — each document's reader decides whether a
  * failure means "absent" or is fatal. An empty document parses to a
  * missing node, never a hang.
  */
object FrameJson {

  private val mapper = new ObjectMapper()

  def parse(json: String): JsonNode = mapper.readTree(json)

  def read(f: File): JsonNode = mapper.readTree(f)

  def render(node: JsonNode): String = mapper.writeValueAsString(node)

  def newObject(): ObjectNode = mapper.createObjectNode()

  /** Atomically replace `target` with `node`: render to `.<name>.tmp`
    * beside it, then [[FrameCommitIo]] `swap`. The only way a metadata
    * document is replaced; the dot prefix keeps a temp stranded by a
    * crash invisible to readers and within `remove_orphans`' sweep.
    */
  def write(target: File)(node: JsonNode): Unit = writeText(target, render(node))

  /** [[write]] for an already rendered document (a task's stats sidecar). */
  def writeText(target: File, json: String): Unit = {
    val tmp = new File(target.getParentFile, "." + target.getName + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, json)
    FrameCommitIo.impl.swap(tmp, target)
  }

  // ------------------------------------------------------------ accessors

  /** `node` itself when it is an object; fails otherwise (an empty or
    * truncated document included).
    */
  def requireObject(node: JsonNode): JsonNode = {
    require(node.isObject, s"metadata document is not a JSON object: ${node.getNodeType}")
    node
  }

  def asLong(v: JsonNode): Long = {
    require(v.isNumber && v.canConvertToLong, s"not a 64-bit integer: $v")
    v.longValue
  }

  def long(n: JsonNode, key: String, default: Long): Long =
    Option(n.get(key)).fold(default)(asLong)

  def asInt(v: JsonNode): Int = {
    require(v.isNumber && v.canConvertToInt, s"not a 32-bit integer: $v")
    v.intValue
  }

  def int(n: JsonNode, key: String, default: Int): Int =
    Option(n.get(key)).fold(default)(asInt)

  def bool(n: JsonNode, key: String, default: Boolean): Boolean =
    Option(n.get(key)).fold(default) { v =>
      require(v.isBoolean, s"not a boolean: $v")
      v.booleanValue
    }

  def double(n: JsonNode, key: String): Option[Double] =
    Option(n.get(key)).map { v =>
      require(v.isNumber, s"not a number: $v")
      v.doubleValue
    }

  def text(n: JsonNode, key: String): Option[String] = Option(n.get(key)).map(_.asText)

  /** An array's elements as text; empty when absent. */
  def texts(n: JsonNode): Vector[String] = n.asScala.map(_.asText).toVector

  def textArray(values: Iterable[String]): ArrayNode = {
    val a = mapper.createArrayNode()
    values.foreach(v => a.add(v))
    a
  }

  /** An object's (name, value) pairs in document order; empty when absent. */
  def fields(n: JsonNode): Iterator[(String, JsonNode)] =
    n.properties().asScala.iterator.map(e => e.getKey -> e.getValue)

  // ------------------------------------------------------------ field stats

  /** A stats value in its domain type: integral → Long (rejected
    * outside the Long range), other numbers → Double, booleans →
    * Boolean, anything else → its text.
    */
  def statValue(v: JsonNode): Any =
    if (v.isIntegralNumber) Long.box(asLong(v))
    else if (v.isNumber) Double.box(v.doubleValue)
    else if (v.isBoolean) Boolean.box(v.booleanValue)
    else v.asText

  /** One field's `{"nulls":n,"min":…,"max":…}` object, as the sidecar
    * and the ledger both store it (absent bounds are omitted); each
    * format appends its own `bloom` form.
    */
  def statNode(nulls: Long, min: Any, max: Any): ObjectNode = {
    val n = newObject().put("nulls", nulls)
    def put(k: String, v: Any): Unit = v match {
      case null                 => ()
      case l: java.lang.Long    => n.put(k, l.longValue)
      case d: java.lang.Double  => n.put(k, d.doubleValue)
      case b: java.lang.Boolean => n.put(k, b.booleanValue)
      case s                    => n.put(k, s.toString)
    }
    put("min", min); put("max", max)
    n
  }

  /** A `fields` object: name → (nulls, min, max). */
  def statsOf(fieldsNode: JsonNode): Map[String, (Long, Any, Any)] =
    fields(fieldsNode).map { case (name, f) =>
      name -> ((Option(f.get("nulls")).fold(0L)(statValue(_).asInstanceOf[java.lang.Long]),
        Option(f.get("min")).map(statValue).orNull, Option(f.get("max")).map(statValue).orNull))
    }.toMap

  // ------------------------------------------------------------ schema history

  /** `[{"id":n,"schema":"<avro json>"},…]` — the `avroSchemaHistory`
    * option value and the descriptor's `schemas` array.
    */
  def historyNode(entries: Seq[(Int, String)]): ArrayNode = {
    val a = mapper.createArrayNode()
    entries.foreach { case (id, schema) => a.addObject().put("id", id).put("schema", schema) }
    a
  }

  /** Inverse of [[historyNode]]; entries without an id or schema are skipped. */
  def historyOf(n: JsonNode): Vector[(Int, String)] =
    n.asScala.toVector.flatMap { e =>
      val id = int(e, "id", -1)
      text(e, "schema").filter(_ => id >= 0).map(id -> _)
    }

  // ------------------------------------------------------------ markers

  /** Integer fields of a flat one-object marker (matview and ANN
    * watermarks/intents); missing file → empty map, other fields
    * ignored, a document that is not an object fails.
    */
  def readLongs(f: File): Map[String, Long] =
    if (!f.isFile) Map.empty
    else fields(requireObject(read(f))).collect {
      case (k, v) if v.isIntegralNumber => k -> asLong(v)
    }.toMap

  def writeLongs(f: File, values: (String, Long)*): Unit = {
    val n = newObject()
    values.foreach { case (k, v) => n.put(k, v) }
    write(f)(n)
  }
}
