package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper

/** The fixed query baskets (`short` and `heavy`) and the tables they
  * run on, read from `perfbench/baskets.json`: each member's name,
  * query group, warm timing that justified its selection, and expected
  * result (row count and [[Checksum]]); and per basket the nominal wall
  * time of one timed pass over its members, which sizes the timed
  * window.
  */
object Baskets {
  case class Member(name: String, group: String, rows: Long, checksum: Long)

  /** Copies the batch tables (`tables.dir` of `baskets.json`, relative
    * to the benchmark directory) into `dest`, so every run starts from
    * the same files and nothing is written next to the committed ones.
    */
  def copyTables(benchDir: File, dest: File): String = {
    val src = new File(benchDir, new ObjectMapper().readTree(new File(benchDir, "baskets.json"))
      .get("tables").get("dir").asText())
    val files = Option(src.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no batch tables in $src")
    dest.mkdirs()
    files.foreach(f => Files.copy(f.toPath, new File(dest, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING))
    dest.getAbsolutePath
  }

  /** A basket's members and the nominal seconds of one timed pass. A
    * member must return rows: an empty result cannot show a query that
    * drops rows.
    */
  def load(file: File, basket: String): (Seq[Member], Double) = {
    val node = new ObjectMapper().readTree(file).get("baskets").get(basket)
    require(node != null, s"no basket '$basket' in $file")
    val members = node.get("members")
    ((0 until members.size()).map { i =>
      val m = members.get(i)
      val member = Member(m.get("name").asText(), m.get("group").asText(), m.get("rows").asLong(),
        m.get("checksum").asLong())
      require(member.rows > 0, s"basket member ${member.name} expects no rows")
      member
    }, node.get("pass_s").asDouble())
  }
}
