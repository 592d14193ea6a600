package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Output check of a registered query: row count, schema, and an
  * order-independent checksum over every column of every row. */
final case class Expected(rows: Long, schema: String, checksum: Option[String])

object Check {
  /** Canonical text of a value; map entries are sorted so that entry
    * order cannot change the checksum. */
  def render(v: Any): String = v match {
    case null => "N"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case other => other.toString
  }

  /** Sum over rows of a 64-bit row hash: independent of row order. */
  def checksum(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val s = render(r)
      acc += (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
    }
    f"$acc%016x"
  }

  def schema(st: StructType): String = st.simpleString

  /** None when the output matches, else what differs. */
  def verify(exp: Expected, rows: Array[Row], st: StructType): Option[String] =
    if (rows.length != exp.rows) Some(s"rows ${rows.length} != expected ${exp.rows}")
    else if (schema(st) != exp.schema) Some(s"schema ${schema(st)} != expected ${exp.schema}")
    else exp.checksum.flatMap { c =>
      val got = checksum(rows)
      if (got != c) Some(s"checksum $got != expected $c") else None
    }

  def load(path: String): Map[String, Expected] = {
    import scala.jdk.CollectionConverters._
    Json.read(path).fields().asScala.map { e =>
      val v = e.getValue
      val sum = Option(v.get("checksum")).filterNot(_.isNull).map(_.asText)
      e.getKey -> Expected(v.get("rows").asLong, v.get("schema").asText, sum)
    }.toMap
  }
}
