package graft.sources

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink format matrix beyond parquet: JSONL, CSV, ORC. A
  * training-data pipeline ingests JSONL constantly and exports across
  * formats; each op here round-trips the `documents` table through one
  * format with an explicit schema on re-read (schema inference is a
  * scale anti-pattern: it buys a full extra pass over 100 TB).
  *
  * All three formats are line/stripe-splittable, so read parallelism
  * survives single huge files (CSV only when `multiLine` stays off —
  * quoted newlines force whole-file reads; the writer escapes instead).
  *
  * The round-trip must be lossless: the oracle is the documents table
  * itself (content fingerprinted so the compare stays narrow).
  */
object DocSourceOps {

  /** Content fingerprint projection compared against the oracle — md5
    * catches any corruption the format round-trip introduced. */
  private def fingerprint(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"doc_id", $"source",
        length($"text").cast("long").as("len_chars"),
        md5($"text").as("fp_md5"))
      .orderBy($"doc_id")
  }

  val fingerprintSql: String =
    """SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len_chars,
      |  md5(text) AS fp_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  private def roundtrip(s: SparkSession, d: String, fmt: String,
      writeOpts: Map[String, String] = Map.empty,
      readOpts: Map[String, String] = Map.empty): DataFrame = {
    val docs = documents(s, d).select("doc_id", "source", "text")
    val tmp = scratch(s, s"${fmt}_roundtrip", d)
    docs.write.mode("overwrite").options(writeOpts).format(fmt).save(tmp)
    val back = s.read.schema(docs.schema).options(readOpts).format(fmt).load(tmp)
    fingerprint(back)
  }

  /** JSONL: one JSON object per line; newlines/quotes inside `text`
    * are JSON-escaped by the writer, so the file stays splittable. */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame =
    roundtrip(s, d, "json")

  /** CSV with full quoting/escaping; `multiLine` on the read side
    * handles quoted newlines (documented cost: multiLine CSV is NOT
    * splittable — prefer JSONL at scale for newline-bearing text). */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame =
    roundtrip(s, d, "csv",
      writeOpts = Map("header" -> "true", "quoteAll" -> "true", "escape" -> "\""),
      readOpts = Map("header" -> "true", "multiLine" -> "true", "escape" -> "\""))

  /** ORC: the columnar alternative to parquet (predicate pushdown,
    * stripe-level parallelism) — exercises Spark's second native
    * columnar sink. */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame =
    roundtrip(s, d, "orc")
}
