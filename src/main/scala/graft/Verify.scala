package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in an oracle SQL string (or in an
    * exception message [[Bench]] records) would otherwise make the
    * reader's json.load fail and silently zero the result. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing names restrict the dump (dev loop: one query +
    // tools/check.py on it); the driver passes none and gets everything.
    val names = Bench.select(args.drop(2).toSeq)
    val spark = Bench.session("graft-verify", defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      Bench.attempt(spark, "verify", name) {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
