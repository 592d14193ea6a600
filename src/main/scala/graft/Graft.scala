package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** User-facing entry point: one call gives a session configured the way
  * the engine expects (UTC, AQE, right-sized shuffle partitions, native
  * functions injected) with the corpus tables registered as SQL views —
  * so a user of the reference can switch to plain `spark.sql`:
  *
  *   val spark = Graft.session()
  *   Graft.registerTables(spark, "/root/testdata/sf0.01")
  *   spark.sql("SELECT simhash(split(text,' ')) FROM documents")
  *
  * [[session]] is the one session builder of every graft main and of
  * the tests.
  */
object Graft {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def session(
      master: String = "local[*]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    functions.GraftFunctions.register(s)
    s
  }

  /** Corpus table `t` of `dir` (events gets its ns→µs timestamp
    * normalization). */
  def table(spark: SparkSession, dir: String, t: String): DataFrame =
    if (t == "events") Tables.events(spark, dir) else Tables.table(spark, dir, t)

  /** Register every corpus table in `dir` as a temp view. A table this
    * sf dir lacks is skipped, and the skip is logged with its exception. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    TableNames.foreach { t =>
      try table(spark, dir, t).createOrReplaceTempView(t)
      catch { case NonFatal(e) =>
        System.err.println(s"[graft] registerTables: skipped $t: $e")
      }
    }
}
