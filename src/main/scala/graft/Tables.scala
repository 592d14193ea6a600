package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table access for the driver-generated parquet corpus (TESTDATA.md).
  *
  * All operators take `dir` (a scale-factor directory such as
  * /root/testdata/sf0.01) and read one parquet file per table. Filters and
  * projections applied by callers push down into the parquet scan via
  * Catalyst, so reading "the whole table" here is free — only the needed
  * columns/row-groups are materialized.
  *
  * Inferring a parquet schema is a Spark job (it reads the footers), one
  * per `spark.read.parquet` call. So each session remembers each corpus
  * table's inferred `StructType`, and every read after the first passes
  * it to `spark.read.schema`: no job. The memo is keyed by
  *  - the session, weakly, so a stopped session is not kept alive;
  *  - the path, holding the name, length and modification time of what
  *    `listStatus` returns for it (the file, or a directory's entries),
  *    plus the session's parquet confs that are set (any of them may
  *    change what inference returns; unset ones read their defaults). When
  *    the files are rewritten the stamp differs and the schema is
  *    inferred again.
  * It holds the schema only. The file listing is still built on every
  * read, so a read sees the current files. A cached DataFrame would also
  * hand two reads of one table the same attribute ids, and a self-join
  * such as `orders a JOIN orders b` would then trip Spark's
  * ambiguous-self-join rules; every call returns a fresh DataFrame.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Whether conf `k` may change the schema parquet inference returns. */
  private def inferenceConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive"

  private type Memo = ConcurrentHashMap[String, (String, StructType)]
  /** session -> path -> (stamp, inferred schema) */
  private val schemas =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, Memo]())

  /** `path`'s inferred schema, from the memo while its stamp holds. */
  private def schemaOf(s: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
    val confs = s.conf.getAll.filter(kv => inferenceConf(kv._1)).toSeq
    val stamp = files.sorted.mkString("|") + "#" + confs.sorted.mkString(",")
    val memo = schemas.computeIfAbsent(s, _ => new Memo())
    Option(memo.get(path)).collect { case (`stamp`, schema) => schema }.getOrElse {
      val schema = s.read.parquet(path).schema
      memo.put(path, stamp -> schema)
      schema
    }
  }

  /** The eager-materialization idiom for ops whose RESULT is tiny by
    * construction but whose plan pins caches (the simAnnIvfIndex
    * pattern): collect the rows, release every cache, and hand back a
    * local relation — so the returned frame holds no lineage over
    * frames the op unpersisted (or files it is about to delete). Only
    * for provably result-bounded ops: queries×k serves, catalog
    * rollups, fixed-level sweeps. */
  private[graft] def materializeAndRelease(
      out: DataFrame, caches: DataFrame*): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = out.collect().toSeq
    caches.foreach(_.unpersist())
    out.sparkSession.createDataFrame(rows.asJava, out.schema)
  }

  /** THE scratch location of every table graft writes itself (indexes,
    * centroid caches, landed streams, round-trip files):
    * `<root>/<kind>_<md5(key)>`, keyed so a rerun over the same `key`
    * (usually the corpus dir) overwrites instead of adding a tree per
    * call. The root is `spark.graft.indexRoot`, so a cluster points it
    * at shared storage (any Hadoop scheme); the `java.io.tmpdir`
    * default is only right for local[k]. */
  def scratch(s: SparkSession, kind: String, key: String): String = {
    val root = s.conf.getOption("spark.graft.indexRoot")
      .getOrElse(System.getProperty("java.io.tmpdir") + "/graft_ivf")
    s"$root/${kind}_" + java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** Normalize the events `ts` column to a session-tz TimestampType
    * regardless of the parquet physical type on disk. The testdata
    * generator has shipped `ts` as INT64 TIMESTAMP(NANOS) in some
    * rounds and plain timestamp[us] in others, so the loader adapts
    * to the schema it actually reads instead of assuming one:
    *  - LongType (nanos surfaced via nanosAsLong): integer-divide to
    *    µs — `div`, not `/`, because int64 nanos exceed a double's
    *    53-bit mantissa and float division can shift boundary values
    *    by 1µs after the truncating cast.
    *  - TimestampNTZType (timestamp[us] with isAdjustedToUTC=false):
    *    cast to TimestampType — identity-valued because every graft
    *    entry point pins spark.sql.session.timeZone=UTC.
    *  - TimestampType: pass through.
    * Works on batch and streaming DataFrames alike (schema inspection
    * only), so the Structured Streaming readers share it too.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType           => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType   => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                  => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    // harmless when ts is already a timestamp; required to read the
    // INT64-nanos variant at all (Spark rejects TIMESTAMP(NANOS)).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** THE streaming table reader — layout-adaptive (round-16 advice):
    * `<dir>/<name>.parquet` is a single FILE in the driver testdata
    * but a DIRECTORY of part files when Spark wrote it, and
    * FileStreamSource requires its basePath to be a directory while a
    * leaf-name pathGlobFilter matches zero part files in the directory
    * layout. One site decides: stream the directory directly, or the
    * parent filtered to the leaf name. */
  def streamTable(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaOf(s, path)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val isDir = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(hPath).isDirectory
    if (isDir) s.readStream.schema(schema).parquet(path)
    else s.readStream.schema(schema)
      .option("pathGlobFilter", hPath.getName).parquet(dir)
  }
}
