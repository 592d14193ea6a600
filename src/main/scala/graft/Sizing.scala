package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import scala.util.control.NonFatal

/** The one input-sizing policy: every partitioning decision that follows
  * from input size is made here (guide §2.2: derive partitioning from
  * input size; never tune a constant for local mode).
  *
  * One byte probe — a frame's leaf file-relation bytes (the listing its
  * scan already made), or Hadoop's content summary for a path — never
  * touches `Dataset.rdd` (under AQE that runs upstream stages just to
  * read a partition count) nor the local disk, so it holds on any Hadoop
  * scheme and over nested directories. A probe that fails or finds no
  * file leaf takes the AT-SCALE answer: no added shuffle, and never 1
  * partition. Each decision prints one `[sizing]` stderr line with its
  * bytes and parallelism. */
object Sizing {

  /** Bytes under `path`, recursive; Left(reason) when the probe fails. */
  def pathBytes(s: SparkSession, path: String): Either[String, Long] =
    try {
      val p = new Path(path)
      Right(p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength)
    } catch { case NonFatal(e) => Left(e.toString) }

  /** (label, bytes) of each file leaf of `df`'s analyzed plan. A
    * streaming micro-batch is a LogicalRDD carrying its file scan's
    * size as stats (Spark's default, i.e. huge, when it carries none);
    * local relations and ranges scan no input and are skipped. */
  private def fileLeaves(df: DataFrame): Seq[(String, BigInt)] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        val fs = l.relation.asInstanceOf[HadoopFsRelation].location
        fs.rootPaths.map(_.getName).mkString(",") -> BigInt(fs.sizeInBytes)
      case r: LogicalRDD => "micro-batch" -> r.stats.sizeInBytes
    }

  private def bytesOf(leaves: Seq[(String, BigInt)]): Either[String, Long] =
    if (leaves.isEmpty) Left("no file leaf")
    else Right(leaves.map(_._2).sum.min(Long.MaxValue).toLong)

  /** Bytes at the file leaves of `df`; Left(reason) when it has none. */
  def frameBytes(df: DataFrame): Either[String, Long] = bytesOf(fileLeaves(df))

  /** Round-robin spread for a HEAVY map-side kernel (per-token md5,
    * shingle hashing, MinHash lanes) placed before the first exchange.
    * The test corpus ships each table as ONE small parquet file, so its
    * scan is one task and the kernel would run on one core. When the
    * leaf bytes cannot fill the parallelism at the normal split size
    * (bytes / maxPartitionBytes < parallelism), repartition to
    * parallelism: the shuffle is < parallelism · maxPartitionBytes BY
    * THE GATE. At scale the scan yields ≥ parallelism splits and this
    * is the identity. Streaming frames are returned as they are; their
    * micro-batches are batch frames and take the gate. */
  def spread(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val s = df.sparkSession
      val par = s.sparkContext.defaultParallelism
      val split = math.max(1L, s.sessionState.conf.filesMaxPartitionBytes)
      val leaves = fileLeaves(df)
      val bytes = bytesOf(leaves)
      val small = bytes.exists(_ / split < par)
      log(s"spread ${leaves.map(_._1).mkString("+")}: bytes=${shown(bytes)} " +
        s"split=$split par=$par -> " + (if (small) s"repartition($par)" else "as is"))
      if (small) df.repartition(par) else df
    }

  /** clamp(amount / perUnit, 1, parallelism) partitions for operators
    * that pay per-partition overhead every round or micro-batch
    * (iterative graphs, state stores); `what` names the amount. */
  def parts(s: SparkSession, what: String, amount: Long, perUnit: Long): Int =
    clamp(s, what, Right(amount), perUnit)

  /** [[parts]] over the bytes of `<d>/<table>.parquet`: the state-store
    * count of a streaming op. Keyed state (windowed aggregation, dedup)
    * is small per key, so store overhead dominates and partitions are
    * large (32 MB); a stream-stream join passes far smaller ones. */
  def tableParts(s: SparkSession, d: String, table: String,
      bytesPerPart: Long = 32L << 20): Int = {
    val path = s"$d/$table.parquet"
    clamp(s, path, pathBytes(s, path), bytesPerPart)
  }

  private def clamp(s: SparkSession, what: String,
      amount: Either[String, Long], perUnit: Long): Int = {
    val par = s.sparkContext.defaultParallelism
    val n = amount.fold(_ => par,
      a => math.max(1L, math.min(par.toLong, a / math.max(1L, perUnit))).toInt)
    log(s"parts $what: amount=${shown(amount)} perUnit=$perUnit par=$par -> $n")
    n
  }

  private def shown(v: Either[String, Long]): String =
    v.fold(reason => s"unknown ($reason)", _.toString)

  private def log(msg: String): Unit = System.err.println(s"[sizing] $msg")
}
