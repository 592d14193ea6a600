package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one place a streaming query starts. Every streaming op hands its
  * stream here and gets back a batch frame:
  *  - [[toTable]]: stateful aggregations and joins into a memory table;
  *  - [[land]]: per-micro-batch results landed as parquet under the
  *    scratch root, one `batch=<id>` directory per micro-batch;
  *  - [[drain]]: ops whose per-batch writes are their own (an on-disk
  *    index, a driver-tracked state set).
  *
  * Each runs the stream to the end of its input (start,
  * `processAllAvailable`, stop) with `spark.sql.shuffle.partitions` at
  * the caller's input-sized `parts`. The conf is captured when a query
  * STARTS, so it is set around start and restored afterwards — batch
  * queries in the same session keep their own sizing. */
object Streams {

  private val PartsKey = "spark.sql.shuffle.partitions"

  private def run(s: SparkSession, parts: Int)(start: => StreamingQuery): Unit = {
    val prev = s.conf.get(PartsKey)
    s.conf.set(PartsKey, parts.toString)
    try {
      val q = start
      try q.processAllAvailable()
      finally q.stop()
    } finally s.conf.set(PartsKey, prev)
  }

  /** `df` run into the memory table `name` in output `mode`. */
  def toTable(s: SparkSession, df: DataFrame, name: String,
      mode: String, parts: Int): DataFrame = {
    run(s, parts)(df.writeStream.format("memory").queryName(name).outputMode(mode).start())
    s.table(name)
  }

  /** `stream` run through `perBatch` (micro-batch, batch id). Fails,
    * naming `name`, when no micro-batch fired — the source matched no
    * files, and whatever the caller reads next would be empty or stale. */
  def drain(s: SparkSession, name: String, stream: DataFrame, parts: Int)(
      perBatch: (DataFrame, Long) => Unit): Unit = {
    val fired = new AtomicLong(0L)
    run(s, parts)(stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      fired.incrementAndGet()
      perBatch(batch, id)
    }.start())
    require(fired.get() > 0L,
      s"$name: no micro-batch fired — its streaming source matched no files")
  }

  /** The per-batch writer of [[land]]: batch `id`'s rows OVERWRITE
    * `<dir>/batch=<id>`, so a micro-batch Spark replays after a failure
    * (same id, same input) replaces its rows instead of adding them a
    * second time. */
  def landBatch(dir: String)(rows: DataFrame => DataFrame): (DataFrame, Long) => Unit =
    (batch, id) => rows(batch).write.mode("overwrite").parquet(s"$dir/batch=$id")

  /** `stream` drained through `rows`, each micro-batch landed by
    * [[landBatch]] in `name`'s scratch directory for corpus `d`
    * ([[Tables.scratch]]), cleared before start and removed at JVM
    * exit. Returns the landed rows (without the `batch` column); they
    * are read lazily, because the landed files ARE the output at scale. */
  def land(s: SparkSession, name: String, d: String, stream: DataFrame, parts: Int)(
      rows: DataFrame => DataFrame): DataFrame = {
    val dir = Tables.scratch(s, "stream_" + name, d)
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    drain(s, name, stream, parts)(landBatch(dir)(rows))
    fs.deleteOnExit(p) // a no-op unless the path exists
    s.read.parquet(dir).drop("batch")
  }
}
