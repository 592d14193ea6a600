package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The one streaming sink ([[Streams]]): micro-batches land by batch id,
  * so a batch Spark replays from its checkpoint replaces its rows
  * instead of adding them twice. */
class StreamSinkSpec extends SparkSpec {

  private val schema = "id LONG, tag STRING"
  private val partsKey = "spark.sql.shuffle.partitions"

  /** Three parquet files of four rows each under `dir`; returns every row. */
  private def writeSource(dir: String): Seq[(Long, String)] = {
    import spark.implicits._
    val rows = for (f <- 0 until 3; i <- 0 until 4) yield (f * 10L + i, s"f$f")
    rows.grouped(4).foreach(_.toDF("id", "tag").coalesce(1).write.mode("append").parquet(dir))
    rows
  }

  /** One file per trigger, so three files are three micro-batches. */
  private def source(dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  private def landed(dir: String): Seq[(Long, String)] =
    spark.read.parquet(dir).select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  /** The rows `writer` leaves in its output after a full run and a
    * restart that replays the last batch, and the batch ids the restart
    * ran. */
  private def replayed(writer: String => (DataFrame, Long) => Unit)
      : (Seq[(Long, String)], Seq[Long]) = {
    val root = tempDir("stream_replay")
    writeSource(s"$root/in")
    val (cp, out) = (s"$root/cp", s"$root/out")
    def run(): Seq[Long] = {
      val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = source(s"$root/in").writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: DataFrame, id: Long) => ids.add(id); writer(out)(b, id) }
        .start()
      try q.processAllAvailable() finally q.stop()
      ids.asScala.toSeq
    }
    assert(run() == Seq(0L, 1L, 2L))
    // without its commit, Spark re-runs the last planned batch on restart
    val commits = Paths.get(cp, "commits")
    Files.delete(commits.resolve("2"))
    Files.deleteIfExists(commits.resolve(".2.crc"))
    val rerun = run()
    (landed(out), rerun)
  }

  test("a replayed micro-batch replaces its landed rows; an append sink doubles them") {
    val root = tempDir("stream_clean")
    val all = writeSource(s"$root/in")
    val q = source(s"$root/in").writeStream
      .foreachBatch(Streams.landBatch(s"$root/out")(identity)).start()
    try q.processAllAvailable() finally q.stop()
    val clean = landed(s"$root/out")
    assert(clean == all.sorted)

    val (byId, rerunIds) = replayed(out => Streams.landBatch(out)(identity))
    assert(rerunIds == Seq(2L), "the restart did not replay batch 2")
    assert(byId == clean)

    // a sink that appends each batch lands the replayed batch twice
    val (appended, _) = replayed(out => (b, _) => b.write.mode("append").parquet(out))
    assert(appended.size == clean.size + 4)
    assert(appended.distinct == clean)
  }

  test("drain names the query when no micro-batch fired") {
    val e = intercept[IllegalArgumentException](
      Streams.drain(spark, "empty_source_query", source(tempDir("stream_empty")), 1)(
        (_, _) => ()))
    assert(e.getMessage.contains("empty_source_query: no micro-batch fired"), e.getMessage)
  }

  test("land runs at the caller's parts, restores the session's, and a rerun replaces its rows") {
    val root = tempDir("stream_land")
    val all = writeSource(s"$root/in")
    tempIndexRoot("stream_land_scratch")
    val before = spark.conf.get(partsKey)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def land(): DataFrame = Streams.land(spark, "sink_spec", s"$root/in",
        source(s"$root/in"), 3) { b => seen.add(b.sparkSession.conf.get(partsKey)); b }
    val landDir = Tables.scratch(spark, "stream_sink_spec", s"$root/in")
    assert(land().columns.toSeq == Seq("id", "tag"))
    assert(landed(landDir) == all.sorted)
    assert(seen.asScala.toSet == Set("3"))
    assert(spark.conf.get(partsKey) == before)
    assert(land().collect().length == all.size)
    val batches = Files.list(Paths.get(landDir))
    try assert(batches.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("batch=")).toSet == Set("batch=0", "batch=1", "batch=2"))
    finally batches.close()
  }

  test("ev_stream_scd2 over an empty event log fires one batch and yields an empty dimension") {
    val d = tempDir("scd2_empty")
    Tables.events(spark, sf0001).limit(0).write.parquet(s"$d/events.parquet")
    tempIndexRoot("scd2_empty_scratch")
    assert(operators.EventOps.evStreamScd2(spark, d).count() == 0L)
    assert(operators.EventOps.evScd2(spark, d).count() == 0L)
  }
}
