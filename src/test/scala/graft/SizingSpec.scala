package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import scala.jdk.CollectionConverters._

/** The local filesystem under another scheme, so a test can prove a
  * probe goes through Hadoop rather than the local disk API without
  * any network. */
class SizingTestFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftsizing:///")
}

class SizingSpec extends SparkSpec {
  private val docs = s"$sf0001/documents.parquet"
  private lazy val docBytes = Files.size(Paths.get(docs))
  private def par = spark.sparkContext.defaultParallelism

  private def repartitioned(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case r: Repartition => r }.nonEmpty

  test("a nested-directory table sizes to the sum of its files") {
    val root = Paths.get(tempDir("graft_sizing"))
    val deep = Files.createDirectories(root.resolve("a/b"))
    Files.copy(Paths.get(docs), root.resolve("a/part-0.parquet"))
    Files.copy(Paths.get(docs), deep.resolve("part-1.parquet"))
    assert(Sizing.pathBytes(spark, root.toString) == Right(2 * docBytes))
    val df = spark.read.option("recursiveFileLookup", "true").parquet(root.toString)
    assert(Sizing.frameBytes(df) == Right(2 * docBytes))
  }

  test("a failed probe takes the at-scale answer and logs it") {
    val (n, log) = withStderr(Sizing.tableParts(spark, "/nonexistent/graft", "documents"))
    assert(n == par, "a failed probe must never collapse to 1 partition")
    assert(log.exists(l => l.startsWith("[sizing] parts") &&
      l.contains("unknown") && l.contains(s"-> $par")), log.mkString("\n"))
    // a frame with no file leaf: no added shuffle
    val range = spark.range(10).toDF()
    val (out, log2) = withStderr(Sizing.spread(range))
    assert(!repartitioned(out))
    assert(log2.exists(l => l.startsWith("[sizing] spread") &&
      l.contains("no file leaf") && l.endsWith("as is")), log2.mkString("\n"))
  }

  test("a non-file:// scheme sizes exactly like the plain path") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftsizing.impl", classOf[SizingTestFs].getName)
    val other = s"graftsizing://$sf0001"
    assert(Sizing.pathBytes(spark, s"$other/documents.parquet") == Right(docBytes))
    // half the table per partition: 2 partitions on both paths (the
    // local-disk probe read 0 bytes off this scheme and gave 1)
    val perPart = docBytes / 2
    assert(Sizing.tableParts(spark, other, "documents", perPart) == 2)
    assert(Sizing.tableParts(spark, sf0001, "documents", perPart) == 2)
    val viaScheme = spark.read.parquet(s"$other/documents.parquet")
    assert(Sizing.frameBytes(viaScheme) == Right(docBytes))
    assert(repartitioned(Sizing.spread(viaScheme)) ==
      repartitioned(Sizing.spread(spark.read.parquet(docs))))
  }

  test("spread runs no job on an AQE plan that holds an exchange") {
    val df = spark.read.parquet(docs).groupBy("lang").count()
    val plan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].initialPlan
      .collectFirst { case e: ShuffleExchangeExec => e }.nonEmpty)
    assert(jobsDuring(Sizing.spread(df))._2.isEmpty)
    // the partition-count gate Sizing replaced runs the upstream stage
    assert(jobsDuring(df.rdd.getNumPartitions)._2.nonEmpty)
  }

  test("corpus-sized inputs decide as before: spread repartitions, state and graphs get 1 part") {
    val out = Sizing.spread(Tables.documents(spark, sf0001))
    assert(out.queryExecution.analyzed.collectFirst {
      case r: Repartition => r.numPartitions }.contains(par))
    assert(Sizing.tableParts(spark, sf0001, "events") == 1)
    assert(Sizing.tableParts(spark, sf0001, "events", bytesPerPart = 256L << 10) == 1)
    assert(Sizing.tableParts(spark, sf0001, "documents") == 1)
    assert(Sizing.parts(spark, "graph edges", 5000L, 1000000L) == 1)
    assert(Sizing.parts(spark, "graph edges", Long.MaxValue, 1000000L) == par)
  }

  /** `file:line: name` of each `banned` pattern hit in the query-path
    * sources: operators, sources, store, query and Tables. */
  private def queryPathHits(banned: (String, scala.util.matching.Regex)*): Seq[String] = {
    val main = Paths.get("src/main/scala/graft")
    val files = Seq("operators", "sources", "store", "query").flatMap { sub =>
      val walk = Files.walk(main.resolve(sub))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    } :+ main.resolve("Tables.scala")
    assert(files.size > 10, s"source tree not found from ${Paths.get("").toAbsolutePath}")
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (name, re) <- banned if re.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: $name"
  }

  test("no size probe or env knob outside Sizing in operators, store, query and Tables") {
    val hits = queryPathHits(
      "java.io.File" -> """\bjava\.io\.File\b""".r,
      ".rdd.getNumPartitions" -> """\.rdd\.getNumPartitions""".r,
      "getContentSummary" -> """getContentSummary""".r,
      "sys.env" -> """\bsys\.env\b""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("streams start only in graft.Streams and scratch dirs come from Tables.scratch") {
    val hits = queryPathHits(
      "writeStream" -> """\bwriteStream\b""".r,
      ".foreachBatch" -> """\.foreachBatch\b""".r,
      "createTempDirectory" -> """\bcreateTempDirectory\b""".r,
      "createTempFile" -> """\bcreateTempFile\b""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("term kinds are read only by graft.query's term rule") {
    val hits = queryPathHits("getField(\"kind\")" -> """getField\("kind"\)""".r)
      .filterNot(_.contains("/query/"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
