package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Pins the LOADED schema contract every operator depends on — the
  * driver regenerates /root/testdata between rounds and has already
  * shifted physical types twice (events.ts: INT64 nanos → timestamp[us],
  * breaking 14 queries at analysis time both times). These assertions
  * turn the next silent drift into a one-line failure naming the table
  * and column.
  *
  * The pin is deliberately on TYPE CLASSES, not exact widths: an
  * int32→int64 key drift is absorbed by Spark's coercion and hits
  * DuckDB identically (both engines read the same parquet), so exact
  * widths would false-alarm. What operators actually rely on is the
  * class: integral keys, fractional measures, string labels, real
  * timestamps (post-[[Tables.normalizeTs]]), float vectors.
  */
class TablesSpec extends SparkSpec {

  private sealed trait Kind
  private case object Integral extends Kind
  private case object Fractional extends Kind
  private case object Str extends Kind
  private case object Ts extends Kind
  private case object FloatVec extends Kind

  private def kindOf(dt: DataType): Option[Kind] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(Integral)
    case FloatType | DoubleType | _: DecimalType       => Some(Fractional)
    case StringType                                    => Some(Str)
    // both flavors: orders/lineitem dates legitimately load as NTZ
    // (parquet isAdjustedToUTC=false) and are oracle-green under the
    // pinned UTC session tz; events.ts is held to strict TimestampType
    // separately by ScaleSpec's normalizeTs pin
    case TimestampType | TimestampNTZType              => Some(Ts)
    case ArrayType(FloatType | DoubleType, _)          => Some(FloatVec)
    case _                                             => None
  }

  private def pin(name: String, df: DataFrame, cols: (String, Kind)*): Unit = {
    val schema = df.schema
    cols.foreach { case (c, want) =>
      assert(schema.fieldNames.contains(c), s"$name: column $c missing")
      val got = kindOf(schema(c).dataType)
      assert(got.contains(want),
        s"$name.$c: expected $want, loaded as ${schema(c).dataType} — " +
          "testdata drifted; adapt the loader like Tables.normalizeTs")
    }
  }

  test("loaded schemas carry the column contract the operators compile against") {
    val d = sf0001
    pin("region", Tables.region(spark, d),
      "r_regionkey" -> Integral, "r_name" -> Str)
    pin("nation", Tables.nation(spark, d),
      "n_nationkey" -> Integral, "n_name" -> Str, "n_regionkey" -> Integral)
    pin("customer", Tables.customer(spark, d),
      "c_custkey" -> Integral, "c_name" -> Str, "c_nationkey" -> Integral,
      "c_acctbal" -> Fractional, "c_mktsegment" -> Str)
    pin("supplier", Tables.supplier(spark, d),
      "s_suppkey" -> Integral, "s_name" -> Str, "s_nationkey" -> Integral,
      "s_acctbal" -> Fractional)
    pin("part", Tables.part(spark, d),
      "p_partkey" -> Integral, "p_name" -> Str, "p_brand" -> Str,
      "p_type" -> Str, "p_size" -> Integral, "p_retailprice" -> Fractional)
    pin("orders", Tables.orders(spark, d),
      "o_orderkey" -> Integral, "o_custkey" -> Integral, "o_orderstatus" -> Str,
      "o_totalprice" -> Fractional, "o_orderdate" -> Ts, "o_orderpriority" -> Str)
    pin("lineitem", Tables.lineitem(spark, d),
      "l_orderkey" -> Integral, "l_partkey" -> Integral, "l_suppkey" -> Integral,
      "l_linenumber" -> Integral, "l_quantity" -> Fractional,
      "l_extendedprice" -> Fractional, "l_discount" -> Fractional,
      "l_tax" -> Fractional, "l_returnflag" -> Str, "l_linestatus" -> Str,
      "l_shipdate" -> Ts)
    pin("events", Tables.events(spark, d),
      "event_id" -> Integral, "ts" -> Ts, "user_id" -> Integral,
      "event_type" -> Str, "value" -> Fractional, "props" -> Str)
    pin("documents", Tables.documents(spark, d),
      "doc_id" -> Integral, "text" -> Str, "lang" -> Str,
      "source" -> Str, "n_chars" -> Integral)
    pin("embeddings", Tables.embeddings(spark, d),
      "vec_id" -> Integral, "embedding" -> FloatVec, "label" -> Integral)
  }

  test("a table's schema is inferred once: a later read or stream of it starts no job") {
    Tables.table(spark, sf0001, "part")
    val (_, jobs) = jobsDuring {
      Tables.table(spark, sf0001, "part").schema
      Tables.streamTable(spark, sf0001, "part").schema
    }
    assert(jobs.isEmpty, jobs.mkString("\n"))
  }

  test("a rewritten table is read with its new schema, as a file and as a directory") {
    def asFile(d: String, df: DataFrame, tag: String): Unit = {
      df.coalesce(1).write.parquet(s"$d/$tag")
      val part = new java.io.File(s"$d/$tag").listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$d/t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    def asDir(d: String, df: DataFrame, tag: String): Unit =
      df.write.mode("overwrite").parquet(s"$d/t.parquet")
    for (write <- Seq(asFile _, asDir _)) {
      val d = tempDir("graft_tables")
      write(d, spark.range(3).toDF("a"), "before")
      assert(Tables.table(spark, d, "t").columns.toSeq == Seq("a"))
      write(d, spark.range(3).selectExpr("id AS b", "CAST(id AS STRING) AS c"), "after")
      val t = Tables.table(spark, d, "t")
      assert(t.columns.toSeq == Seq("b", "c"))
      assert(t.orderBy("b").collect().map(_.getString(1)).toSeq == Seq("0", "1", "2"))
    }
  }

  test("a conf that changes what inference returns re-infers the schema") {
    // the corpus writes o_orderdate as timestamp[us] with no zone
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def orderdate = Tables.orders(spark, sf0001).schema("o_orderdate").dataType
    try {
      spark.conf.set(key, "true")
      assert(orderdate == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(orderdate == TimestampType)
    } finally spark.conf.unset(key)
  }

  test("two reads of a table are distinct frames: a Dataset self-join counts as SQL does") {
    val a = Tables.orders(spark, sf0001)
    val b = Tables.orders(spark, sf0001)
    val joined = a.join(b, a("o_custkey") === b("o_custkey")).count()
    Tables.orders(spark, sf0001).createOrReplaceTempView("orders")
    val sql = spark.sql(
      "SELECT count(*) FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey").head().getLong(0)
    assert(joined == sql)
    assert(joined > Tables.orders(spark, sf0001).count())
  }

  test("no source but Tables reads a <dir>/<name>.parquet corpus path") {
    val main = Paths.get("src/main/scala")
    val walk = Files.walk(main)
    val files = try walk.iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Tables.scala")
      .toList finally walk.close()
    assert(files.size > 10, s"source tree not found from ${Paths.get("").toAbsolutePath}")
    val corpusLiteral = """s?"[^"]*\.parquet"""".r
    val bound = """\bval\s+(\w+)\s*=\s*s?"[^"]*\.parquet"""".r
    val hits = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toSeq
      names = lines.flatMap(l => bound.findAllMatchIn(l).map(_.group(1)))
      read = ("""\.(parquet|load)\(\s*(""" + (corpusLiteral.regex +: names).mkString("|") +
        """)\s*\)""").r
      (line, i) <- lines.zipWithIndex
      if !line.contains("write") && read.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "read corpus tables through Tables.table or Tables.streamTable:\n" +
      hits.mkString("\n"))
  }
}
