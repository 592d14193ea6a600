package graft

class GraftSessionSpec extends SparkSpec {

  test("Graft.session + registerTables enables plain SQL with native functions") {
    val s = Graft.session(master = "local[4]")
    Graft.registerTables(s, sf0001)
    val n = s.sql("SELECT count(*) FROM lineitem").head().getLong(0)
    assert(n == 6000)
    val sig = s.sql("SELECT simhash(split(text, ' ')) FROM documents LIMIT 1")
      .head().getLong(0)
    assert(sig != 0L)
    val joined = s.sql(
      """SELECT r_name, count(*) n FROM nation JOIN region
        |ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name""".stripMargin)
      .collect()
    assert(joined.length == 5)
    // events view carries the normalized µs timestamp
    val t = s.sql("SELECT max(ts) FROM events").head().getTimestamp(0)
    assert(t != null)
    // the round-15 vector kernels are SQL-callable too
    val sq = s.sql(
      "SELECT sq_dist(array(0D, 3D), array(4D, 0D))").head().getDouble(0)
    assert(sq == 25.0)
    val bc = s.sql(
      "SELECT bucket_counts(array(1L, 1L, 3L), 4)").head().getSeq[Double](0)
    assert(bc == Seq(0.0, 2.0, 0.0, 1.0))
  }

  test("GraftExtensions injects every native function at session build time") {
    // the cluster path (spark.sql.extensions) must expose the same
    // function surface as the per-session register() call — a kernel
    // present in one but not the other breaks cluster SQL silently
    val names = Seq("simhash", "cosine_sim", "sq_dist", "bucket_counts", "triple_in")
    val collected = scala.collection.mutable.Buffer[String]()
    val e = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(
          fd: (org.apache.spark.sql.catalyst.FunctionIdentifier,
               org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
               Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
                 org.apache.spark.sql.catalyst.expressions.Expression)): Unit =
        collected += fd._1.funcName
    }
    new graft.functions.GraftExtensions()(e)
    names.foreach(n => assert(collected.contains(n), s"$n not injected"))
  }
}
