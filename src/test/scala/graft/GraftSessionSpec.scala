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
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    def names(s: SparkSession) = s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    val fresh = spark.newSession()
    val builtin = names(fresh)
    functions.GraftFunctions.register(fresh)
    val registered = names(fresh) -- builtin
    val injected = scala.collection.mutable.Buffer[String]()
    new functions.GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(
          fd: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit =
        injected += fd._1.funcName
    })
    assert(registered.size == 13)
    assert(injected.toSet == registered && injected.size == registered.size)

    // every function answers in plain SQL on a session built with only
    // the extensions, the same as on a registered session
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.03)
    bloom.putString("a")
    val bytes = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bytes)
    val hex = bytes.toByteArray.map("%02x".format(_)).mkString
    val t = "named_struct('kind', 'iri', 'value', 'a', 'lang', CAST(NULL AS STRING), " +
      "'datatype', CAST(NULL AS STRING))"
    val calls = Map(
      "simhash" -> "simhash(array('a', 'b'))",
      "cosine_sim" -> "cosine_sim(array(1D, 0D), array(1D, 1D))",
      "sq_dist" -> "sq_dist(array(0D, 3D), array(4D, 0D))",
      "bucket_counts" -> "bucket_counts(array(1L, 1L, 3L), 4)",
      "bloom_might_contain" -> s"bloom_might_contain('a', X'$hex')",
      "triple_in" -> s"triple_in($t, $t, $t, array(named_struct('s', $t, 'p', $t, 'o', $t)))",
      "simhash_agg" -> "simhash_agg(array('a', 'b'))",
      "simhash_md5" -> "simhash_md5(array('a', 'b'))",
      "simhash_md5_agg" -> "simhash_md5_agg(array('a', 'b'))",
      "minhash_md5" -> "minhash_md5(array('a', 'b'))",
      "sorted_pairs" -> "sorted_pairs(array(1L, 2L, 3L))",
      "word_shingles" -> "word_shingles(array('a', 'b', 'c', 'd'), 3)",
      "hyperplane_sig" -> "hyperplane_sig(array(1D, -2D, 3D, 0.5D), 4, 8)")
    assert(calls.keySet == registered)
    val want = calls.map { case (n, c) => n -> fresh.sql(s"SELECT $c").head() }
    assert(want("sq_dist").getDouble(0) == 25.0)
    assert(want("bloom_might_contain").getBoolean(0))
    assert(want("triple_in").getBoolean(0))
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new functions.GraftExtensions)
        .getOrCreate()
      assert(ext ne prev)
      calls.foreach { case (n, c) =>
        assert(ext.sql(s"SELECT $c").head() == want(n), n)
      }
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("every registered query builds on a session with no graft function registered") {
    // operators build native expressions directly, so a caller's
    // session needs no registration and gets none written into it
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.indexRoot", tempDir("fresh_root"))
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try { q(fresh, sf0001).queryExecution.analyzed; None }
      catch { case scala.util.control.NonFatal(e) => Some(s"$name: $e") }
    }
    // the reference dumps are not in the repository (FIXTURES.md §1)
    val allowed = if (hasReferenceCorpus) Seq.empty else Seq("rdf_build_corpus")
    assert(failed.forall(f => allowed.exists(a => f.startsWith(s"$a: "))), failed.mkString("\n"))
    val names = functions.GraftFunctions.natives.map(_.name)
    assert(names.size == 13)
    val left = names.filter(n => fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(left.isEmpty, s"registered into the caller's session: $left")
  }
}
