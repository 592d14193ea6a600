package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {

  test("cosine_sim matches hand-computed values on float and double arrays") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 0.0f), Array(1.0f, 1.0f), 1.0 / math.sqrt(2)),
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f), 1.0),
      (Array(1.0f, 2.0f), Array(-1.0f, -2.0f), -1.0)
    ).toDF("a", "b", "want")
    val got = df.select(expr("cosine_sim(a, b)").as("got"), $"want").collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
    // zero vector → 0, not NaN
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
      .select(expr("cosine_sim(a, b)")).head().getDouble(0)
    assert(z == 0.0)
  }

  test("word_shingles width parameter produces n-grams with dedup and short-input guard") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq("a b c d e f", "a b c d", "x y").toDF("text")
      .select(expr("word_shingles(split(text,' '), 5)").as("g"))
    val got = df.collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(
      List("a b c d e", "b c d e f"),
      List(),          // 4 tokens < width 5 → empty, no fabricated grams
      List()))
  }

  test("hyperplane_sig band keys match the composable per-plane construction") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < 5)
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    // plane i, component j: +1 iff top md5 bit of "p_i_j" — same family
    // the ANN bucketer derives driver-side; recompute it here
    val signs = Array.tabulate(8, 64) { (i, j) =>
      val d = Md5Bits.digest(s"p_${i}_$j".getBytes("UTF-8"))
      if ((d(0) & 0x80) != 0) 1 else -1
    }
    val slowBits = (0 until 8).map { i =>
      val arr = s"array(${signs(i).mkString(", ")})"
      when(expr(s"aggregate(zip_with(v, $arr, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)") > 0,
        lit(1L << (i % 4))).otherwise(lit(0L))
    }
    val slow = e.select($"vec_id",
      (slowBits(0) + slowBits(1) + slowBits(2) + slowBits(3)).as("b0"),
      (slowBits(4) + slowBits(5) + slowBits(6) + slowBits(7)).as("b1"))
    val fast = e.select($"vec_id", expr("hyperplane_sig(v, 2, 4)").as("sig"))
      .select($"vec_id", $"sig".getItem(0).as("b0"), $"sig".getItem(1).as("b1"))
    assert(fast.collect().toSet == slow.collect().toSet)
    // float input widens identically
    val fastF = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < 5)
      .select($"vec_id", expr("hyperplane_sig(embedding, 2, 4)").as("sig"))
      .select($"vec_id", $"sig".getItem(0).as("b0"), $"sig".getItem(1).as("b1"))
    assert(fastF.collect().toSet == slow.collect().toSet)
  }

  test("hyperplane_sig rejects null embedding elements with a descriptive error") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(Tuple1(Seq[java.lang.Double](1.0, null, 3.0))).toDF("v")
    val ex = intercept[Exception] {
      df.select(expr("hyperplane_sig(v, 2, 4)")).collect()
    }
    // the cause chain must carry the descriptive message, not an NPE
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(m => String.valueOf(m.getMessage)).mkString("; ")
    assert(msgs.contains("null element at index 1"))
  }

  test("simhash_agg over rows equals scalar simhash of concatenated tokens") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rows = Seq(("g1", "the quick brown"), ("g1", "fox jumps high"),
      ("g2", "completely other words"))
    val grouped = rows.toDF("g", "text")
      .groupBy($"g").agg(expr("simhash_agg(split(text,' '))").as("sig"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val concat = Seq(("g1", "the quick brown fox jumps high"),
      ("g2", "completely other words"))
      .toDF("g", "text")
      .select($"g", expr("simhash(split(text,' '))").as("sig"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grouped == concat)
  }

  test("minhash_md5 equals the 16-pass transform/md5 SQL formulation") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("zz yy xx")),
      (3L, Seq("héllo wörld", "日本語 text here"))).toDF("id", "gs")
    val fast = df.select($"id", expr("minhash_md5(gs)").as("sigs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val slow = df.select($"id", array((0 until 16).map(i =>
        expr(s"array_min(transform(gs, g -> md5(concat(g, '_$i'))))")): _*).as("sigs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(fast == slow)
    // null/empty semantics mirror array_min-over-transform: null
    val empty = Seq((4L, Seq.empty[String])).toDF("id", "gs")
      .select(expr("minhash_md5(gs)")).head()
    assert(empty.isNullAt(0))
  }

  test("word_shingles equals the transform/array_distinct SQL formulation") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      "the quick brown fox jumps",
      "a b", // < 3 tokens → empty array, never downward-stepping junk
      "x y z",
      "dup dup dup dup dup", // duplicate shingles collapse
      "a  b c d" // double space → empty token survives split
    ).toDF("text").select(split($"text", " ").as("ws"))
    val fast = df.select(expr("word_shingles(ws)")).collect().map(_.getSeq[String](0))
    val slow = df.select(expr(
      """CASE WHEN size(ws) >= 3
        |THEN array_distinct(transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))
        |ELSE array() END""".stripMargin)).collect().map(_.getSeq[String](0))
    fast.zip(slow).foreach { case (f, sl) => assert(f == sl) }
  }

  test("simhash_md5 matches the documented hex-nibble bit contract") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // independent reimplementation of the Md5Bits contract from the
    // scaladoc formula (hex-string indexing, not byte twiddling)
    def bitsOf(token: String): Seq[Int] = {
      val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(
        token.getBytes("UTF-8"))
      (0 until 64).map { j =>
        val nibble = "0123456789abcdef".indexOf(hex.charAt(j / 4))
        (nibble >> (j % 4)) & 1
      }
    }
    val tokens = Seq("the", "quick", "brown", "fox", "the")
    val counts = (0 until 64).map(j =>
      tokens.map(t => if (bitsOf(t)(j) == 1) 1 else -1).sum)
    val expected = (0 until 4).map { b =>
      (0 until 16).foldLeft(0L)((acc, k) =>
        if (counts(16 * b + k) > 0) acc | (1L << k) else acc)
    }
    val got = Seq(tokens).toDF("ws")
      .select(expr("simhash_md5(ws)")).head().getSeq[Long](0)
    assert(got == expected)
  }

  test("simhash_md5_agg over rows equals scalar simhash_md5 of concatenated tokens") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // repartition(7) forces multiple partial buffers → exercises the
    // serialize/deserialize/merge path of the TypedImperativeAggregate
    val rows = Seq(("g1", "the quick brown"), ("g1", "fox jumps high"),
      ("g1", "over lazy dogs"), ("g2", "completely other words"))
    val grouped = rows.toDF("g", "text").repartition(7)
      .groupBy($"g").agg(expr("simhash_md5_agg(split(text,' '))").as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val concat = Seq(("g1", "the quick brown fox jumps high over lazy dogs"),
      ("g2", "completely other words"))
      .toDF("g", "text")
      .select($"g", expr("simhash_md5(split(text,' '))").as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(grouped == concat)
  }

  test("bloom_might_contain: no false negatives, codegen path, literal required") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val keys = (0 until 100).map(i => s"key_$i")
    val bf = keys.toDF("k").stat.bloomFilter("k", 100, 0.01)
    val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
    val mc = call_function("bloom_might_contain", $"k", lit(bos.toByteArray))
    val present = keys.toDF("k").select(mc.as("m")).collect().map(_.getBoolean(0))
    assert(present.forall(identity), "bloom false negative — impossible by contract")
    // absent keys: almost all definitely-absent at 1% fpp over 1000 probes
    val absent = (0 until 1000).map(i => s"other_$i").toDF("k")
      .select(mc.as("m")).collect().count(_.getBoolean(0))
    assert(absent < 100, s"$absent/1000 false positives — sketch mis-sized")
    // participates in whole-stage codegen (not a fallback)
    import org.apache.spark.sql.catalyst.expressions.Literal
    assert(!BloomMightContain(Literal("x"), Literal(bos.toByteArray))
      .isInstanceOf[CodegenFallback])
    // non-foldable sketch argument is rejected loudly
    intercept[Exception] {
      keys.toDF("k")
        .select(call_function("bloom_might_contain", $"k", $"k".cast("binary")))
        .collect()
    }
  }

  test("triple_in is SQL-callable, compares whole terms and requires a literal delta") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import graft.rdf.{RdfTerm, Triple}
    val iri = Triple(RdfTerm.named("a"), RdfTerm.named("p"), RdfTerm.named("b"))
    val lit = iri.copy(o = RdfTerm.raw("b"))
    val df = Seq(iri, lit, iri.copy(o = RdfTerm.langLit("b", "en"))).toDF()
    val in = call_function("triple_in", $"s", $"p", $"o", typedlit(Seq(lit)))
    assert(df.select(in).collect().map(_.getBoolean(0)).toSeq == Seq(false, true, false))
    val notLiteral = array(struct($"s", $"p", $"o"))
    intercept[Exception](df.select(call_function("triple_in", $"s", $"p", $"o", notLiteral)).collect())
  }

  test("sq_dist and bucket_counts generate code bit-identical to interpreted eval") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}
    // no longer CodegenFallback: the projection stays in whole-stage codegen
    assert(!SqDist(Literal(1), Literal(1)).isInstanceOf[CodegenFallback])
    assert(!BucketCounts(Literal(1), Literal(1)).isInstanceOf[CodegenFallback])
    // awkward doubles (non-representable decimals) — any operation or
    // order difference between the generated and interpreted loops
    // would surface in the raw bits. The DataFrame side MUST go
    // through a real scan: over a Seq-literal LocalRelation the
    // optimizer's ConvertToLocalRelation folds the projection with
    // INTERPRETED eval and codegen never runs
    val dir = tempDir("kernels")
    def viaScan(write: String => Unit, sel: String): org.apache.spark.sql.Row = {
      write(dir)
      val df = spark.read.parquet(dir).selectExpr(sel)
      // pin: the kernel projection is INSIDE a whole-stage-codegen span
      val gen = org.apache.spark.sql.execution.debug
        .codegenString(df.queryExecution.executedPlan)
      assert(gen.contains("numElements"),
        s"kernel fell out of whole-stage codegen:\n${gen.linesIterator.take(6).mkString("\n")}")
      df.head()
    }
    val a = Array(0.1, 0.2, -0.3, 1e-17, 7.7)
    val b = Array(0.3, -0.2, 0.125, 2e-17, -7.7)
    val viaDf = viaScan(
      p => Seq((a, b)).toDF("a", "b").write.mode("overwrite").parquet(p),
      "sq_dist(a, b)").getDouble(0)
    val interp = SqDist(
      Literal.create(ArrayData.toArrayData(a), ArrayType(DoubleType)),
      Literal.create(ArrayData.toArrayData(b), ArrayType(DoubleType)))
      .eval(null).asInstanceOf[Double]
    assert(java.lang.Double.doubleToRawLongBits(viaDf)
      == java.lang.Double.doubleToRawLongBits(interp))
    // float/double mixed-width path
    val af = a.map(_.toFloat)
    val viaDfF = viaScan(
      p => Seq((af, b)).toDF("a", "b").write.mode("overwrite").parquet(p),
      "sq_dist(a, b)").getDouble(0)
    val interpF = SqDist(
      Literal.create(ArrayData.toArrayData(af), ArrayType(FloatType)),
      Literal.create(ArrayData.toArrayData(b), ArrayType(DoubleType)))
      .eval(null).asInstanceOf[Double]
    assert(java.lang.Double.doubleToRawLongBits(viaDfF)
      == java.lang.Double.doubleToRawLongBits(interpF))
    // bucket_counts: out-of-range buckets ignored, exact integer counts
    val bs = Array(0L, 3L, 3L, 7L, -1L, 99L, 3L)
    val viaDfB = viaScan(
      p => Seq(Tuple1(bs)).toDF("bs").write.mode("overwrite").parquet(p),
      "bucket_counts(bs, 8)").getSeq[Double](0)
    val interpB = BucketCounts(
      Literal.create(ArrayData.toArrayData(bs), ArrayType(LongType)), Literal(8))
      .eval(null).asInstanceOf[ArrayData].toDoubleArray.toSeq
    assert(viaDfB == interpB)
    assert(viaDfB == Seq(1d, 0d, 0d, 3d, 0d, 0d, 0d, 1d))
  }

  test("dict ids are dense, deterministic, sorted") {
    import spark.implicits._
    val df = Seq("c", "a", "b", "a", "c").toDF("term")
    val enc = graft.store.Dict.encode(df, Seq("term")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    assert(enc.toSeq == Seq(("a", 0L), ("b", 1L), ("c", 2L)))
  }

  test("bgp compiler: patterns with no shared variable cross-join") {
    import spark.implicits._
    val t = Seq(("a", "p1", "x"), ("b", "p2", "y")).toDF("s", "p", "o")
    val q = graft.query.Sparql().select(Seq("$u", "$v"))
      .filter(Seq(Seq("$u", "p1", "x"), Seq("$v", "p2", "y")))
    val rows = graft.query.Bgp.compile(t, q).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet == Set(("a", "b")))
  }

  test("bgp compiler: repeated variable inside one pattern = self equality") {
    import spark.implicits._
    val t = Seq(("a", "likes", "a"), ("a", "likes", "b")).toDF("s", "p", "o")
    val q = graft.query.Sparql().select(Seq("$x"))
      .filter(Seq(Seq("$x", "likes", "$x")))
    assert(graft.query.Bgp.compile(t, q).collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("dedup/LSH kernels generate code bit-identical to interpreted eval") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
    // none of the five per-row dedup kernels breaks whole-stage codegen
    // any more (the round-17 verdict's remaining CodegenFallback list)
    assert(!WordShingles(Literal(1)).isInstanceOf[CodegenFallback])
    assert(!SimHash(Literal(1)).isInstanceOf[CodegenFallback])
    assert(!SimHashMd5(Literal(1)).isInstanceOf[CodegenFallback])
    assert(!MinHashMd5(Literal(1)).isInstanceOf[CodegenFallback])
    assert(!HyperplaneSig(Literal(1), 4, 16).isInstanceOf[CodegenFallback])
    // through a real parquet scan (ConvertToLocalRelation would fold a
    // Seq-literal projection with INTERPRETED eval — see the sq_dist
    // test) so the generated path actually runs, and pinned INSIDE a
    // whole-stage-codegen span via the kernel call in the generated src
    val dir = tempDir("dedup_kernels")
    def viaScan(write: String => Unit, sel: String): org.apache.spark.sql.Row = {
      write(dir)
      val df = spark.read.parquet(dir).selectExpr(sel)
      val gen = org.apache.spark.sql.execution.debug
        .codegenString(df.queryExecution.executedPlan)
      assert(gen.contains(".kernel("),
        s"kernel fell out of whole-stage codegen:\n${gen.linesIterator.take(6).mkString("\n")}")
      df.head()
    }
    val toks: Array[String] = Array("a", "b", "c", "d", "a", "b", "c", "d", "e")
    def toksLit = Literal.create(
      ArrayData.toArrayData(toks.map(org.apache.spark.unsafe.types.UTF8String.fromString)),
      ArrayType(StringType))
    val wsDf = viaScan(
      p => Seq(Tuple1(toks)).toDF("ws").write.mode("overwrite").parquet(p),
      "word_shingles(ws, 3)").getSeq[String](0)
    val wsIn = WordShingles(toksLit).eval(null).asInstanceOf[ArrayData]
      .toObjectArray(StringType).map(_.toString).toSeq
    assert(wsDf == wsIn && wsDf.contains("a b c") && wsDf.size == 5)
    val shDf = viaScan(
      p => Seq(Tuple1(toks)).toDF("ws").write.mode("overwrite").parquet(p),
      "simhash(ws)").getLong(0)
    assert(shDf == SimHash(toksLit).eval(null).asInstanceOf[Long])
    val smDf = viaScan(
      p => Seq(Tuple1(toks)).toDF("ws").write.mode("overwrite").parquet(p),
      "simhash_md5(ws)").getSeq[Long](0)
    assert(smDf == SimHashMd5(toksLit).eval(null).asInstanceOf[ArrayData].toLongArray.toSeq)
    val mhDf = viaScan(
      p => Seq(Tuple1(toks)).toDF("ws").write.mode("overwrite").parquet(p),
      "minhash_md5(ws)").getSeq[String](0)
    val mhIn = MinHashMd5(toksLit).eval(null).asInstanceOf[ArrayData]
      .toObjectArray(StringType).map(_.toString).toSeq
    assert(mhDf == mhIn && mhDf.size == 16)
    // minhash null contract survives the generated path: empty array → null
    val mhNull = viaScan(
      p => Seq(Tuple1(Array.empty[String])).toDF("ws").write.mode("overwrite").parquet(p),
      "minhash_md5(ws)")
    assert(mhNull.isNullAt(0))
    // hyperplane_sig: awkward doubles, any accumulation-order difference
    // between the paths flips a near-zero dot product's sign bit
    val v = Array(0.1, -0.2, 1e-17, 0.3, -0.1, 0.7, -0.33, 0.125)
    val hpDf = viaScan(
      p => Seq(Tuple1(v)).toDF("v").write.mode("overwrite").parquet(p),
      "hyperplane_sig(v, 4, 16)").getSeq[Long](0)
    val hpIn = HyperplaneSig(
      Literal.create(ArrayData.toArrayData(v), ArrayType(DoubleType)), 4, 16)
      .eval(null).asInstanceOf[ArrayData].toLongArray.toSeq
    assert(hpDf == hpIn && hpDf.size == 4)
  }

  test("rdf_xml_source fixture parses to the documented VALUES rows") {
    val rows = graft.operators.RdfXmlOps.xmlSource(spark, sf0001).collect()
    assert(rows.length == 5)
    assert(rows.head.getString(0) == "http://g.test/alice")
  }
}
