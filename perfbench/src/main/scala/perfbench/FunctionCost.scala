package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row cost of each native function that `GraftFunctions.register`
  * installs: a projection (or grouped aggregate) with the function, minus
  * the same projection over the function's inputs alone, each written to
  * the noop sink so every output column is computed. */
object FunctionCost {
  /** function → (expression with it, the same inputs without it). */
  private def probes(bloomHex: String): Seq[(String, String, String)] = Seq(
    ("simhash", "simhash(words)", "words"),
    ("cosine_sim", "cosine_sim(e, e)", "e"),
    ("sq_dist", "sq_dist(e, e)", "e"),
    ("bucket_counts", "bucket_counts(bs, 64)", "bs"),
    ("bloom_might_contain", s"bloom_might_contain(text, X'$bloomHex')", "text"),
    ("simhash_md5", "simhash_md5(words)", "words"),
    ("minhash_md5", "minhash_md5(words)", "words"),
    ("sorted_pairs", "sorted_pairs(ids)", "ids"),
    ("word_shingles", "word_shingles(words, 3)", "words"),
    ("hyperplane_sig", "hyperplane_sig(e, 4, 8)", "e"))
  private val aggProbes: Seq[(String, String, String)] = Seq(
    ("simhash_agg", "simhash_agg(words)", "count(words)"),
    ("simhash_md5_agg", "simhash_md5_agg(words)", "count(words)"))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, data: String, copies: Int, reps: Int): Map[String, Double] = {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.03)
    (0 until 1000).foreach(i => bloom.putString(s"doc $i"))
    val bytes = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bytes)
    val docs = graft.Tables.documents(spark, data)
    val emb = graft.Tables.embeddings(spark, data)
    val input = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .withColumn("copy", explode(sequence(lit(1), lit(copies))))
      .select(
        col("text"), split(col("text"), " ").as("words"), col("embedding").as("e"),
        expr("transform(slice(split(text, ' '), 1, 32), w -> pmod(hash(w), 64))").cast("array<bigint>").as("bs"),
        expr("transform(sequence(1, 16), i -> cast(doc_id * 16 + i + copy as bigint))").as("ids"),
        (col("doc_id") % 64).as("g"))
      .cache()
    val rows = input.count().toDouble
    def cost(withFn: => DataFrame, without: => DataFrame): Double = {
      val times = (1 to reps).map { _ =>
        var t0 = System.nanoTime(); noop(without); val a = System.nanoTime() - t0
        t0 = System.nanoTime(); noop(withFn); val b = System.nanoTime() - t0
        (a.toDouble, b.toDouble)
      }
      (Main.median(times.map(_._2)) - Main.median(times.map(_._1))) / rows
    }
    val scalar = probes(bytes.toByteArray.map("%02x".format(_)).mkString).map { case (fn, withFn, without) =>
      s"${fn}_ns_per_row" -> cost(input.selectExpr(withFn), input.selectExpr(without))
    }
    val agg = aggProbes.map { case (fn, withFn, without) =>
      s"${fn}_ns_per_row" -> cost(input.groupBy("g").agg(expr(withFn)), input.groupBy("g").agg(expr(without)))
    }
    input.unpersist()
    (scalar ++ agg).toMap
  }
}
