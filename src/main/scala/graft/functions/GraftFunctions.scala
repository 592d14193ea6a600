package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ExpressionColumn

/** graft's native functions, each listed once: its SQL name, its
  * expression class and how it builds from its argument expressions.
  * The table is read three ways:
  *
  *  - operators call [[column]], which builds the expression straight
  *    from Columns and needs no session state, so an operator works on
  *    any session and never writes to its function registry;
  *  - [[register]] makes the functions SQL-callable on one session
  *    ([[graft.Graft.session]] calls it);
  *  - [[GraftExtensions]] injects them into every session a cluster
  *    builds.
  */
object GraftFunctions {

  /** One native function. An integer argument must be a literal. */
  final case class Native(name: String, cls: Class[_], build: Seq[Expression] => Expression)

  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]

  val natives: Seq[Native] = Seq(
    Native("simhash", classOf[SimHash], a => SimHash(a(0))),
    Native("cosine_sim", classOf[CosineSim], a => CosineSim(a(0), a(1))),
    Native("sq_dist", classOf[SqDist], a => SqDist(a(0), a(1))),
    Native("bucket_counts", classOf[BucketCounts], a => BucketCounts(a(0), a(1))),
    Native("bloom_might_contain", classOf[BloomMightContain], a => BloomMightContain(a(0), a(1))),
    Native("triple_in", classOf[TripleIn], a => TripleIn(a(0), a(1), a(2), a(3))),
    Native("simhash_agg", classOf[SimHashAgg], a => SimHashAgg(a(0)).toAggregateExpression()),
    Native("simhash_md5", classOf[SimHashMd5], a => SimHashMd5(a(0))),
    Native("simhash_md5_agg", classOf[SimHashMd5Agg],
      a => SimHashMd5Agg(a(0)).toAggregateExpression()),
    Native("minhash_md5", classOf[MinHashMd5], a => MinHashMd5(a(0))),
    Native("sorted_pairs", classOf[SortedPairs], a => SortedPairs(a(0))),
    Native("word_shingles", classOf[WordShingles],
      a => if (a.length > 1) WordShingles(a(0), int(a(1))) else WordShingles(a(0))),
    Native("hyperplane_sig", classOf[HyperplaneSig],
      a => HyperplaneSig(a(0), int(a(1)), int(a(2)))))

  private val byName: Map[String, Native] = natives.map(f => f.name -> f).toMap

  /** Native function `name` applied to `args`, built without any
    * session's function registry. */
  def column(name: String, args: Column*): Column =
    ExpressionColumn(byName(name).build(args.map(ExpressionColumn.expression)))

  /** Makes every native function callable by name in `spark`'s SQL. */
  def register(spark: SparkSession): Unit = natives.foreach { f =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(f.name, f.build, "scala_udf")
  }
}

/** SparkSessionExtensions entry point: lets a deployment inject graft's
  * native functions at session build time —
  *
  *   builder.withExtensions(new GraftExtensions)
  *   // or spark.sql.extensions=graft.functions.GraftExtensions
  *
  * so every function of [[GraftFunctions.natives]] is available in plain
  * SQL on every session of a cluster without any per-session call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = GraftFunctions.natives.foreach { f =>
    e.injectFunction(
      (FunctionIdentifier(f.name), new ExpressionInfo(f.cls.getName, f.name), f.build))
  }
}
