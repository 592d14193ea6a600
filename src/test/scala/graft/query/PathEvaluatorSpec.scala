package graft.query

import graft.SparkSpec

/** Equivalences of the one path evaluator on seeded random graphs with
  * cycles and at most 16 nodes (so every reachable pair is at most 16
  * hops apart): the closures equal their bounded spellings, and every
  * bound-endpoint form equals the var-var result filtered to that
  * endpoint — for a graph term and for a seed that is no graph term. */
class PathEvaluatorSpec extends SparkSpec {

  test("p+, p*, p? equal their {n,m} forms; bound endpoints equal filtered var-var") {
    import spark.implicits._
    val rnd = new scala.util.Random(1616L)
    (1 to 3).foreach { caseNo =>
      val nNodes = 4 + rnd.nextInt(13)
      // a ring over the first 2..nNodes nodes, plus random edges
      val ring = 2 + rnd.nextInt(nNodes - 1)
      val edges = ((0 until ring).map(i => (s"n$i", s"n${(i + 1) % ring}")) ++
        (1 to nNodes).map(_ => (s"n${rnd.nextInt(nNodes)}", s"n${rnd.nextInt(nNodes)}"))).toSet
      val df = edges.toSeq.map { case (a, b) => (a, "next", b) }
        .toDF("s", "p", "o")
        .union(Seq(("n0", "other", "lone")).toDF("s", "p", "o"))
      val ctx = s"case $caseNo edges=$edges"

      def pairs(path: String): Set[(String, String)] =
        Bgp.compile(df, Sparql.parse(s"select $$a $$b where { $$a $path $$b }"))
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
      def ends(q: String): Set[String] =
        Bgp.compile(df, Sparql.parse(q)).collect().map(_.getString(0)).toSet

      val forms = Seq("next+", "next*", "next?", "next{2,3}")
      val varVar = forms.map(f => f -> pairs(f)).toMap
      assert(varVar("next+") == pairs("next{1,16}"), ctx)
      assert(varVar("next*") == pairs("next{0,16}"), ctx)
      assert(varVar("next?") == pairs("next{0,1}"), ctx)

      // a `next` node, and in turn a term off every `next` edge and no term
      val seeds = Seq(s"n${rnd.nextInt(nNodes)}", if (caseNo == 2) "lone" else "absent")
      for (f <- forms; seed <- seeds) {
        assert(ends(s"select $$b where { $seed $f $$b }") ==
          varVar(f).collect { case (a, b) if a == seed => b }, s"$ctx $seed $f ?b")
        assert(ends(s"select $$a where { $$a $f $seed }") ==
          varVar(f).collect { case (a, b) if b == seed => a }, s"$ctx ?a $f $seed")
      }
    }
  }
}
