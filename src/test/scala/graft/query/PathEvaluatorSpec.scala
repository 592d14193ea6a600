package graft.query

import graft.SparkSpec

/** Equivalences of the one path evaluator on seeded random graphs with
  * cycles and at most 16 nodes (so every reachable pair is at most 16
  * hops apart): the closures equal their bounded spellings, `p{2}`
  * equals `p/p`, and every bound-endpoint form equals the var-var
  * result filtered to that endpoint — for a graph term and for a seed
  * that is no graph term. The last graph is a `Dataset[Triple]` whose
  * `next` objects are sometimes literals, so one value occurs both as an
  * IRI and as a literal, and the path must not walk from one to the
  * other. */
class PathEvaluatorSpec extends SparkSpec {

  test("p+, p*, p? equal their {n,m} forms; bound endpoints equal filtered var-var") {
    import spark.implicits._
    import graft.rdf.{RdfTerm, Triple}
    import org.apache.spark.sql.Row
    val rnd = new scala.util.Random(1616L)
    (1 to 4).foreach { caseNo =>
      val nNodes = 4 + rnd.nextInt(13)
      // a ring over the first 2..nNodes nodes, plus random edges
      val ring = 2 + rnd.nextInt(nNodes - 1)
      val edges = ((0 until ring).map(i => (s"n$i", s"n${(i + 1) % ring}")) ++
        (1 to nNodes).map(_ => (s"n${rnd.nextInt(nNodes)}", s"n${rnd.nextInt(nNodes)}"))).toSet
      val typed = caseNo == 4
      val df = if (!typed) {
        edges.toSeq.map { case (a, b) => (a, "next", b) }.toDF("s", "p", "o")
          .union(Seq(("n0", "other", "lone")).toDF("s", "p", "o"))
      } else {
        val ts = edges.toSeq.map { case (a, b) => Triple(RdfTerm.named(a), RdfTerm.named("next"),
          if (rnd.nextInt(3) == 0) RdfTerm.raw(b) else RdfTerm.named(b)) } :+
          Triple(RdfTerm.named("n0"), RdfTerm.named("other"), RdfTerm.named("lone"))
        assert(ts.exists(t => t.o.isLiteral && ts.exists(_.s.value == t.o.value)))
        ts.toDS().toDF()
      }
      val ctx = s"case $caseNo edges=$edges"

      def pairs(path: String): Set[(Any, Any)] =
        Bgp.compile(df, Sparql.parse(s"select $$a $$b where { $$a $path $$b }"))
          .collect().map(r => (r.get(0), r.get(1))).toSet
      def ends(q: String): Set[Any] =
        Bgp.compile(df, Sparql.parse(q)).collect().map(_.get(0)).toSet

      val forms = Seq("next+", "next*", "next?", "next{2,3}")
      val varVar = forms.map(f => f -> pairs(f)).toMap
      assert(varVar("next+") == pairs("next{1,16}"), ctx)
      assert(varVar("next*") == pairs("next{0,16}"), ctx)
      assert(varVar("next?") == pairs("next{0,1}"), ctx)
      assert(pairs("next{2}") == pairs("next/next"), ctx)

      // a `next` node, and in turn a term off every `next` edge and no
      // term; on the typed graph also an IRI-typed seed
      val node = s"n${rnd.nextInt(nNodes)}"
      val seeds = Seq(node, if (caseNo == 2) "lone" else "absent") ++
        Option.when(typed)(s"<$node>")
      for (f <- forms; seed <- seeds) {
        // the terms the seed matches: by value, and as an IRI when typed
        val u = QueryUnit.parse(seed).asInstanceOf[QVal]
        def hit(t: Any) = t match {
          case r: Row => r.getAs[String]("value") == u.value &&
            u.kind.forall(_ => r.getAs[String]("kind") == RdfTerm.Named)
          case v => v == u.value
        }
        assert(ends(s"select $$b where { $seed $f $$b }") ==
          varVar(f).collect { case (a, b) if hit(a) => b }, s"$ctx $seed $f ?b")
        assert(ends(s"select $$a where { $$a $f $seed }") ==
          varVar(f).collect { case (a, b) if hit(b) => a }, s"$ctx ?a $f $seed")
      }
    }
  }
}
