package graft

import graft.rdf.{RdfTerm, Triple}
import graft.store.TripleStore

/** Locks in the 100 TB posture as regression tests: these assert on the
  * PHYSICAL PLAN, so a change that silently drops pushdown, partition
  * pruning, or broadcast turns the build red even though results stay
  * correct.
  */
class ScaleSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    // other suites may have cached the triple view; a cache hit would
    // replace the parquet scans these assertions inspect
    spark.catalog.clearCache()
    df.queryExecution.executedPlan.toString
  }

  test("q1_agg pushes the date filter into the parquet scan") {
    val p = plan(operators.RelationalOps.q1Agg(spark, sf0001))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q5_multijoin broadcasts every dimension join") {
    val p = plan(operators.RelationalOps.q5MultiJoin(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5)
    assert(!p.contains("SortMergeJoin"))
  }

  test("access path on p prunes dead union branches (vertical partitioning)") {
    // p='in_region' must eliminate the customer/supplier branches:
    // only nation+region scans remain
    val p = plan(operators.RdfOps.apPo(spark, sf0001))
    assert(!p.contains("customer.parquet"))
    assert(!p.contains("supplier.parquet"))
    assert(p.contains("nation.parquet"))
  }

  test("persisted store prunes predicate partitions on read") {
    import spark.implicits._
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val dir = tempDir("prune")
    TripleStore.fromTriples(spark,
      Seq(t("a", "p1", "b"), t("a", "p2", "c"), t("b", "p1", "c"))).persist(dir)
    val preds = spark.read.parquet(s"$dir/predicates")
    val p1Id = preds.filter($"value" === "p1").select("id").head().getLong(0)
    val scan = spark.read.parquet(s"$dir/triples").filter($"p_id" === p1Id)
    val physical = scan.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters: [isnotnull(p_id"))
    assert(scan.count() == 2)
  }

  test("dictionary joins are unhinted; the driver-side delta is an in-scan predicate") {
    // round-2 verdict #3 / round-3 #2: term dictionaries scale WITH the
    // data (billions of rows at 100 TB), so persist/restore must NOT
    // force a broadcast — with the auto threshold disabled, no
    // BroadcastHashJoin may appear. The insert/remove delta is the
    // opposite case: driver-side by construction, so it rides in the
    // plan as one literal set that the snapshot scan filters against,
    // with no exchange, join or aggregate whatever the threshold.
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val store = TripleStore.fromTriples(spark,
      Seq(t("a", "p1", "b"), t("b", "p1", "c")))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val enc = store.encodedTriples(store.termDict, store.predicateDict)
      val encPlan = enc.queryExecution.executedPlan.toString
      assert(!encPlan.contains("BroadcastHashJoin"), encPlan)
      // restore decodes through the same unhinted joins, in the one
      // plan its snapshot runs
      val dir = tempDir("unhinted_restore")
      store.persist(dir)
      val (_, restorePlans) = sqlActionsDuring(TripleStore.fromBackup(spark, dir))
      assert(restorePlans.map(_._1) == Seq("localCheckpoint"), restorePlans)
      assert(!restorePlans.head._2.contains("BroadcastHashJoin"), restorePlans.head._2)
      assert(restorePlans.head._2.contains("SortMergeJoin"), restorePlans.head._2)
      // a remove filters the snapshot; an insert also appends its rows,
      // never through a global distinct (a union.distinct would shuffle
      // every stored triple to insert one row)
      val restored = TripleStore.fromBackup(spark, dir)
      Seq(restored.removeTriples(Seq(t("a", "p1", "b"))),
        restored.insertTriples(Seq(t("x", "p1", "y")))).foreach { st =>
        val p = st.triples.queryExecution.executedPlan.toString
        assert(!p.contains("Exchange"), p)
        assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
        assert(!p.contains("HashAggregate"), p)
        assert(p.contains("triple_in"), p)
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a lookup on a restored store scans its snapshot, not the backup") {
    // fromBackup decodes once: a lookup reads neither dictionary nor
    // the id triples again, so it broadcasts nothing and starts at most
    // two jobs
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val dir = tempDir("snap_lookup")
    TripleStore.fromTriples(spark,
      (1 to 200).map(i => t(s"s$i", s"p${i % 7}", s"o${i % 13}"))).persist(dir)
    val df = TripleStore.fromBackup(spark, dir)
      .query(query.Sparql.parse("select $o where { s8 p1 $o }"))
    val (rows, jobs) = jobsDuring(df.collect())
    assert(rows.map(_.getStruct(0).getAs[String]("value")).toSeq == Seq("o8"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("FileScan"), p) // of terms/, predicates/ or triples/
    assert(!p.contains("BroadcastExchange"), p)
    assert(jobs.size <= 2, jobs)
  }

  test("an exact-term lookup on a restored store is one job with no shuffle") {
    // the store is a set and `<…>` names one term, so the lookup's
    // solutions are distinct without a global distinct
    // (Bgp.distinctOverSet): no HashAggregate, no Exchange, one job
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val dir = tempDir("exact_lookup")
    TripleStore.fromTriples(spark,
      (1 to 200).map(i => t(s"s$i", s"p${i % 7}", s"o${i % 13}"))).persist(dir)
    val df = TripleStore.fromBackup(spark, dir)
      .query(query.Sparql.parse("select $o where { <s8> <p1> $o }"))
    val (rows, jobs) = jobsDuring(df.collect())
    assert(rows.map(_.getStruct(0).getAs[String]("value")).toSeq == Seq("o8"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(jobs.size == 1, jobs)
  }

  test("OPTIONAL compiles to a left join below the projection") {
    val q = query.Sparql.parse(
      "select $x $n $seg where { $x in_nation $n . optional { $x in_segment $seg } }")
    val df = query.Bgp.compile(operators.RdfOps.tripleView(spark, sf0001), q)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("LeftOuter"), optimized)
  }

  test("text ops prune the documents scan to the referenced columns") {
    val p = plan(operators.TextOps.textTokensBpe(spark, sf0001))
    // only doc_id and text should be read, never lang/source/n_chars
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q_salted_join equals the plain join (salting never changes answers)") {
    import spark.implicits._
    val salted = operators.RelationalOps.qSaltedJoin(spark, sf0001)
    val l = Tables.lineitem(spark, sf0001)
    val o = Tables.orders(spark, sf0001)
    val expect = l.join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .orderBy($"o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = salted.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("mm pipeline ops stay off the driver (no collect in the plan)") {
    // mapPartitions-based ops must be a single distributed pass:
    // DeserializeToObject/MapPartitions/SerializeFromObject, no Expand
    val p = plan(operators.MultimodalOps.mmFeature(spark, sf0001))
    assert(p.contains("MapPartitions"), p)
  }

  test("ORDER BY + LIMIT compiles to TakeOrderedAndProject, not a global sort") {
    // a full sort materializes every row on one ordering pass; with a
    // LIMIT Spark must instead keep a bounded top-N heap per partition
    // and merge — the only shape that survives 100 TB of solutions
    val p = plan(operators.RdfOps.bgpOrderLimit(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("typed-pattern kind filter constant-folds away the wrong-kind union branch") {
    // the view's term kinds are struct literals, so `o.kind === 'raw'`
    // folds at plan time: the IRI-object branch (in_nation) is pruned
    // entirely and no Union or kind predicate survives — the typed
    // restriction costs NOTHING at runtime, like the access-path
    // dead-branch pruning above
    val q = query.Sparql.parse("select $x $p where { $x $p \"NATION_2\" }")
    val view = operators.RdfOps.typedTripleView(spark, sf0001)
    val df = query.Bgp.compile(view, q)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("Union"), optimized)
    assert(optimized.contains("nation_label"), optimized) // surviving branch
    assert(!optimized.contains("[named,in_nation]"), optimized) // pruned branch
    // the value restriction is pushed into the nation scan as a filter
    assert(optimized.contains("n_name#") && optimized.contains("= NATION_2"), optimized)
  }

  test("embedding LSH pair search is an equi-join on band keys, never a cross product") {
    val p = plan(operators.DedupOps.dedupEmbeddingLsh(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the brute baseline, by contrast, is the documented cross product
    val brute = plan(operators.DedupOps.dedupEmbeddingCosine(spark, sf0001))
    assert(brute.contains("CartesianProduct") || brute.contains("BroadcastNestedLoopJoin"))
  }

  test("SPARQL aggregation partial-aggregates around the shuffle") {
    val p = plan(operators.RdfOps.bgpGroupCount(spark, sf0001))
    // two-phase aggregation: partial_count/partial_min combine map-side
    // BEFORE the hashpartitioning exchange (string min forces
    // SortAggregate rather than HashAggregate — the partials are what
    // matter at scale, not the aggregate flavor)
    assert(p.contains("partial_count"), p.linesIterator.take(10).mkString("\n"))
    val partialIdx = p.indexOf("partial_count")
    val finalIdx = p.indexOf("functions=[count(") // final agg (no partial_ prefix)
    // anchor on the exchange NEAREST the partial (lastIndexOf before it),
    // not the plan's first exchange — the BGP join shuffles too, and
    // matching that one would keep this green even if the aggregate's
    // own partial step disappeared above its shuffle
    val exchangeIdx = p.lastIndexOf("Exchange hashpartitioning", partialIdx)
    assert(finalIdx >= 0 && exchangeIdx > finalIdx && partialIdx > exchangeIdx,
      "final agg must sit above the shuffle, partial agg below it")
    assert(!p.contains("CartesianProduct"))
  }

  test("decontamination broadcasts the benchmark shingles; corpus side never cross-joins") {
    val p = plan(operators.CurationOps.dedupDecontaminate(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("quality filter and stratified sample stay map-side (no shuffle before the oracle sort)") {
    // the only Exchange in either plan is the rangepartitioning for the
    // deterministic oracle ordering — drop the orderBy and the ops are
    // pure map work over the scan
    Seq(operators.CurationOps.docQualityFilter(spark, sf0001),
        operators.CurationOps.docSampleStratified(spark, sf0001)).foreach { df =>
      val p = plan(df)
      assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p.linesIterator.take(5).mkString("\n"))
      assert("Exchange rangepartitioning".r.findAllIn(p).size == 1)
    }
  }

  test("IVF index probe prunes list partitions (reads 2/16ths, not the table)") {
    import spark.implicits._
    // miniature stand-in for the sim_ann_ivf_index layout: the pin is
    // on the SCAN SHAPE — an isin() over list_id must become a
    // partition filter, never a full read + post-filter
    val dir = tempDir("ivf_prune")
    (0 until 64).map(i => (i.toLong, i % 16)).toDF("vec_id", "list_id")
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    val probed = spark.read.parquet(dir).filter($"list_id".isin(3, 7))
    val physical = probed.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters: [list_id"), physical)
    assert(probed.count() == 8)
  }

  test("BGP conjunction shuffles on int-sized var columns only after filters") {
    // the compiled plan must place pattern filters BELOW the join
    val q = query.Sparql()
      .select(Seq("$c", "$n"))
      .filter(Seq(Seq("$c", "in_nation", "$n"), Seq("$n", "in_region", "ASIA")))
    val df = query.Bgp.compile(operators.RdfOps.tripleView(spark, sf0001), q)
    val optimized = df.queryExecution.optimizedPlan.toString
    // no Filter node sits above a Join in the optimized plan
    val joinIdx = optimized.indexOf("Join")
    val filterIdx = optimized.indexOf("Filter")
    assert(joinIdx >= 0 && (filterIdx == -1 || filterIdx > joinIdx),
      s"filters should be pushed below the join:\n$optimized")
  }

  test("plain path alternation prunes dead view branches like equality does") {
    // `in_region|in_segment` compiles to ONE IN filter on p (not a
    // union of per-branch passes); over the 4-branch triple view the
    // per-branch literal p constant-folds the IN to true/false, so the
    // two in_nation branches VANISH and the surviving branches carry no
    // residual predicate at all — the supplier table is never scanned
    val df = operators.RdfOps.bgpPathAlt(spark, sf0001)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("in_region"),
      s"IN on the branch-literal p should constant-fold away:\n$optimized")
    val p = plan(df)
    assert(!p.contains("supplier.parquet"),
      s"IN filter should prune the supplier (in_nation) branch:\n$p")
    // exactly the two surviving branches feed the union
    assert("Scan parquet".r.findAllIn(p).size == 3, // nation+region, customer
      s"expected 3 scans (nation, region, customer):\n$p")
  }

  test("negated property set prunes the excluded predicates' branches") {
    // `!in_nation|in_segment` compiles to ONE NOT-IN on p; the branch
    // literals constant-fold it, so the customer/supplier branches
    // vanish and only the nation⋈region branch scans
    val df = operators.RdfOps.bgpPathNegset(spark, sf0001)
    val p = plan(df)
    assert(!p.contains("customer.parquet"), p)
    assert(!p.contains("supplier.parquet"), p)
    assert(p.contains("nation.parquet"), p)
  }

  test("values clause pushes its IN filter into the scans") {
    // VALUES over a pattern variable must land as a pushed predicate on
    // the object column, not a post-join filter — at 100 TB the
    // difference is scanning the enumerated slice vs the whole table
    val df = operators.RdfOps.bgpValues(spark, sf0001)
    val p = plan(df)
    assert(p.contains("PushedFilters: [") && p.contains("In(c_nationkey") ||
      p.contains("In(n_name"),
      s"VALUES IN-list should reach the parquet scan:\n$p")
  }

  test("bound-endpoint path closure never joins reach with reach (seeded BFS)") {
    // `<seed> p+ $y` must evaluate by frontier BFS from the seed — the
    // final plan is a union of checkpointed frontier scans with NO join
    // node at all; the all-pairs-then-filter shape would show the
    // closure's self-joins here. Same pin for the bound-object form.
    import spark.implicits._
    val chain = (0 until 8)
      .map(i => (s"N$i", "next", s"N${i + 1}")).toDF("s", "p", "o")
    Seq("select $b where { N2 next+ $b }",
        "select $a where { $a next+ N6 }").foreach { qs =>
      val df = query.Bgp.compile(chain, query.Sparql.parse(qs))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("Join"),
        s"bound-endpoint closure must not join:\n$optimized")
    }
    // and the results are the seed's reachable set, not a filtered
    // all-pairs closure gone wrong
    val fwd = query.Bgp.compile(chain,
      query.Sparql.parse("select $b where { N2 next+ $b }"))
      .collect().map(_.getString(0)).sorted
    assert(fwd.toSeq == (3 to 8).map(i => s"N$i"))
  }

  test("closure rounds localCheckpoint: plan size stays bounded, not quadratic") {
    // every closure round must cut lineage (localCheckpoint) — a
    // dropped checkpoint makes round k's plan re-derive rounds 1..k-1
    // and the optimized tree grows superlinearly with depth. A
    // depth-12 chain runs 4+ doubling rounds; the checkpointed plan is
    // a flat union of per-round LogicalRDD scans, O(rounds) nodes.
    import spark.implicits._
    val chain = (0 until 12)
      .map(i => (s"C$i", "next", s"C${i + 1}")).toDF("s", "p", "o")
    val df = query.Bgp.compile(chain,
      query.Sparql.parse("select $a $b where { $a next+ $b }"))
    val nNodes = df.queryExecution.optimizedPlan.collect { case _ => 1 }.sum
    assert(nNodes < 40, s"closure plan grew to $nNodes nodes — lost a localCheckpoint?")
    assert(df.count() == (12 to 1 by -1).map(identity).map(_.toLong).sum) // 12+11+…+1 pairs
  }

  test("cyclic graphs terminate in both closure strategies") {
    import spark.implicits._
    val cyc = Seq(("a", "next", "b"), ("b", "next", "c"), ("c", "next", "a"))
      .toDF("s", "p", "o")
    val all = query.Bgp.compile(cyc,
      query.Sparql.parse("select $x $y where { $x next+ $y }"))
    assert(all.count() == 9) // complete closure of a 3-cycle
    val seeded = query.Bgp.compile(cyc,
      query.Sparql.parse("select $y where { a next+ $y }"))
      .collect().map(_.getString(0)).sorted
    assert(seeded.toSeq == Seq("a", "b", "c")) // a reaches itself via the cycle
  }

  test("delete-where's derived delete set is never hint-broadcast") {
    // the delete set comes from evaluating a pattern over the DATA —
    // it scales with the store, so unlike the driver-side removeTriples
    // list its anti-join must stay unhinted: with the auto threshold
    // disabled, no broadcast may appear (the mirror of the dictionary
    // pin above)
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val store = TripleStore.fromTriples(spark,
      Seq(t("a", "p1", "b"), t("b", "p1", "c"), t("a", "p2", "c")))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = store.update("delete where { $x p1 $y }")
        .triples.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), plan)
      assert(!plan.contains("BroadcastHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bound graph group prunes the other graphs' union branches") {
    // the quad view's g is a literal per branch, so `g = 'supply'`
    // constant-folds: the geo (nation⋈region) and crm (customer)
    // branches vanish from the plan and only supplier+nation scan —
    // named-graph selection costs a branch prune, not a filter pass
    val p = plan(operators.RdfOps.graphBound(spark, sf0001))
    assert(!p.contains("customer.parquet"), p)
    assert(!p.contains("region.parquet"), p)
    assert(p.contains("supplier.parquet"), p)
  }

  test("minus and exists compile to anti/semi joins, not subquery rescans") {
    // MINUS → LeftAnti, FILTER EXISTS → LeftSemi: one pass over each
    // side, no nested-loop re-evaluation per outer row
    val mp = operators.RdfOps.bgpMinus(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(mp.contains("LeftAnti"), s"MINUS should plan a LeftAnti join:\n$mp")
    val ep = operators.RdfOps.bgpExists(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(ep.contains("LeftSemi") && ep.contains("LeftAnti"),
      s"EXISTS/NOT EXISTS should plan LeftSemi/LeftAnti joins:\n$ep")
  }

  test("range join buckets to an equi-join, never a nested-loop theta-join") {
    // the BETWEEN predicate alone would plan BroadcastNestedLoopJoin
    // (every probe × every interval); the week-bucket explode turns it
    // into an equi-join on wk with the BETWEEN as a post-filter
    val p = operators.RelationalOps.qRangeJoin(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must not plan a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"range join should be an equi-join on the bucket:\n$p")
  }

  test("bucketed join reads co-located buckets — no exchange below the join") {
    // the whole point of the bucketed write: both inputs arrive
    // pre-partitioned (and bucket-sorted) on the join key, so the join
    // itself is exchange-free and the ONLY hash exchange in the plan
    // is the aggregation above it. Broadcast is disabled for the pin —
    // at test SF the customer side would broadcast, which also avoids
    // the shuffle but hides whether bucketing held.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(operators.RelationalOps.qBucketedJoin(spark, sf0001))
      assert(p.contains("SortMergeJoin"), s"bucketed join should sort-merge:\n${p.take(600)}")
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
        s"only the post-join aggregation may shuffle:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("as-of join is union + one keyed window — never a time-range theta-join") {
    // each event matches the latest order at-or-before it; the naive
    // t_order <= t_event theta-join is quadratic (every event × every
    // order of that key). The composed shape — tag, union, one window
    // per key with last-non-null propagation — must contain NO join
    // node and exactly two hash shuffles: the orders (custkey, date)
    // tie-break dedup (partial-aggregated) and the window's
    // partitionBy on key; the final orderBy is a separate range
    // exchange for the oracle sort
    val p = plan(operators.RelationalOps.qAsofJoin(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Join"), s"as-of must compose via union+window, not a join:\n$p")
    // upper bound, not exact count: reused-exchange rendering or AQE
    // plan-text changes must not fail the pin — the regression guarded
    // here is an EXTRA shuffle (or a join), not exchange cosmetics
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(p.contains("partial_"), p) // the dedup combines map-side
  }

  test("event window agg partial-aggregates around its single shuffle") {
    // the restored ev_* family's core shape: tumbling-window groupBy
    // must combine map-side (partial_count/partial_sum below the
    // exchange) — at 100 TB the shuffle moves one row per
    // (window, type) per partition, not one per event
    val p = plan(operators.EventOps.evWindowAgg(spark, sf0001))
    assert(p.contains("partial_count"), p.linesIterator.take(12).mkString("\n"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("ngram-jaccard DF cap drops boilerplate shingles before the candidate join") {
    // a shingle in k docs emits k·(k-1)/2 candidate rows from the
    // inverted-index self-join — without the DF cap, one corpus-wide
    // boilerplate 3-gram makes pair generation quadratic in corpus
    // size (round-9..11 verdicts). A corpus of identical docs is the
    // worst case: every shingle's DF equals the corpus size, so above
    // NgramDfCap ALL shingles are dropped and the join emits nothing,
    // where the uncapped join would emit ~k²/2 pairs.
    import spark.implicits._
    val dir = tempDir("dfcap")
    val nDocs = (operators.DedupOps.NgramDfCap + 12).toInt
    (0 until nDocs).map(i => (i.toLong, "boiler plate text common to all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(operators.DedupOps.dedupNgramJaccard(spark, dir).count() == 0,
      s"shingles with DF > ${operators.DedupOps.NgramDfCap} must not generate candidates")
  }

  test("simhash and minhash band caps bound candidates on a degenerate corpus") {
    // the jaccard cap's siblings: identical docs share every band
    // bucket value, so one bucket holds the whole corpus and the band
    // self-join emits ~k²/2 candidates without the cap. With it, every
    // bucket is over-cap and the join emits nothing (exact dedup is
    // the pass that handles an all-identical corpus).
    import spark.implicits._
    val dir = tempDir("simcap")
    val nDocs = (operators.DedupOps.SimhashBandCap + 12).toInt
    (0 until nDocs).map(i => (i.toLong, "boiler plate text common to all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(operators.DedupOps.dedupSimhash(spark, dir).count() == 0,
      s"(band, chunk) buckets over ${operators.DedupOps.SimhashBandCap} docs must not generate candidates")
    assert(operators.DedupOps.dedupMinhashLsh(spark, dir).count() == 0,
      s"(band, bucket) buckets over ${operators.DedupOps.LshBandCap} docs must not generate candidates")
  }

  test("span-dedup DF cap bounds candidates when one span is corpus-wide boilerplate") {
    // same pigeonhole guard as the jaccard cap, for exact 12-token
    // spans: a license-header span shared by the whole corpus would
    // otherwise emit k²/2 pairs from the span self-join. With every
    // span over-cap, the join must emit nothing.
    import spark.implicits._
    val dir = tempDir("spancap")
    val nDocs = (operators.DedupOps.SpanDfCap + 12).toInt
    val boiler = (1 to operators.DedupOps.SpanLen).map(i => s"w$i").mkString(" ")
    (0 until nDocs).map(i => (i.toLong, boiler))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(operators.DedupOps.dedupSpan(spark, dir).count() == 0,
      s"spans with DF > ${operators.DedupOps.SpanDfCap} must not generate candidates")
  }

  test("prefix-dedup DF cap bounds candidates when one opening is corpus-wide") {
    // round-14 sibling of the jaccard/simhash/span caps: a boilerplate
    // 4-token opening ("subscribe to our newsletter …") shared by the
    // whole corpus puts every doc in one prefix-key group — k²/2 pairs
    // without the cap, zero with it (every group is over-cap).
    import spark.implicits._
    val dir = tempDir("prefcap")
    val nDocs = (operators.DedupOps.PrefixDfCap + 12).toInt
    (0 until nDocs).map(i => (i.toLong, s"same four token opening then unique tail $i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(operators.DedupOps.dedupPrefix(spark, dir).count() == 0,
      s"prefix keys over ${operators.DedupOps.PrefixDfCap} docs must not generate candidates")
  }

  test("all dedup caps apply as anti-joins, and any doc-list aggregate sits above one") {
    // the cap's scale property depends on its SHAPE: an anti-join
    // against the small over-cap set keeps every aggregation buffer
    // constant-size. Since r19, the jaccard/LSH pair generators DO
    // collect a per-key doc list — but only AFTER the anti-join has
    // removed every over-cap key, so the buffer is ≤ NgramDfCap /
    // LshBandCap ids by construction (the semantic guarantee is the
    // over-cap-corpus zero-candidate tests above). What must never
    // appear is a collect_list whose input is NOT anti-join-capped —
    // that is the corpus-sized-array-in-one-reducer OOM. In the plan
    // tree text, children print BELOW their parent, so the capping
    // join must appear after the aggregate that consumes it.
    Seq(operators.DedupOps.dedupNgramJaccard(spark, sf0001),
        operators.DedupOps.dedupSimhash(spark, sf0001),
        operators.DedupOps.dedupMinhashLsh(spark, sf0001),
        operators.DedupOps.dedupSpan(spark, sf0001),
        operators.DedupOps.dedupContainment(spark, sf0001),
        operators.DedupOps.dedupCrossSource(spark, sf0001),
        operators.DedupOps.dedupPrefix(spark, sf0001),
        operators.MultimodalOps.mmDedupNear(spark, sf0001)).foreach { df =>
      val p = plan(df)
      assert(p.contains("LeftAnti"), s"cap must be an anti-join:\n${p.take(800)}")
      val firstList = p.indexOf("collect_list")
      if (firstList >= 0)
        assert(p.indexOf("LeftAnti", firstList) >= 0,
          s"every collect_list must aggregate an anti-join-capped input " +
            s"(no LeftAnti below the first collect_list):\n${p.take(1200)}")
    }
  }

  test("media near-dup DF cap bounds candidates when one perceptual bucket is corpus-wide") {
    // round-15 sibling of the prefix/span caps, on the media side: a
    // corpus of same-shaped thumbnails (identical n_chars → identical
    // stub width/height, same byte bucket) lands in ONE perceptual
    // bucket — quadratic pairs without the cap, zero with it
    import spark.implicits._
    val dir = tempDir("mmnearcap")
    val nDocs = (operators.MultimodalOps.MmNearDfCap + 12).toInt
    (0 until nDocs).map(i => (i.toLong, "x" * 100, 100L))
      .toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(operators.MultimodalOps.mmDedupNear(spark, dir).count() == 0,
      s"buckets over ${operators.MultimodalOps.MmNearDfCap} media must not generate candidates")
  }

  test("partitioned doc sink read-back prunes to the probed source partition") {
    // the curated-corpus layout rule: one directory per source, so a
    // per-domain read is partition PRUNING — the filter must land in
    // PartitionFilters (directory selection), not as a data filter
    // over a full scan
    val p = plan(operators.CurationOps.docPartitionedSink(spark, sf0001))
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("src3")),
      s"source filter must prune partitions:\n${p.take(1200)}")
  }

  test("knn graph pairs only within LSH buckets — never an all-pairs product") {
    // the all-vectors kNN graph must stay a bucket equi-join: a
    // CartesianProduct or nested-loop here is the n² brute shape that
    // dies at 100 TB (sim_topk_brute is the labeled baseline for that)
    val p = plan(operators.SimilarityOps.simKnnGraph(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"knn graph must equi-join on the signature bucket:\n${p.take(800)}")
  }

  test("events loader adapts to the on-disk ts physical type (schema drift pin)") {
    // the testdata generator has shipped events.ts as INT64
    // TIMESTAMP(NANOS) in some rounds and timestamp[us] in others; a
    // loader hard-coded to either breaks 13 ev_* ops + q_asof_join at
    // analysis time when the driver regenerates (rounds 10-11). The
    // loader must yield session-tz TimestampType from EVERY variant.
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    import spark.implicits._
    assert(Tables.events(spark, sf0001).schema("ts").dataType == TimestampType,
      "loader must normalize whatever is on disk to TimestampType")
    // nanos-as-long variant: integer-divides to µs
    val nanos = Seq((1L, 1700000000123456789L)).toDF("event_id", "ts")
    val fromNanos = Tables.normalizeTs(nanos)
    assert(fromNanos.schema("ts").dataType == TimestampType)
    assert(fromNanos.select($"ts".cast("long")).head().getLong(0) == 1700000000L)
    // timestamp[us] (NTZ) variant: cast is identity-valued under the
    // pinned UTC session tz
    val ntz = nanos.select($"event_id",
      org.apache.spark.sql.functions.expr(
        "timestamp_ntz '2023-11-14 22:13:20.123456'").as("ts"))
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    val fromNtz = Tables.normalizeTs(ntz)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    assert(fromNtz.select($"ts".cast("long")).head().getLong(0) == 1700000000L)
    // already-TimestampType: pass through untouched
    assert(Tables.normalizeTs(fromNtz).schema("ts").dataType == TimestampType)
  }

  test("a 30-verb QuadStore script keeps a constant optimized plan") {
    // graph verbs edit the driver-side graph map and data blocks edit
    // one graph's delta, so the quad plan depends on the graphs and the
    // shape of their deltas, never on how many verbs ran. Each 6-verb
    // round of the seeded script leaves the same graphs in the same
    // shape (g1 = src plus a one-insert, one-delete delta; tmp gone).
    import spark.implicits._
    def t(i: Int) = Triple(RdfTerm.named(s"s$i"), RdfTerm.named("p"), RdfTerm.named(s"o$i"))
    val start = store.QuadStore.fromGraphs(spark, Seq(
      None -> (0 until 3).map(t).toDS(),
      Some("src") -> (3 until 8).map(t).toDS(),
      Some("g1") -> (8 until 10).map(t).toDS()))
    val rnd = new scala.util.Random(42)
    val rounds = Seq.fill(5) {
      val Seq(a, b) = rnd.shuffle((0 until 12).toList).take(2)
      (a, b, if (rnd.nextBoolean()) "clear" else "drop")
    }
    val script = rounds.flatMap { case (a, b, verb) =>
      Seq(s"$verb graph g1",
        "create graph tmp",
        "copy src to tmp",
        s"insert data { graph tmp { s$a p o$a } }",
        s"delete data { graph tmp { s$b p o$b } }",
        "move tmp to g1")
    }
    assert(rounds.map(_._3).toSet == Set("clear", "drop"))
    val nodes = Seq(6, 12, 30).map { n =>
      val qs = script.take(n).foldLeft(start)(_.update(_))
      val (a, b, _) = rounds(n / 6 - 1)
      assert(qs.graphNames == Set("src", "g1"))
      assert(qs.graph(Some("g1")).triples.collect().toSet == (3 until 8).map(t).toSet + t(a) - t(b))
      qs.quads.queryExecution.optimizedPlan.collect { case _ => 1 }.sum
    }
    assert(nodes.distinct.size == 1, s"quad plan grew with the verb count: $nodes")
  }

  test("insert/remove keep one triple_in filter over the base, without the lineage knob") {
    // the reference's documented usage is insert_triple / remove_triple
    // in a loop on one graph (graph.rs:414-629). Each call edits the
    // driver-side delta; the store's plan is one triple_in filter of the
    // base against the delta plus one union, however many calls ran
    import graft.functions.TripleIn
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    def t(i: Int) = Triple(RdfTerm.named(s"t$i"), RdfTerm.named("p"), RdfTerm.named("o"))
    val dir = tempDir("delta_plan")
    TripleStore.fromTriples(spark, (0 until 8).map(t)).persist(dir)
    val base = TripleStore.fromBackup(spark, dir)
    val basePlan = base.triples.queryExecution.optimizedPlan
    def mutated(n: Int) = (1 to n).foldLeft(base)((st, i) =>
      st.insertTriple(t(100 + i)).removeTriple(t(i % 8)))
    val plans = Seq(4, 24).map { n =>
      val st = mutated(n)
      assert(st.count() == 8 + n - math.min(n, 8))
      st.triples.queryExecution.optimizedPlan
    }
    val sizes = plans.map(_.collect { case _ => 1 }.sum)
    assert(sizes.distinct.size == 1, s"plan grew with the mutation count: $sizes")
    plans.foreach { p =>
      assert(p.collect { case j: Join => j }.isEmpty, p.treeString)
      val deltas = p.collect { case f: Filter if f.condition.exists(_.isInstanceOf[TripleIn]) => f }
      assert(deltas.size == 1, p.treeString)
      assert(deltas.head.child.sameResult(basePlan), p.treeString)
    }
  }

  test("an exact-term lookup after a mutation is one job, like one on the store it mutated") {
    // the delta is a predicate in the snapshot scan, so no broadcast
    // stage runs before the lookup's own job
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val dir = tempDir("mutated_lookup")
    TripleStore.fromTriples(spark,
      (1 to 200).map(i => t(s"s$i", s"p${i % 7}", s"o${i % 13}"))).persist(dir)
    val restored = TripleStore.fromBackup(spark, dir)
    val q = query.Sparql.parse("select $o where { <s8> <p1> $o }")
    def values(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.getStruct(0).getAs[String]("value")).toSet
    val inserted = restored.insertTriple(t("s8", "p1", "fresh")).query(q)
    val (ins, insJobs) = jobsDuring(inserted.collect())
    assert(values(ins) == Set("o8", "fresh"))
    assert(insJobs.size == 1, insJobs)
    val removed = restored.removeTriple(t("s8", "p1", "o8")).query(q)
    val (rem, remJobs) = jobsDuring(removed.collect())
    assert(rem.isEmpty)
    assert(remJobs.size == 1, remJobs)
  }

  test("a growing delta compiles no new code: twelve mutations, each with a lookup") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val dir = tempDir("delta_codegen")
    TripleStore.fromTriples(spark,
      (1 to 200).map(i => t(s"s$i", s"p${i % 7}", s"o${i % 13}"))).persist(dir)
    def lookup(st: TripleStore, s: String): Int =
      st.query(query.Sparql.parse(s"select $$p $$o where { <$s> $$p $$o }")).collect().length
    // warm-up: a removal and an insertion, so both the filter and the
    // union with the inserted rows have compiled once
    var st = TripleStore.fromBackup(spark, dir)
      .removeTriple(t("s1", "p1", "o1")).insertTriple(t("w", "p0", "o0"))
    assert(lookup(st, "s1") == 0 && lookup(st, "w") == 1)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (2 to 13).foreach { i =>
      val s = s"s$i"
      st = if (i % 2 == 0) st.insertTriple(t(s, "extra", s"o$i"))
        else st.removeTriple(t(s, s"p${i % 7}", s"o${i % 13}"))
      assert(lookup(st, s) == (if (i % 2 == 0) 2 else 0), s)
    }
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }

  test("doc_rag_index_append appends only to touched list partitions, base files byte-stable") {
    import scala.jdk.CollectionConverters._
    tempIndexRoot("rag_app_pin")
    def listing(dir: String): Map[String, Long] = {
      val base = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)
          && p.getFileName.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
    }
    val (dir, cents) = operators.CurationOps.ragAppendBase(spark, sf0001)
    val before = listing(dir)
    val touched = operators.CurationOps.ragAppendNew(spark, sf0001, dir, cents)
    val after = listing(dir)
    // every base file survives the append byte-identically
    before.foreach { case (f, sz) =>
      assert(after.get(f).contains(sz), s"base file $f rewritten by append") }
    // new files appear ONLY under the touched list_id= directories
    val fresh = after.keySet -- before.keySet
    assert(fresh.nonEmpty, "append wrote nothing")
    val touchedDirs = touched.map(l => s"list_id=$l/").toSet
    fresh.foreach { f =>
      assert(touchedDirs.exists(f.startsWith),
        s"append wrote $f outside the touched partitions $touched") }
  }

  test("bloom pre-pass: definite-absent branch joins nothing; one exact anti-join remains") {
    val p = plan(operators.DedupOps.dedupIncrementalBloom(spark, sf0001))
    // the maybe-present slice is the ONLY side that pays a join —
    // definite-new rows flow scan→filter→union with no join at all
    assert("LeftAnti".r.findAllIn(p).size == 1, p)
    assert(p.contains("bloom_might_contain"), p)
    operators.DedupOps.releaseCaches()
  }

  test("doc_rag_index_compact rewrites only touched lists, one file each, rows intact") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    tempIndexRoot("rag_cmp_pin")
    def listing(dir: String): Map[String, Long] = {
      val base = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)
          && p.getFileName.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
    }
    val (dir, cents) = operators.CurationOps.ragAppendBase(spark, sf0001)
    val touched = operators.CurationOps.ragAppendNew(spark, sf0001, dir, cents)
    val fragged = listing(dir)
    val rowsBefore = spark.read.parquet(dir)
      .select($"doc_id", $"chunk_id", $"list_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    operators.CurationOps.ragCompactTouched(spark, dir, touched)
    val compacted = listing(dir)
    val touchedDirs = touched.map(l => s"list_id=$l/").toSet
    // untouched base partitions keep their files byte-identically
    fragged.filterNot { case (f, _) => touchedDirs.exists(f.startsWith) }
      .foreach { case (f, sz) =>
        assert(compacted.get(f).contains(sz), s"untouched file $f rewritten") }
    // every touched partition collapsed to exactly one file
    touched.foreach { l =>
      val files = compacted.keySet.filter(_.startsWith(s"list_id=$l/"))
      assert(files.size == 1, s"list $l has ${files.size} files after compact")
    }
    // and compaction was worth doing: strictly fewer files than the
    // fragmented layout (base write + append write per touched list)
    assert(compacted.size < fragged.size, "compaction freed no files")
    // content identical row-for-row
    val rowsAfter = spark.read.parquet(dir)
      .select($"doc_id", $"chunk_id", $"list_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(rowsAfter == rowsBefore)
  }

  test("doc_rag_index_delete rewrites only victim lists; untouched lists byte-stable; victims gone") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    tempIndexRoot("rag_del_pin")
    def listing(dir: String): Map[String, Long] = {
      val base = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)
          && p.getFileName.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
    }
    val (dir, cents) = operators.CurationOps.ragAppendBase(spark, sf0001)
    operators.CurationOps.ragAppendNew(spark, sf0001, dir, cents)
    val before = listing(dir)
    val touched = operators.CurationOps.ragDeleteFrom(spark, dir)
    val after = listing(dir)
    assert(touched.nonEmpty, "takedown set hit no list")
    val touchedDirs = touched.map(l => s"list_id=$l/").toSet
    // lists holding no victims keep their files byte-identically —
    // delete cost is proportional to the deleted data's spread
    before.filterNot { case (f, _) => touchedDirs.exists(f.startsWith) }
      .foreach { case (f, sz) =>
        assert(after.get(f).contains(sz), s"untouched file $f rewritten by delete") }
    // and the victims are really gone from the read-back
    val mod = operators.CurationOps.RagTakedownMod
    val res = operators.CurationOps.RagTakedownRes
    assert(spark.read.parquet(dir)
      .filter($"doc_id" % mod === res).count() == 0)
  }

  test("sim_ann_ivf_balance splits only over-cap lists; untouched list dirs byte-stable") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    tempIndexRoot("ivf_bal_pin")
    def listing(dir: String): Map[String, Long] = {
      val base = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)
          && p.getFileName.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
    }
    val dir = operators.MlOps.ivfBalanceBuild(spark, sf0001)
    val before = listing(dir)
    val rowsBefore = spark.read.parquet(dir)
      .select($"vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val hot = operators.MlOps.ivfSplitHot(spark, dir)
    assert(hot.nonEmpty, "fixture produced no over-cap list — split path unexercised")
    val after = listing(dir)
    val hotDirs = hot.flatMap(l =>
      Seq(s"list_id=$l/", s"list_id=${operators.IvfKmeans.K + l}/")).toSet
    // cold lists keep their files byte-identically — split cost is
    // proportional to the hot data, never the index
    before.filterNot { case (f, _) => hotDirs.exists(f.startsWith) }
      .foreach { case (f, sz) =>
        assert(after.get(f).contains(sz), s"untouched file $f rewritten by split") }
    // every new/rewritten file is confined to hot parents + children
    val changed = (after.keySet -- before.keySet) ++
      before.keySet.filter(f => !after.get(f).contains(before(f)))
    changed.foreach { f =>
      assert(hotDirs.exists(f.startsWith), s"split touched $f outside hot lists $hot") }
    // each split produced a real child partition
    hot.foreach { l =>
      assert(after.keySet.exists(_.startsWith(s"list_id=${operators.IvfKmeans.K + l}/")),
        s"no child partition for split list $l") }
    // split MOVES vectors, never drops or duplicates them
    val rowsAfter = spark.read.parquet(dir)
      .select($"vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rowsAfter == rowsBefore)
  }

  test("sq8 scan joins broadcast query codes and scores with the native kernel") {
    val p = plan(operators.MlOps.simAnnSq8(spark, sf0001))
    // the corpus-linear scan side never shuffles to meet the queries:
    // the query-code side broadcasts, distance is the codegen'd kernel
    assert(p.contains("sq_dist"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("doc_rag_index probe read is PartitionFilters-only (4-of-16ths I/O)") {
    import spark.implicits._
    // docRagIndex writes the list-partitioned index to a deterministic
    // corpus-keyed dir, then probes through ragProbedIndexRead — pin
    // the scan shape of that EXACT read path: the probed isin() must
    // become a partition filter (directory pruning), never a full scan
    tempIndexRoot("rag_idx_pin")
    operators.CurationOps.docRagIndex(spark, sf0001).collect()
    val dir = operators.CurationOps.ragIndexDir(spark, sf0001)
    val probed = operators.CurationOps.ragProbedIndexRead(spark, dir, Seq(3, 7))
    val physical = probed.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters: [list_id"), physical)
    // and the on-disk layout really is one directory per list
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list_id="))
    assert(parts.nonEmpty, s"no list_id= partitions under $dir")
  }

  test("NB scoring joins the model BROADCAST; the corpus never shuffles to meet it") {
    // the weight table is vocab-sized (model, not data) — if the score
    // join ever degrades to SortMergeJoin, every scored corpus pays a
    // corpus-wide shuffle at 100 TB
    val p = plan(operators.CurationOps.docQualityNb(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("PRF passes join broadcast query-term sets; windows are per-qid") {
    val p = plan(operators.CurationOps.docRagPrf(spark, sf0001))
    // all three inverted-index joins meet eval-sized term sets —
    // none may degrade to a corpus-wide SortMergeJoin
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("row_number() windowspecdefinition(qid#"), p)
  }

  test("DSIR weight join is broadcast and selection windows are per-source") {
    val p = plan(operators.CurationOps.docDsirSelect(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // rank runs inside per-source window partitions, never a global sort
    assert(p.contains("row_number() windowspecdefinition(source#"), p)
  }

  test("hard negatives screen positives with an anti-join before the ranking") {
    val p = plan(operators.SimilarityOps.simHardNegatives(spark, sf0001))
    // the LSH positive screen must be a join-shaped exclusion (an
    // aggregated blocklist collected to the driver would cap at driver
    // memory exactly when the dup volume is largest)
    assert(p.contains("LeftAnti"), p)
    // ranking windows stay per-anchor, never a global sort
    assert(p.contains("row_number() windowspecdefinition(qid#"), p)
  }

  test("mix temperature stays catalog-sized: no sort-merge join, no root-table join") {
    val p = plan(operators.CurationOps.docMixTemperature(spark, sf0001))
    // the integer sqrt is a pure projection — a join against a
    // generated k-range (the naive isqrt formulation) would put a
    // million-row nested loop behind every mixture refresh
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Range ("), p)
    // the per-source rollup partially aggregates before its exchange
    assert(p.contains("HashAggregate"), p)
  }

  test("filtered index probe read: partition-pruned lists AND lang pushed to parquet") {
    import org.apache.spark.sql.functions.col
    // docRagIndexFiltered writes the payload-carrying index, then
    // serves through ragProbedIndexRead + the lang data filter — pin
    // BOTH halves of the claimed scan shape on that exact read path:
    // probed lists prune directories, the predicate reaches parquet
    tempIndexRoot("rag_lidx_pin")
    operators.CurationOps.docRagIndexFiltered(spark, sf0001).collect()
    val dir = operators.CurationOps.ragLangIndexDir(spark, sf0001)
    val probed = operators.CurationOps.ragProbedIndexRead(spark, dir, Seq(3, 7))
      .filter(col("lang") === operators.CurationOps.RagFilterLang)
    val physical = probed.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters: [list_id"), physical)
    assert(physical.contains("EqualTo(lang,en)"), physical)
  }

  test("mix epochs: one corpus scan — everything downstream reads the cached rollup") {
    spark.catalog.clearCache()
    val (out, per) = operators.CurationOps.mixEpochsLazy(spark, sf0001)
    try {
      // inspect the cache-substituted LOGICAL plan: collect() does not
      // descend into InMemoryRelation.cachedPlan, so a zero raw-scan
      // count proves every leaf reads the catalog-sized cache — the
      // string form can't distinguish (InMemoryRelation prints its
      // cached FileScan)
      val lp = out.queryExecution.withCachedData
      val rawScans = lp.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }.size
      val cacheReads = lp.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }.size
      assert(rawScans == 0, s"allocation plan re-scans the corpus:\n$lp")
      assert(cacheReads >= 2, s"expected ≥2 cache reads, got $cacheReads:\n$lp")
      assert(!out.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    } finally per.unpersist()
  }

  test("filtered retrieval pushes the lang predicate into the parquet scan, below the rank window") {
    spark.catalog.clearCache()
    val (out, cvu) = operators.CurationOps.ragFilteredLazy(spark, sf0001)
    try {
      val p = out.queryExecution.executedPlan.toString
      // pre-filtering, made literal: the predicate reaches the lang
      // column's parquet scan (at 100 TB, with lang written into the
      // list partitions, the same predicate prunes the probed scan) …
      assert(p.contains("EqualTo(lang,en)"), p)
      // … so candidates are cut BEFORE the per-query rank window ever
      // sees them (post-filtering would under-fill top-K). Anchored to
      // the TREE, not print order: the lang predicate must live in the
      // rank window's own subtree (string index order can pass for a
      // regressed plan depending on join-child print order).
      import org.apache.spark.sql.catalyst.plans.logical
      val lp = out.queryExecution.optimizedPlan
      val win = lp.collectFirst { case w: logical.Window => w }
      assert(win.isDefined, s"no rank window in plan:\n$lp")
      val langBelowWindow = win.get.collectFirst {
        case f: logical.Filter if f.condition.toString.contains("lang") => f
      }.isDefined
      assert(langBelowWindow, s"lang filter not below the rank window:\n$lp")
    } finally cvu.unpersist()
  }

  test("probe sweep levels filter ONE cached candidate set — no per-level corpus re-scan") {
    spark.catalog.clearCache()
    val (out, caches) = operators.MlOps.probeSweepLazy(spark, sf0001)
    try {
      // every sweep level (got + scanned per depth) and every recall
      // join reads caches; the embeddings table is scanned only when
      // the caches fill, never per level (same logical-plan inspection
      // rationale as the mix-epochs pin)
      val lp = out.queryExecution.withCachedData
      val rawScans = lp.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }.size
      val cacheReads = lp.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }.size
      assert(rawScans == 0, s"sweep plan re-scans the corpus:\n$lp")
      assert(cacheReads >= 8, s"expected ≥8 cache reads, got $cacheReads:\n$lp")
    } finally caches.foreach(_.unpersist())
  }
}
