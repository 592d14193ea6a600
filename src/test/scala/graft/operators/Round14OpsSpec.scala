package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants for the round-14 additions: RANGE window frames,
  * positional window values, windowed leaderboards, zero-filled rate
  * series, feature hashing, eval-contamination ppm, length histograms,
  * prefix dedup, and the ANN recall meter. */
class Round14OpsSpec extends SparkSpec {

  test("range frames: window includes self, and is at least the same-day peer set") {
    import spark.implicits._
    val out = RelationalOps.qRangeFrames(spark, sf0001).cache()
    // the ±30-day frame always contains the row itself
    assert(out.filter($"nearby_n" < 1L).count() == 0)
    assert(out.filter($"nearby_spend".isNull).count() == 0)
    // frame is symmetric in the day key: same (custkey, day) rows must
    // report identical nearby_n (RANGE peers aggregate identically)
    val diverging = out.groupBy($"o_custkey", $"day_no")
      .agg(countDistinct($"nearby_n").as("k")).filter($"k" > 1L)
    assert(diverging.count() == 0)
    out.unpersist()
  }

  test("first/last: positional values agree with per-partition extremes") {
    import spark.implicits._
    val out = RelationalOps.qFirstLast(spark, sf0001).cache()
    // last_key is constant per customer and equals the max order key
    val bad = out.groupBy($"o_custkey")
      .agg(countDistinct($"last_key").as("k"),
        max($"o_orderkey").as("mx"), first($"last_key").as("lk"))
      .filter($"k" =!= 1L || $"mx" =!= $"lk")
    assert(bad.count() == 0)
    // second_key is null only for 1-row partitions
    val singles = out.groupBy($"o_custkey").count().filter($"count" === 1L).count()
    assert(out.filter($"second_key".isNull).count() == singles)
    out.unpersist()
  }

  test("top-k per window: at most 2 rows per window, ranks dense from 1") {
    import spark.implicits._
    val out = EventOps.evTopKPerWindow(spark, sf0001).cache()
    val perW = out.groupBy($"w_start").agg(count(lit(1)).as("n"),
      min($"rnk").as("lo"), max($"rnk").as("hi"))
    assert(perW.filter($"n" > 2L || $"lo" =!= 1L || $"hi" =!= $"n").count() == 0)
    // rank 1's count dominates rank 2's within every window
    val w1 = out.filter($"rnk" === 1L).select($"w_start", $"n".as("n1"))
    val w2 = out.filter($"rnk" === 2L).select($"w_start", $"n".as("n2"))
    assert(w1.join(w2, "w_start").filter($"n1" < $"n2").count() == 0)
    out.unpersist()
  }

  test("rate fill: dense calendar grid, counts conserve the corpus") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val out = EventOps.evRateFill(spark, sf0001).cache()
    val types = ev.select($"event_type").distinct().count()
    val hours = out.select($"w_start").distinct().count()
    // dense grid: exactly hours × types rows, no gaps
    assert(out.count() == hours * types)
    // zero-filling adds rows, never counts: totals match the raw table
    assert(out.agg(sum($"n")).head.getLong(0) == ev.count())
    assert(out.filter($"n" < 0L).count() == 0)
    out.unpersist()
  }

  test("hash features: every doc surfaces; score bounded by ±3·n_tokens") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf0001)
    val out = TextOps.textHashFeatures(spark, sf0001).cache()
    assert(out.count() == docs.count())
    // weights live in [-3, 3], so |score| ≤ 3·n_tokens
    assert(out.filter(abs($"score") > lit(3L) * $"n_tokens").count() == 0)
    out.unpersist()
  }

  test("eval overlap: only held-out docs, ppm within [0, 1e6]") {
    import spark.implicits._
    val out = TextOps.textEvalOverlap(spark, sf0001).cache()
    assert(out.filter($"doc_id" % 50 =!= 0L).count() == 0)
    assert(out.filter($"overlap_ppm" < 0L || $"overlap_ppm" > 1000000L).count() == 0)
    assert(out.filter($"n_hit" > $"n_grams").count() == 0)
    out.unpersist()
  }

  test("length histogram: bucket mass conserves docs and tokens") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf0001).filter($"text".isNotNull)
    val out = CurationOps.docLengthHistogram(spark, sf0001).cache()
    assert(out.agg(sum($"n_docs")).head.getLong(0) == docs.count())
    val tokTotal = docs.agg(sum(size(split($"text", " ")).cast("long")))
      .head.getLong(0)
    assert(out.agg(sum($"sum_tokens")).head.getLong(0) == tokTotal)
    // bucket = floor(log2): doc count per (source, bucket) is positive
    assert(out.filter($"n_docs" < 1L || $"bucket" < 0L).count() == 0)
    out.unpersist()
  }

  test("prefix dedup: pairs are ordered, share the 4-token prefix key") {
    import spark.implicits._
    val out = DedupOps.dedupPrefix(spark, sf0001).cache()
    assert(out.filter($"da" >= $"db").count() == 0)
    // re-derive each side's prefix key and check both equal the pair's
    val k = graft.Tables.documents(spark, sf0001).filter($"text".isNotNull)
      .select($"doc_id", md5(concat_ws(" ", slice(split($"text", " "), 1, 4))).as("k"))
    val bad = out
      .join(k.toDF("da", "ka"), "da").join(k.toDF("db", "kb"), "db")
      .filter($"ka" =!= $"pk" || $"kb" =!= $"pk")
    assert(bad.count() == 0)
    out.unpersist()
  }

  test("user lifetime: one row per user, bounds ordered, breadth bounded") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val out = EventOps.evUserLifetime(spark, sf0001).cache()
    assert(out.count() == ev.select($"user_id").distinct().count())
    assert(out.filter($"first_ts" > $"last_ts").count() == 0)
    assert(out.filter($"n_types" > $"n_events" || $"lifetime_days" < 0L).count() == 0)
    assert(out.agg(sum($"n_events")).head.getLong(0) == ev.count())
    out.unpersist()
  }

  test("burst detect: one peak per user, peak is the max windowed count") {
    import spark.implicits._
    val out = EventOps.evBurstDetect(spark, sf0001).cache()
    assert(out.select($"user_id").distinct().count() == out.count())
    // the peak can't be below the user's mean 15-min rate ceiling: it
    // is at least ceil(n_events / n_windows) ≥ 1
    assert(out.filter($"peak_n" < 1L).count() == 0)
    // peak window start aligns to the 15-minute grid
    assert(out.filter(unix_micros($"peak_w_start") % 900000000L =!= 0L).count() == 0)
    out.unpersist()
  }

  test("stream top-k equals the batch leaderboard") {
    val batch = EventOps.evTopKPerWindow(spark, sf0001).collect().toSeq
    val stream = EventOps.evStreamTopK(spark, sf0001).collect().toSeq
    assert(stream == batch)
  }

  test("ngram novelty: first doc is fully novel, ppm bounded") {
    import spark.implicits._
    val out = TextOps.textNgramNovelty(spark, sf0001).cache()
    // the lowest doc_id with grams owns all of its grams
    val firstDoc = out.agg(min($"doc_id")).head.getLong(0)
    val fd = out.filter($"doc_id" === firstDoc).head
    assert(fd.getAs[Long]("n_novel") == fd.getAs[Long]("n_grams"))
    assert(out.filter($"novelty_ppm" < 0L || $"novelty_ppm" > 1000000L).count() == 0)
    assert(out.filter($"n_novel" > $"n_grams").count() == 0)
    out.unpersist()
  }

  test("vocab growth: monotone in the threshold, capped by full vocab") {
    import spark.implicits._
    val out = TextOps.textVocabGrowth(spark, sf0001).orderBy($"threshold")
      .collect().toSeq
    val vocabs = out.map(_.getAs[Long]("vocab_size"))
    val occs = out.map(_.getAs[Long]("n_occurrences"))
    assert(vocabs == vocabs.sorted && occs == occs.sorted) // non-decreasing
    val fullVocab = graft.Tables.documents(spark, sf0001)
      .select(explode(split($"text", " "))).distinct().count()
    assert(vocabs.last <= fullVocab)
  }

  test("dedup report: flag counts bounded by doc counts, sources conserved") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf0001)
    val out = DedupOps.dedupReport(spark, sf0001).cache()
    assert(out.agg(sum($"n_docs")).head.getLong(0) == docs.count())
    assert(out.filter($"n_span_dup" > $"n_docs" || $"n_prefix_dup" > $"n_docs").count() == 0)
    // the report's span-flag total equals the distinct doc set in the pairs
    val spanDocs = DedupOps.dedupSpan(spark, sf0001)
      .select($"da").union(DedupOps.dedupSpan(spark, sf0001).select($"db"))
      .distinct().count()
    assert(out.agg(sum($"n_span_dup")).head.getLong(0) == spanDocs)
    out.unpersist()
  }

  test("pivot multi: measures reconcile with the unpivoted aggregate") {
    import spark.implicits._
    val out = RelationalOps.qPivotMulti(spark, sf0001)
    val total = out.agg(sum($"F_n") + sum($"O_n") + sum($"P_n")).head.getLong(0)
    assert(total == graft.Tables.orders(spark, sf0001).count())
  }

  test("doc chunk: widths conserve tokens, ids dense, only the tail is short") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf0001).filter($"text".isNotNull)
    val out = CurationOps.docChunk(spark, sf0001).cache()
    // token conservation: chunk widths sum to each doc's token count
    val perDoc = out.groupBy($"doc_id").agg(
      sum($"n_tokens").as("total"), max($"chunk_id").as("mx"),
      count(lit(1)).as("k"))
    val truth = docs.select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
    assert(perDoc.join(truth, "doc_id").filter($"total" =!= $"n").count() == 0)
    // chunk ids are dense 0..k-1
    assert(perDoc.filter($"mx" =!= $"k" - 1L).count() == 0)
    // every chunk except a doc's last is exactly ChunkTokens wide
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
    val short = out.withColumn("last_id", max($"chunk_id").over(w))
      .filter($"chunk_id" =!= $"last_id" &&
        $"n_tokens" =!= CurationOps.ChunkTokens)
    assert(short.count() == 0)
    // the corpus actually exercises the multi-chunk path
    assert(perDoc.filter($"k" > 1L).count() > 0)
    out.unpersist()
  }

  test("cooccurrence: symmetric-free pairs, weight bounded by user count") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val out = EventOps.evCooccurrence(spark, sf0001).cache()
    assert(out.filter($"type_a" >= $"type_b").count() == 0)
    val nUsers = ev.select($"user_id").distinct().count()
    assert(out.filter($"n_users" > nUsers || $"n_users" < 1L).count() == 0)
    out.unpersist()
  }

  test("latest per key: one row per customer, and it is the max (date, key)") {
    import spark.implicits._
    val orders = graft.Tables.orders(spark, sf0001)
    val out = RelationalOps.qLatestPerKey(spark, sf0001).cache()
    assert(out.count() == orders.select($"o_custkey").distinct().count())
    val truth = orders.groupBy($"o_custkey")
      .agg(max(struct($"o_orderdate", $"o_orderkey")).as("m"))
      .select($"o_custkey", $"m.o_orderkey".as("true_key"))
    assert(out.join(truth, "o_custkey")
      .filter($"o_orderkey" =!= $"true_key").count() == 0)
    out.unpersist()
  }

  test("transitions: totals conserve (events - one per user), types real") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val out = EventOps.evTransitions(spark, sf0001).cache()
    // each user contributes (n_events - 1) transitions
    val users = ev.select($"user_id").distinct().count()
    assert(out.agg(sum($"n")).head.getLong(0) == ev.count() - users)
    val types = ev.select($"event_type").distinct().collect().map(_.getString(0)).toSet
    assert(out.filter(!$"from_type".isin(types.toSeq: _*) ||
      !$"to_type".isin(types.toSeq: _*)).count() == 0)
    out.unpersist()
  }

  test("time to convert: non-negative, only users with view-then-purchase") {
    import spark.implicits._
    val out = EventOps.evTimeToConvert(spark, sf0001).cache()
    assert(out.filter($"convert_us" < 0L).count() == 0)
    assert(out.select($"user_id").distinct().count() == out.count())
    // every reported user really has a purchase at/after their first view
    val ev = graft.Tables.events(spark, sf0001)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val fv = ev.filter($"event_type" === "view").groupBy($"user_id")
      .agg(min($"us").as("vu"))
    val eligible = ev.filter($"event_type" === "purchase").join(fv, "user_id")
      .filter($"us" >= $"vu").select($"user_id").distinct()
    assert(out.join(eligible, Seq("user_id"), "left_anti").count() == 0)
    assert(out.count() == eligible.count())
    out.unpersist()
  }

  test("incremental agg merge equals full recompute") {
    import spark.implicits._
    val out = RelationalOps.qIncrementalAgg(spark, sf0001)
    val full = graft.Tables.orders(spark, sf0001).groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("spend"))
      .orderBy($"o_custkey")
    assert(out.collect().toSeq == full.collect().toSeq)
  }

  test("winnowing: density bound holds, duplicate docs share fingerprint counts") {
    import spark.implicits._
    val out = TextOps.textWinnowing(spark, sf0001).cache()
    // selection bound: distinct fingerprints ≤ windows, and ≥ windows/W
    // is NOT guaranteed per-doc, but ≥ 1 per full-window doc is
    assert(out.filter($"n_fingerprints" > $"n_windows" || $"n_fingerprints" < 1L).count() == 0)
    assert(out.filter($"n_windows" =!= $"n_grams" - (TextOps.WinnowW - 1)).count() == 0)
    // winnowing's guarantee: identical docs produce identical counts —
    // check via two docs built equal in a temp corpus
    val dir = tempDir("winnow")
    val txt = (1 to 40).map(i => s"tok${i % 13}").mkString(" ")
    Seq((1L, txt), (2L, txt), (3L, "a b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dup = TextOps.textWinnowing(spark, dir).collect()
    assert(dup.length == 2) // the 2-token doc has no full window
    assert(dup(0).getLong(3) == dup(1).getLong(3))
    out.unpersist()
  }

  test("churn cohort: user totals conserve, ppm consistent with counts") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val out = EventOps.evChurnCohort(spark, sf0001).cache()
    assert(out.agg(sum($"n_users")).head.getLong(0) ==
      ev.select($"user_id").distinct().count())
    assert(out.filter($"n_churned" > $"n_users").count() == 0)
    assert(out.filter(
      $"churn_ppm" =!= expr("(1000000 * n_churned) div n_users")).count() == 0)
    out.unpersist()
  }

  test("active users: wau dominates dau, both bounded by the user catalog") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val out = EventOps.evActiveUsers(spark, sf0001).cache()
    assert(out.filter($"wau" < $"dau").count() == 0)
    val nUsers = ev.select($"user_id").distinct().count()
    assert(out.filter($"dau" > nUsers || $"wau" > nUsers).count() == 0)
    // every event day appears
    val days = ev.select(datediff($"ts".cast("date"),
      lit("1970-01-01").cast("date"))).distinct().count()
    assert(out.count() == days)
    out.unpersist()
  }

  test("ann recall: lsh can never beat brute force; ppm consistent") {
    import spark.implicits._
    val out = MlOps.simAnnRecall(spark, sf0001).cache()
    assert(out.count() == 5) // the 5 fixed query vectors
    assert(out.filter($"n_true" =!= 3L).count() == 0) // recall@3 ground truth
    assert(out.filter($"n_hit" > $"n_true" || $"n_hit" < 0L).count() == 0)
    val bad = out.filter(
      $"recall_ppm" =!= expr("(1000000 * n_hit) div n_true"))
    assert(bad.count() == 0)
    out.unpersist()
  }
}
