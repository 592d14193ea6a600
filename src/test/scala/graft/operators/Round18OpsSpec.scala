package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral pins for the round-18 serve/tokenizer additions. */
class Round18OpsSpec extends SparkSpec {

  test("rag mmr: first pick is the relevance argmax, ranks dense, no duplicate chunks") {
    import spark.implicits._
    val mmr = CurationOps.docRagMmr(spark, sf0001).cache()
    val base = CurationOps.docRagE2e(spark, sf0001).cache()
    // MMR@1 must equal base retrieval@1 — round 1 has no redundancy
    // term, so any drift here is a bug, not a trade-off
    val m1 = mmr.filter($"rank" === 1L)
      .select($"qid", $"doc_id", $"chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b1 = base.filter($"rank" === 1L)
      .select($"qid", $"doc_id", $"chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(m1 == b1, s"MMR@1 must equal base@1: ${m1 -- b1} vs ${b1 -- m1}")
    // ranks dense 1..n per query, no (doc_id, chunk_id) repeated
    val perQ = mmr.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    perQ.foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq,
        s"qid=$q ranks not dense: ${rows.map(_._2).sorted.mkString(",")}")
      assert(rows.map(r => (r._3, r._4)).distinct.length == rows.length,
        s"qid=$q repeats a chunk")
    }
    // the diversity trade must not shrink coverage: across queries the
    // MMR context never cites FEWER distinct documents than the
    // plain top-K it replaces
    val mDocs = mmr.select($"qid", $"doc_id").distinct().count()
    val bDocs = base.select($"qid", $"doc_id").distinct().count()
    assert(mDocs >= bDocs,
      s"MMR must not reduce distinct-doc coverage: $mDocs < $bDocs")
    mmr.unpersist(); base.unpersist()
  }

  test("unigram train: single-char coverage survives pruning, costs are sane, ranks dense") {
    import spark.implicits._
    val tr = TextOps.textUnigramTrain(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(tr.nonEmpty)
    assert(tr.map(_._1).distinct.length == tr.length, "pieces must be unique")
    tr.foreach { case (p, nc, cnt, cost, _) =>
      assert(nc == p.length.toLong && nc >= 1 && nc <= TextOps.UniMaxPiece)
      assert(cnt >= 1, s"piece '$p' survived with zero count")
      assert(cost >= 0, s"piece '$p' has negative log2-milli cost")
    }
    assert(tr.map(_._5).sorted.toSeq == (1L to tr.length).toSeq, "rank not dense")
    // every character of the corpus dictionary must still be a piece
    // (the +1-smoothing floor exists exactly so coverage never breaks)
    val chars = graft.Tables.documents(spark, sf0001)
      .filter($"text".isNotNull)
      .select(explode(split($"text", " ")).as("w")).filter(length($"w") >= 1)
      .select(explode(split($"w", "")).as("c")).distinct()
      .as[String].collect().toSet
    val pieces = tr.map(_._1).toSet
    assert(chars.subsetOf(pieces), s"missing single chars: ${chars -- pieces}")
    // and the trainer must actually learn multi-char pieces on a
    // repetitive corpus — an all-singles vocabulary is a broken fit
    assert(tr.exists(_._2 >= 2), "no multi-char piece survived EM")
  }

  test("unigram encode: piece counts bounded by words and characters, every doc covered") {
    import spark.implicits._
    val enc = TextOps.textUnigramEncode(spark, sf0001).cache()
    val truth = graft.Tables.documents(spark, sf0001)
      .filter($"text".isNotNull)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("tw"), sum(length($"w")).cast("long").as("tc"))
    val joined = enc.join(truth, "doc_id").collect()
    assert(joined.length == truth.count(),
      "every doc with a non-empty word must be encoded")
    joined.foreach { r =>
      val (nw, np) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"))
      val (tw, tc) = (r.getAs[Long]("tw"), r.getAs[Long]("tc"))
      assert(nw == tw, s"doc ${r.getAs[Long]("doc_id")}: n_words $nw != $tw")
      assert(np >= nw && np <= tc,
        s"doc ${r.getAs[Long]("doc_id")}: n_pieces $np outside [words=$nw, chars=$tc]")
    }
    enc.unpersist()
  }

  test("unigram tokenizer survives the adversarial edge corpus") {
    import spark.implicits._
    // NULL text, empty text, runs of spaces (empty words), words longer
    // than any piece, the encode separators themselves ('|'), non-ASCII,
    // and a single-char corpus slice — the shapes ADVICE rounds keep
    // finding at family edges
    val dir = tempDir("r18uni")
    val docs = Seq(
      (0L, null.asInstanceOf[String], "src0"),
      (1L, "", "src0"),
      (2L, "   ", "src1"),
      (3L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "src1"),
      (4L, "| || |·|", "src2"),
      (5L, "héllo wörld héllo", "src2"),
      (6L, "a b a b a", "src3"),
      (7L, "mixmixmix mixmix mix", "src3"))
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val tr = TextOps.textUnigramTrain(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    assert(tr.nonEmpty && tr.forall(_._2 >= 1))
    // every corpus char (incl. '|', '·', accented) must stay encodable
    val pieces = tr.map(_._1).toSet
    for (c <- Seq("|", "·", "é", "ö", "a", "m"))
      assert(pieces(c), s"single char '$c' missing from the trained vocabulary")
    val enc = TextOps.textUnigramEncode(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val encIds = enc.map(_._1).toSet
    // docs 0–2 carry no non-empty word → no row (the family-wide
    // inner-join contract); everything else is encoded
    assert(encIds == Set(3L, 4L, 5L, 6L, 7L), s"got $encIds")
    val byId = enc.map(e => e._1 -> e).toMap
    assert(byId(3L)._2 == 1L && byId(3L)._3 >= 10L,
      "40-char word must segment into >= ceil(40/4) pieces")
    assert(byId(6L)._2 == 5L, "five single-char words")
    // determinism: a second fit reproduces the identical piece table
    val tr2 = TextOps.textUnigramTrain(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    assert(tr2.toSeq == tr.toSeq, "unigram fit must be deterministic")
  }

  test("unigram EM depth is uniFit's parameter (default UniRounds)") {
    import spark.implicits._
    val dir = tempDir("uni_depth")
    Seq((0L, "abab abab baba"), (1L, "abab cccc abab"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def fit() = TextOps.textUnigramTrain(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    def fitAt(depth: Int) = {
      val (model, sc, dict) = TextOps.uniFit(spark, dir, depth)
      dict.unpersist()
      model.map { case (p, c) => (p, c, sc(p)) }
    }
    val deflt = fit()
    assert(deflt.nonEmpty)
    for (depth <- Seq(1, 4)) {
      val d = fitAt(depth)
      // invariants hold at every depth: unique pieces, positive
      // counts, all single chars covered
      assert(d.map(_._1).distinct.length == d.length)
      assert(d.forall(t => t._2 >= 1 && t._3 >= 0))
      for (c <- Seq("a", "b", "c")) assert(d.exists(_._1 == c), s"lost char $c")
    }
    // the registered query still fits the default depth exactly
    assert(fitAt(TextOps.UniRounds).toSet == deflt.toSet)
    assert(fit().toSeq == deflt.toSeq)
    intercept[IllegalArgumentException](fitAt(0))
  }

  test("streamed unigram encode equals the batch encoder exactly") {
    import spark.implicits._
    val streamed = TextOps.textStreamUnigram(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val batch = TextOps.textUnigramEncode(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq,
      "stream/batch tokenization disagree — one model, two execution shapes")
  }

  test("unigram viterbi fallback keeps the encoder total on unknown characters") {
    import spark.implicits._
    val scores = Map("a" -> 100L, "b" -> 200L, "ab" -> 150L)
    val seg = Seq("ab", "abz", "zz").toDF("word")
      .withColumn("seg", TextOps.uniViterbi(scores))
      .select($"word", $"seg.negs", $"seg.np", $"seg.path")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // known words segment at real cost — the fallback must never win
    // where the vocabulary has a candidate
    assert(seg("ab") == ((150L, 1L, "ab")), seg("ab").toString)
    // unknown chars segment as single chars at the penalty cost
    // instead of failing the batch
    assert(seg("abz") == ((150L + TextOps.UniUnkCostMilli, 2L, "ab z")), seg("abz").toString)
    assert(seg("zz") == ((2 * TextOps.UniUnkCostMilli, 2L, "z z")), seg("zz").toString)
  }

  test("tokenizer fertility: bounded per source and consistent with its own counts") {
    import spark.implicits._
    val f = TextOps.textTokenizerFertility(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(f.nonEmpty)
    f.foreach { case (src, nd, nw, nb, nu, bf, uf) =>
      assert(nd > 0 && nw >= nd, s"$src: words < docs")
      // every word is at least one piece under both tokenizers
      assert(nb >= nw && nu >= nw, s"$src: pieces < words")
      // fertility is the ppm ratio of its own numerator columns
      assert(bf == 1000000L * nb / nw, s"$src: bpe fertility drifted")
      assert(uf == 1000000L * nu / nw, s"$src: unigram fertility drifted")
      assert(bf >= 1000000L && uf >= 1000000L, s"$src: fertility below 1.0")
    }
  }

  test("temperature interleave: dense positions, per-source order kept, schedule obeyed") {
    import spark.implicits._
    val il = CurationOps.docInterleaveTemperature(spark, sf0001).cache()
    val rows = il.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).sorted.toSeq == (1L to rows.length).toSeq,
      "positions must be dense 1..N")
    // within a source, documents keep their id order in the feed
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val ids = rs.sortBy(_._1).map(_._3)
      assert(ids.sorted.toSeq == ids.toSeq, s"$src: doc order shuffled in feed")
    }
    // the feed covers exactly the scheduled sources' non-NULL-text docs
    val sched = CurationOps.docMixTemperature(spark, sf0001)
      .filter($"alpha_ppm" === CurationOps.MixTempAlphasPpm.head && $"p_ppm" > 0L)
      .select($"source", $"p_ppm").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_._2).toSet == sched.keySet)
    // a higher-probability source must appear at least as often in the
    // first half of the feed as any lower-probability source
    val half = rows.filter(_._1 <= rows.length / 2).groupBy(_._2)
      .view.mapValues(_.length).toMap
    for ((a, pa) <- sched; (b, pb) <- sched if pa > pb)
      assert(half.getOrElse(a, 0) >= half.getOrElse(b, 0),
        s"$a (p=$pa) under-served vs $b (p=$pb) in the feed prefix")
    il.unpersist()
  }

  test("balance probe meter: split shrinks probe cost without losing recall") {
    import spark.implicits._
    val m = MlOps.simAnnBalanceProbe(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(m.nonEmpty, "meter must emit one row per query")
    m.foreach { case (q, cb, ca, hb, ha, rb, ra) =>
      assert(cb > 0 && ca > 0, s"qid=$q probed nothing")
      assert(hb >= 0 && hb <= 3 && ha >= 0 && ha <= 3, s"qid=$q hits out of range")
      assert(rb == 1000000L * hb / 3 && ra == 1000000L * ha / 3,
        s"qid=$q recall ppm drifted from counts")
    }
    // the split exists to shrink the probed candidate volume (tail
    // latency) — and must not lose ground-truth neighbors doing it
    assert(m.map(_._3).sum <= m.map(_._2).sum,
      "split increased total probe cost")
    assert(m.map(_._5).sum >= m.map(_._4).sum,
      "split lost ground-truth recall")
  }

  test("ppl bucket: covers every scoreable doc, tertiles balanced, fluency ordered") {
    import spark.implicits._
    val b = TextOps.textPplBucket(spark, sf0001).cache()
    val eligible = graft.Tables.documents(spark, sf0001)
      .filter($"text".isNotNull).filter(size(split($"text", " ")) >= 2).count()
    assert(b.count() == eligible, "every >=2-token doc gets a bucket")
    val rows = b.collect()
      .map(r => (r.getString(1), r.getLong(3), r.getString(4)))
    assert(rows.forall(_._2 >= 0), "surprisal cost cannot be negative")
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val sizes = rs.groupBy(_._3).view.mapValues(_.length)
      // ntile(3): group sizes differ by at most one
      assert(sizes.values.max - sizes.values.min <= 1, s"$src: skewed tertiles $sizes")
      // head must be at least as fluent (cheap) as tail everywhere
      val headMax = rs.filter(_._3 == "head").map(_._2).max
      val tailMin = rs.filter(_._3 == "tail").map(_._2).min
      assert(headMax <= tailMin, s"$src: head/tail fluency inverted")
    }
    b.unpersist()
  }

  test("hard negatives never sample a near-duplicate as a negative") {
    import spark.implicits._
    val neg = SimilarityOps.simHardNegatives(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(neg.nonEmpty)
    neg.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq, s"qid=$q ranks not dense")
      assert(rs.forall(_._3 != q), s"qid=$q sampled itself")
      assert(rs.map(_._4).distinct.length == 1, s"qid=$q inconsistent exclusion count")
    }
    // the LSH near-dup pair set (the positive screen's strictest
    // subset) must be disjoint from the mined negatives
    val dups = DedupOps.dedupEmbeddingLsh(spark, sf0001).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    val sampled = neg.map(r => (r._1, r._3)).toSet
    assert(sampled.intersect(dups).isEmpty,
      s"near-duplicates mined as negatives: ${sampled.intersect(dups).take(5)}")
    // and the screen must actually be live on this corpus
    assert(neg.exists(_._4 > 0), "no anchor excluded anything — screen inert")
  }

  test("rag mmr recall meter: ppm-bounded and consistent with its hit counts") {
    import spark.implicits._
    val rec = CurationOps.docRagMmrRecall(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rec.nonEmpty, "recall meter must emit one row per query")
    rec.foreach { case (q, nTrue, nHit, ppm) =>
      assert(nTrue > 0 && nHit >= 0 && nHit <= nTrue, s"qid=$q hits out of range")
      assert(ppm == 1000000L * nHit / nTrue, s"qid=$q ppm drifted from counts")
    }
  }

  test("probe sweep: recall and scan cost both monotone in nprobe, counts consistent") {
    val rows = MlOps.simAnnProbeSweep(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to MlOps.SweepMaxProbe).toSeq,
      "one row per probe depth")
    assert(rows.map(_._3).distinct.length == 1, "truth size must not vary with nprobe")
    rows.foreach { case (p, scanned, nTrue, nHit, ppm) =>
      assert(nHit >= 0 && nHit <= nTrue, s"nprobe=$p hits out of range")
      assert(ppm == 1000000L * nHit / nTrue, s"nprobe=$p ppm drifted")
      assert(scanned > 0, s"nprobe=$p scored nothing — probe inert")
    }
    // deeper probes can only ADD candidate lists: recall and cost are
    // both non-decreasing (a decrease means the sweep isn't a filter
    // chain over one scored candidate set)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"scanned fell ${a._2}→${b._2} at nprobe=${b._1}")
      assert(b._4 >= a._4, s"hits fell ${a._4}→${b._4} at nprobe=${b._1}")
    }
  }

  test("mix epochs: allocation identity, cap honored, schedule mass conserved") {
    import spark.implicits._
    val rows = CurationOps.docMixEpochs(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val totalTokens = rows.map(_._2).sum
    rows.foreach { case (src, n, p, demand, epochs, served, unmet) =>
      assert(demand == served + unmet, s"$src: demand ≠ served + unmet")
      assert(epochs <= CurationOps.MaxEpochs, s"$src: epoch cap breached")
      val wantEpochs = math.min((demand + n - 1) / n, CurationOps.MaxEpochs)
      assert(epochs == wantEpochs, s"$src: epochs=$epochs, want $wantEpochs")
      assert(served <= n * CurationOps.MaxEpochs, s"$src: served beyond cap")
      if (demand > 0) assert(epochs >= 1, s"$src: demanded but zero epochs")
    }
    // floor-rounding only ever loses mass: total demand stays within
    // the budget, and within #sources rounding units of it
    val demandSum = rows.map(_._4).sum
    val budget = CurationOps.EpochBudgetMul * totalTokens
    assert(demandSum <= budget, s"demand $demandSum exceeds budget $budget")
    // each source floors twice (p_ppm, then the 10⁶-split product):
    // ≤ EpochBudgetMul·(total/10⁶ + 1) tokens lost per source
    val maxLoss = CurationOps.EpochBudgetMul *
      rows.length * (totalTokens / 1000000L + 1L)
    assert(demandSum >= budget - maxLoss,
      s"demand $demandSum lost more than rounding can explain (budget $budget)")
  }

  test("curriculum: positions dense, bucket phases strictly ordered, domain matches ppl op") {
    import spark.implicits._
    val cur = CurationOps.docCurriculum(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(cur.map(_._1).sorted.toSeq == (1L to cur.length).toSeq, "positions not dense")
    val byBucket = cur.groupBy(_._2).map { case (b, rs) =>
      b -> (rs.map(_._1).min, rs.map(_._1).max)
    }
    for {
      (early, late) <- Seq(("head", "middle"), ("middle", "tail"))
      (_, eMax) <- byBucket.get(early)
      (lMin, _) <- byBucket.get(late)
    } assert(eMax < lMin, s"$early phase overlaps $late phase")
    val scoredDocs = TextOps.textPplBucket(spark, sf0001).count()
    assert(cur.length.toLong == scoredDocs,
      "curriculum must schedule exactly the scorable documents")
  }

  test("lateness profile: drops monotone in delay, zero at the lag spread, live below it") {
    val rows = EventOps.evLatenessProfile(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == EventOps.LatenessDelaysUs.sorted,
      "one row per candidate delay")
    assert(rows.map(r => r._2 + r._3).distinct.length == 1,
      "dropped + kept must be the corpus at every delay")
    rows.foreach { case (w, dropped, kept, ppm) =>
      assert(ppm == 1000000L * dropped / (dropped + kept), s"delay=$w ppm drifted")
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2, s"drops rose with a LONGER delay at ${b._1}")
    }
    // a delay covering the whole lag spread must lose nothing…
    assert(rows.last._1 >= (EventOps.LatenessMaxLagS - 1) * 1000000L)
    assert(rows.last._2 == 0L, "max delay still dropping — lag model leaks")
    // …and the zero-delay point must actually measure disorder
    assert(rows.head._2 > 0L, "profile inert: no drops at delay 0")
  }

  test("interleave epochs: dense positions, epoch-major per doc, row count matches allocation") {
    import spark.implicits._
    val feed = CurationOps.docInterleaveEpochs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(feed.map(_._1).sorted.toSeq == (1L to feed.length).toSeq,
      "positions not dense")
    val alloc = CurationOps.docMixEpochs(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(4))).toMap // source -> epochs
    val nDocs = graft.Tables.documents(spark, sf0001)
      .filter($"text".isNotNull).groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = alloc.collect { case (src, e) if e > 0 => nDocs(src) * e }.sum
    assert(feed.length.toLong == want,
      s"feed rows ${feed.length} ≠ Σ epochs·n_docs $want")
    // per doc: epochs dense from 0, and positions strictly epoch-major
    feed.groupBy(f => (f._2, f._3)).foreach { case ((src, doc), copies) =>
      val byEpoch = copies.sortBy(_._4)
      assert(byEpoch.map(_._4).toSeq == (0L until alloc(src)).toSeq,
        s"$src/$doc epochs not dense")
      byEpoch.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._1 < b._1, s"$src/$doc repeat surfaced before its earlier epoch")
        case _ => ()
      }
    }
  }

  test("bpe pack manifest: spans tile each doc exactly, mass equals the bpe counts") {
    import spark.implicits._
    val rows = CurationOps.docPackManifestBpe(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val nBpe = TextOps.bpeDocCounts(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap // (doc_id, n_words, n_bpe)
    // per doc: spans are contiguous, start at 0, end at n_bpe — the
    // manifest tiles every token exactly once
    rows.groupBy(r => (r._1, r._2)).foreach { case ((_, doc), spans) =>
      val sorted = spans.sortBy(_._3)
      assert(sorted.head._4 == 0L, s"doc $doc first span not at 0")
      assert(sorted.last._5 == nBpe(doc), s"doc $doc last span ≠ n_bpe")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 == b._4, s"doc $doc spans not contiguous")
          assert(b._3 == a._3 + 1, s"doc $doc skips a sequence")
        case _ => ()
      }
    }
    // global mass conservation: manifest token-span mass = Σ n_bpe of
    // every packed (non-empty) doc
    val mass = rows.map(r => r._5 - r._4).sum
    val packedDocs = rows.map(_._2).toSet
    assert(mass == packedDocs.toSeq.map(nBpe).sum, "span mass ≠ token mass")
    // and only zero-token docs are outside the manifest
    nBpe.foreach { case (doc, n) =>
      assert((n > 0) == packedDocs.contains(doc),
        s"doc $doc packed=${packedDocs.contains(doc)} with n_bpe=$n")
    }
  }

  test("filtered ANN: label predicate honored pre-ranking, meter consistent") {
    import spark.implicits._
    val labelOf = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = MlOps.simAnnFiltered(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "filtered ANN returned nothing")
    rows.foreach { case (q, rank, nid) =>
      assert(labelOf(nid) == MlOps.AnnFilterLabel,
        s"qid=$q retrieved vec $nid with label ${labelOf(nid)}")
      assert(nid != q, s"qid=$q retrieved itself")
      assert(rank >= 1 && rank <= 3, s"qid=$q rank $rank out of range")
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        s"qid=$q ranks not dense")
    }
    val rec = MlOps.simAnnFilteredRecall(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rec.nonEmpty)
    rec.foreach { case (q, nTrue, nHit, ppm) =>
      assert(nTrue > 0 && nHit >= 0 && nHit <= nTrue, s"qid=$q hits out of range")
      assert(ppm == 1000000L * nHit / nTrue, s"qid=$q ppm drifted from counts")
    }
  }

  test("filtered sweep agrees with the filtered serve at its probe depth; monotone in nprobe") {
    val sweep = MlOps.simAnnFilteredSweep(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(sweep.map(_._1).toSeq == (1L to MlOps.SweepMaxProbe).toSeq)
    sweep.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 && b._4 >= a._4,
        s"filtered sweep not monotone at nprobe=${b._1}")
    }
    // cross-pin: the sweep's nprobe=2 level IS sim_ann_filtered's
    // serve (same probe depth, same filter, same truth) — their hit
    // totals must agree exactly
    val servedHits = MlOps.simAnnFilteredRecall(spark, sf0001).collect()
      .map(_.getLong(2)).sum
    val sweepAt2 = sweep.find(_._1 == 2L).get._4
    assert(sweepAt2 == servedHits,
      s"sweep@2 hits $sweepAt2 ≠ filtered serve hits $servedHits")
  }

  test("lsh curve: screen sensitive above the threshold decile, quiet below") {
    import spark.implicits._
    val rows = DedupOps.dedupLshCurve(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    DedupOps.releaseCaches()
    assert(rows.nonEmpty, "curve must emit at least one decile")
    rows.foreach { case (dec, n, det, ppm) =>
      assert(dec >= 0 && dec <= 9, s"decile $dec out of range")
      assert(det >= 0 && det <= n, s"decile $dec detections out of range")
      assert(ppm == 1000000L * det / n, s"decile $dec ppm drifted from counts")
    }
    // every verified near-dup pair (jaccard ≥ 1/2 ⇒ decile ≥ 5) lives
    // in a decile the screen fully catches on this corpus — the curve
    // must agree with the registered pair generator end to end
    val caught = rows.filter(_._1 >= 5).map(r => r._2 - r._3).sum
    assert(caught == 0, s"screen missed $caught above-threshold pairs")
    // and the screen must not fire on the dissimilar mass
    rows.find(_._1 == 0).foreach { case (_, n, det, _) =>
      assert(det * 10 <= n, s"decile 0 detection too hot: $det of $n")
    }
  }

  test("simhash curve: discriminates similar from dissimilar mass, counts consistent") {
    val rows = DedupOps.dedupSimhashCurve(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    DedupOps.releaseCaches()
    assert(rows.nonEmpty)
    rows.foreach { case (dec, n, det, ppm) =>
      assert(dec >= 0 && dec <= 9, s"decile $dec out of range")
      assert(det >= 0 && det <= n, s"decile $dec detections out of range")
      assert(ppm == 1000000L * det / n, s"decile $dec ppm drifted from counts")
    }
    // the screen must DISCRIMINATE: far hotter on the most-similar
    // decile present than on the dissimilar mass (unlike minhash
    // banding it tracks histogram cosine, so it is allowed to fire on
    // some set-dissimilar pairs and to miss some mid-decile ones —
    // that difference is exactly what the side-by-side is for)
    val low = rows.find(_._1 == 0)
    val high = rows.maxBy(_._1)
    low.foreach { l =>
      assert(high._4 > 2 * l._4,
        s"screen does not discriminate: top ${high._4} vs low ${l._4} ppm")
    }
  }

  test("filtered retrieval: predicate honored pre-ranking, meter consistent") {
    import spark.implicits._
    val res = CurationOps.docRagFiltered(spark, sf0001).cache()
    val langOf = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "filtered retrieval returned nothing")
    rows.foreach { case (q, rank, doc, _) =>
      assert(langOf(doc) == CurationOps.RagFilterLang,
        s"qid=$q retrieved doc $doc with lang ${langOf(doc)}")
      assert(doc != q, s"qid=$q retrieved its own document")
      assert(rank >= 1 && rank <= CurationOps.RagTopK, s"qid=$q rank $rank out of range")
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        s"qid=$q ranks not dense")
    }
    val rec = CurationOps.docRagFilteredRecall(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rec.nonEmpty)
    rec.foreach { case (q, nTrue, nHit, ppm) =>
      assert(nTrue > 0 && nHit >= 0 && nHit <= nTrue, s"qid=$q hits out of range")
      assert(ppm == 1000000L * nHit / nTrue, s"qid=$q ppm drifted from counts")
    }
    res.unpersist()
  }
}
