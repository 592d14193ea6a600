package graft.operators

import graft.{Sizing, Streams}
import graft.Tables._
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the end-to-end passes a training-data
  * pipeline runs between raw ingest and tokenization: composite
  * quality filtering, deterministic stratified sampling, benchmark
  * decontamination. All single-scan / equi-join shapes with no
  * driver-side loops, and every randomized choice is md5-derived so
  * the DuckDB oracle reproduces it bit-for-bit (the same trick as the
  * MinHash/SimHash/hyperplane signature families).
  */
object CurationOps {

  private def toks(c: org.apache.spark.sql.Column) = split(c, " ")

  /** ONE quality-gate implementation for batch AND streaming — the
    * streaming op's oracle is literally the batch SQL, so the two
    * paths share expressions, not copies that must be kept identical
    * by hand. Stopwords and PII patterns come from [[TextOps]] (the
    * single definition the whole operator family uses). */
  private def qualityGate(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    docs
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("n_unique", size(array_distinct(t)).cast("long"))
      .withColumn("n_stop",
        size(filter(t, c => c.isInCollection(TextOps.stopwords))).cast("long"))
      .withColumn("n_pii",
        (size(regexp_extract_all(col("text"), lit(TextOps.EmailRe), lit(0))) +
         size(regexp_extract_all(col("text"), lit(TextOps.UrlRe), lit(0))))
          .cast("long"))
      .filter(col("n_tokens").between(20, 1000) && col("n_stop") >= 1 &&
        col("n_unique") * 2 >= col("n_tokens") && col("n_pii") === 0)
      .select(col("doc_id"), col("n_tokens"), col("n_unique"))
  }

  /** Composite keep/drop gate over the quality signals the individual
    * text_* ops expose: token-count bounds, ≥1 stopword hit (drops
    * non-prose), uniqueness ratio ≥ 0.5 (drops boilerplate/repetition),
    * and PII-clean (no emails/URLs). One pass over the scan, all
    * codegen'd expressions; the ratio threshold is exact integer
    * arithmetic (2·n_unique ≥ n_tokens) so both engines agree without
    * float edges. Keeps 174/500 at sf0.01 — each signal contributes
    * real drops. */
  def docQualityFilter(s: SparkSession, d: String): DataFrame =
    qualityGate(documents(s, d)).orderBy(col("doc_id"))
  /** The gate's WHERE clause alone — shared by the standalone oracle
    * and the e2e pipeline oracle so the two cannot drift. */
  val qualityGateWhereSql: String = {
    val sw = TextOps.stopwords.map("'" + _ + "'").mkString(", ")
    s"""len(string_split(text,' ')) BETWEEN 20 AND 1000
       |  AND len(list_filter(string_split(text,' '), t -> t IN ($sw))) >= 1
       |  AND 2*len(list_distinct(string_split(text,' '))) >= len(string_split(text,' '))
       |  AND len(regexp_extract_all(text, '${TextOps.EmailRe}')) = 0
       |  AND len(regexp_extract_all(text, '${TextOps.UrlRe}')) = 0""".stripMargin
  }
  val docQualityFilterSql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_unique
       |FROM documents
       |WHERE $qualityGateWhereSql
       |ORDER BY doc_id""".stripMargin

  /** Deterministic per-source stratified sampling — the mixture-
    * weighting step of corpus assembly. Each doc draws a uniform
    * [0,1) value from the first hex digit of md5("smp_<doc_id>") and
    * survives iff it is under its source's rate (even-numbered sources
    * 8/16, odd 4/16). Hash-gated sampling is reproducible across
    * engines AND across runs/retries — a re-executed task keeps the
    * same rows, unlike rand()-based sampling, which matters when a
    * 100 TB stage partially fails and recomputes. Pure map-side: no
    * shuffle but the oracle-ordering sort. try_cast on BOTH sides: a
    * source whose suffix isn't numeric falls to the odd 4/16 rate in
    * both engines instead of erroring in one and not the other. */
  def docSampleStratified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rate = when(expr("try_cast(substring(source, 4, 10) AS int)") % 2 === 0,
      lit("8")).otherwise(lit("4"))
    documents(s, d)
      .filter(substring(md5(concat(lit("smp_"), $"doc_id".cast("string"))), 1, 1) < rate)
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }
  val docSampleStratifiedSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE substr(md5('smp_' || CAST(doc_id AS VARCHAR)), 1, 1) <
      |  CASE WHEN TRY_CAST(substr(source, 4) AS INT) % 2 = 0 THEN '8' ELSE '4' END
      |ORDER BY doc_id""".stripMargin

  /** PII redaction — the transform counterpart of text_pii's detector:
    * emails → `<EMAIL>`, then URLs → `<URL>`, same patterns, applied in
    * that fixed order in both engines (an email inside a URL's
    * userinfo must redact identically). Pure map-side regexp_replace
    * (all-occurrence mode; DuckDB needs the explicit 'g' flag). The
    * output carries the redacted text's md5 + length rather than the
    * text itself, which keeps the oracle compare O(1) per row. */
  def textRedact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val red = regexp_replace(
      regexp_replace($"text", TextOps.EmailRe, "<EMAIL>"),
      TextOps.UrlRe, "<URL>")
    documents(s, d)
      .filter($"text".isNotNull) // family-wide NULL-text guard, see TextOps.textStats
      .select($"doc_id", md5(red).as("redacted_md5"),
        length(red).cast("long").as("redacted_len"))
      .orderBy($"doc_id")
  }
  val textRedactSql: String =
    s"""SELECT doc_id,
       |  md5(regexp_replace(regexp_replace(text,
       |    '${TextOps.EmailRe}', '<EMAIL>', 'g'),
       |    '${TextOps.UrlRe}', '<URL>', 'g')) AS redacted_md5,
       |  CAST(length(regexp_replace(regexp_replace(text,
       |    '${TextOps.EmailRe}', '<EMAIL>', 'g'),
       |    '${TextOps.UrlRe}', '<URL>', 'g')) AS BIGINT) AS redacted_len
       |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin

  /** Token-budget shard packing — the sequence/shard assembly step
    * before tokenization: within each source, docs pack in doc_id
    * order into ~500-token shards (shard = cumulative tokens BEFORE
    * this doc, integer-divided by the budget). The window partitions
    * by source, so packing parallelizes across sources — the 100 TB
    * shape, where a global ordered cumsum would serialize the corpus
    * through one task. Integer window math → bit-identical across
    * engines. */
  def docShardPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      .withColumn("n_tokens", size(toks($"text")).cast("long"))
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      // `div`, not `/`: long division stays in integer space (the
      // float path would be correct here but sets a bad precedent for
      // the > 2^53 cumulative sums a 100 TB corpus actually produces)
      .withColumn("shard", expr("cum_before div 500"))
      .select($"doc_id", $"source", $"n_tokens", $"shard")
      .orderBy($"doc_id")
  }
  val docShardPackSql: String =
    """SELECT doc_id, source,
      |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(sum(len(string_split(text,' ')))
      |    OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 500
      |    AS BIGINT) AS shard
      |FROM documents ORDER BY doc_id""".stripMargin

  /** GPT-style packing MANIFEST (concatenate-then-chunk): per source,
    * documents concatenate in doc_id order into fixed 128-token
    * training sequences, and a document whose tokens straddle a
    * sequence boundary contributes one manifest row PER sequence it
    * touches, with its intra-document token span [doc_from, doc_to).
    * This is the row set a trainer materializes sequences from —
    * [[docShardPack]] only assigns whole documents by start offset.
    * All window + explode over integer offsets: distributed per
    * source, integer-exact cross-engine, no driver loop. */
  def docPackManifest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val L = 128L
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      // a NULL text would make size() = -1: the running offsets of every
      // later doc in the source shift and sequence() steps DOWNWARD,
      // fabricating rows the oracle's empty generate_series never emits
      .filter($"text".isNotNull)
      .withColumn("n_tokens", size(toks($"text")).cast("long"))
      .withColumn("start_off", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("end_off", $"start_off" + $"n_tokens")
      .withColumn("seq_id",
        explode(sequence(expr(s"start_off div $L"), expr(s"(end_off - 1) div $L"))))
      .withColumn("doc_from", greatest($"start_off", $"seq_id" * L) - $"start_off")
      .withColumn("doc_to", least($"end_off", ($"seq_id" + 1) * L) - $"start_off")
      .select($"source", $"doc_id", $"seq_id", $"doc_from", $"doc_to")
      .orderBy($"source", $"doc_id", $"seq_id")
  }
  val docPackManifestSql: String =
    """WITH base AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      |    CAST(COALESCE(sum(len(string_split(text,' ')))
      |      OVER (PARTITION BY source ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS start_off
      |  FROM documents WHERE text IS NOT NULL),
      |spans AS (
      |  SELECT source, doc_id, n_tokens, start_off,
      |    start_off + n_tokens AS end_off,
      |    unnest(generate_series(start_off // 128,
      |                           (start_off + n_tokens - 1) // 128)) AS seq_id
      |  FROM base)
      |SELECT source, doc_id, seq_id,
      |  greatest(start_off, seq_id * 128) - start_off AS doc_from,
      |  least(end_off, (seq_id + 1) * 128) - start_off AS doc_to
      |FROM spans ORDER BY source, doc_id, seq_id""".stripMargin

  /** Mix weight per source — shared by [[docInterleave]] and
    * [[docTrainFeed]] (Scala and SQL sides) so the weighting rule
    * cannot drift between the standalone op and the e2e pipeline:
    * even-numbered sources weight 3, odd (or non-numeric — try_cast
    * nulls out on BOTH engines rather than erroring on one) weight 1. */
  private def sourceWeight: org.apache.spark.sql.Column = {
    val srcNo = regexp_extract(col("source"), "(\\d+)$", 1).try_cast("long")
    when(srcNo % 2 === 0, 3L).otherwise(1L)
  }
  private val sourceWeightSql: String =
    """CASE WHEN TRY_CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT) % 2 = 0
      |         THEN 3 ELSE 1 END""".stripMargin

  /** Weighted deterministic source INTERLEAVING (training-mix order):
    * even-numbered sources get weight 3, odd weight 1, and documents
    * merge in rate-proportional order — priority = rank-within-source
    * × (LCM/weight), all integer so the order is exact cross-engine
    * (a float rn/weight priority would work but puts IEEE rounding in
    * the sort key). The global position is one final row_number; at
    * 100 TB the per-source ranking shuffles once on source and the
    * merge order is a sort, not a driver loop. */
  def docInterleave(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rn = row_number().over(
      Window.partitionBy($"source").orderBy($"doc_id")).cast("long")
    val base = documents(s, d)
      .withColumn("weight", sourceWeight)
      .withColumn("rn", rn)
      .withColumn("priority", $"rn" * expr("3 div weight"))
      .select($"source", $"doc_id", $"weight", $"priority")
    // dense global positions via Dict.denseIndex (range-sort +
    // zipWithIndex, two-pass distributed) — NEVER a partitionless
    // row_number() window, which funnels every row through one partition
    graft.store.Dict
      .denseIndex(base, Seq("priority", "source", "doc_id"), "position", 1L)
      .select($"position", $"source", $"doc_id", $"weight")
      .orderBy($"position")
  }
  val docInterleaveSql: String =
    s"""WITH base AS (
      |  SELECT source, doc_id,
      |    $sourceWeightSql AS weight,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents)
      |SELECT CAST(row_number() OVER (ORDER BY rn * (3 // weight), source, doc_id)
      |            AS BIGINT) AS position,
      |  source, doc_id, CAST(weight AS BIGINT) AS weight
      |FROM base ORDER BY position""".stripMargin

  /** The composed TRAINING-FEED pipeline — quality gate → exact dedup
    * → per-source GPT packing → weighted sequence interleave — as ONE
    * query: the order a trainer would actually read sequences in.
    * Every stage is the proven distributed shape of its standalone op:
    * the gate is map-side, dedup shuffles once on text, packing
    * windows per source, and the global mix positions come from
    * [[graft.store.Dict.denseIndex]] (range-sort + zipWithIndex) —
    * sequences are packed within sources in parallel and the MIX
    * interleaves (source, seq) units, which is how real feeds shard:
    * pack per domain, weight the read order. */
  def docTrainFeed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).filter($"text".isNotNull)
    // 1. quality gate (same predicate as doc_quality_filter)
    val gated = docs.join(
      qualityGate(docs).select($"doc_id", $"n_tokens"), "doc_id")
      .select($"doc_id", $"source", $"text", $"n_tokens")
    trainFeedPack(s, gated)
  }

  /** [[docTrainFeed]] packing by REAL tokenizer length: the gate
    * predicate is unchanged, but sequence packing (the 128-token
    * concatenate-then-chunk) measures each document in BPE tokens
    * ([[TextOps.bpeDocCounts]], the shared [[TextOps.textBpeTrain]]
    * fit) instead of whitespace words — what an actual pretraining
    * feed does, since the model's context window is denominated in
    * tokenizer tokens, not words. One dictionary-sized join replaces
    * the whitespace count; everything downstream (dedup, offsets,
    * spans, interleave) is the shared [[trainFeedPack]] tail, so the
    * two feeds cannot drift. */
  def docTrainFeedBpe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).filter($"text".isNotNull)
    val gated = docs.join(qualityGate(docs).select($"doc_id"), "doc_id")
      .join(TextOps.bpeDocCounts(s, d)
        .select($"doc_id", $"n_bpe".as("n_tokens")), "doc_id")
      .select($"doc_id", $"source", $"text", $"n_tokens")
    trainFeedPack(s, gated)
  }

  /** Steps 2–4 of [[docTrainFeed]] over any gated
    * (doc_id, source, text, n_tokens) frame — shared with
    * [[docTrainFeedBpe]], whose n_tokens is the BPE length. */
  private def trainFeedPack(s: SparkSession, gated: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // 2. exact dedup: keep the smallest doc_id per identical text
    val deduped = gated
      .withColumn("keep", min($"doc_id").over(Window.partitionBy($"text")) === $"doc_id")
      .filter($"keep").drop("keep", "text")
    // 3. per-source concatenate-then-chunk packing (128-token seqs)
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val spans = deduped
      .withColumn("start_off", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("end_off", $"start_off" + $"n_tokens")
      .withColumn("seq_id",
        explode(sequence(expr("start_off div 128"), expr("(end_off - 1) div 128"))))
      .withColumn("span",
        least($"end_off", ($"seq_id" + 1) * 128L) -
          greatest($"start_off", $"seq_id" * 128L))
    val seqs = spans.groupBy($"source", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"span").as("n_tokens"))
    // 4. weighted interleave of the packed sequences (shared rule)
    val base = seqs
      .withColumn("weight", sourceWeight)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"seq_id")).cast("long"))
      .withColumn("priority", $"rn" * expr("3 div weight"))
      .select($"source", $"seq_id", $"n_docs", $"n_tokens", $"weight", $"priority")
    graft.store.Dict
      .denseIndex(base, Seq("priority", "source", "seq_id"), "position", 1L)
      .select($"position", $"source", $"seq_id", $"n_docs", $"n_tokens", $"weight")
      .orderBy($"position")
  }
  // lazy: embeds trainFeedTailSql, defined BELOW in this object body —
  // an eager val would capture null at initialization
  lazy val docTrainFeedSql: String =
    s"""WITH gated AS (
       |  SELECT doc_id, source, text,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |  WHERE text IS NOT NULL AND $qualityGateWhereSql),
       |$trainFeedTailSql""".stripMargin

  /** Same packing replay over the BPE-length `gated` head — shares
    * [[TextOps.bpeDocCountsCtesSql]] (the fit + per-doc rollup) and
    * [[trainFeedTailSql]]. */
  lazy val docTrainFeedBpeSql: String =
    s"""${TextOps.bpeDocCountsCtesSql},
       |gated AS (
       |  SELECT d.doc_id, d.source, d.text, b.n_bpe AS n_tokens
       |  FROM documents d JOIN bpe b ON b.doc_id = d.doc_id
       |  WHERE d.text IS NOT NULL AND $qualityGateWhereSql),
       |$trainFeedTailSql""".stripMargin

  /** The post-gate packing CTE chain (dedup → offsets → spans → seqs →
    * weighted interleave) shared by [[docTrainFeedSql]] and
    * [[docTrainFeedBpeSql]]; reads the preceding `gated` CTE. */
  private val trainFeedTailSql: String =
    s"""dedup AS (
       |  SELECT source, doc_id, n_tokens FROM gated
       |  WHERE doc_id IN (SELECT min(doc_id) FROM gated GROUP BY text)),
       |offs AS (
       |  SELECT source, doc_id, n_tokens,
       |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM dedup),
       |spans AS (
       |  SELECT source, start_off, start_off + n_tokens AS end_off,
       |    unnest(generate_series(start_off // 128,
       |                           (start_off + n_tokens - 1) // 128)) AS seq_id
       |  FROM offs),
       |seqs AS (
       |  SELECT source, seq_id, count(*) AS n_docs,
       |    CAST(sum(least(end_off, (seq_id+1)*128)
       |           - greatest(start_off, seq_id*128)) AS BIGINT) AS n_tokens
       |  FROM spans GROUP BY source, seq_id),
       |wts AS (
       |  SELECT source, seq_id, n_docs, n_tokens,
       |    $sourceWeightSql AS weight,
       |    row_number() OVER (PARTITION BY source ORDER BY seq_id) AS rn
       |  FROM seqs)
       |SELECT CAST(row_number() OVER (ORDER BY rn * (3 // weight), source, seq_id)
       |            AS BIGINT) AS position,
       |  source, seq_id, n_docs, n_tokens, CAST(weight AS BIGINT) AS weight
       |FROM wts ORDER BY position""".stripMargin

  /** The quality gate as a STREAMING pass: documents arrive as a file
    * stream (the continuous-ingest shape — each new parquet drop in
    * the corpus directory is a micro-batch), flow through exactly the
    * same codegen'd gate expressions as [[docQualityFilter]], and land
    * per micro-batch as parquet ([[graft.Streams.land]]). The
    * comparable output re-reads the landed files, so the oracle (the
    * batch gate's SQL) proves the streaming path admits precisely the
    * batch row set — curation logic stays one implementation whether
    * the corpus is at rest or in flight. Stateless map/filter streaming: no watermark or state
    * store needed. */
  def docStreamQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Streams.land(s, "doc_stream_quality", d, qualityGate(streamTable(s, d, "documents")),
        Sizing.tableParts(s, d, "documents"))(identity)
      .orderBy($"doc_id")
  }
  val docStreamQualitySql: String = docQualityFilterSql

  /** The END-TO-END curation pipeline as ONE registered query (round-7
    * verdict #5) — what a training-data user actually runs, composed
    * from the per-stage operators so cross-stage interface mismatches
    * surface that per-op oracles can't:
    *
    *   1. quality gate ([[docQualityFilter]]'s expressions)
    *   2. exact dedup keep-one (min doc_id per content md5)
    *   3. near-dup cluster keep-one: MinHash+LSH pairs among the
    *      survivors ([[DedupOps.minhashPairs]]) → connected
    *      components ([[DedupOps.pairClusterCanonical]]) → keep the
    *      canonical (min) doc per cluster
    *   4. decontaminate vs the held-out set (doc_id % 50 = 0; its
    *      5-gram index comes from the FULL corpus, same contract as
    *      [[dedupDecontaminate]]) and drop the held-out docs
    *   5. deterministic stratified sample ([[docSampleStratified]]'s
    *      md5 gate)
    *   6. token-budget shard packing ([[docShardPack]]'s window)
    *
    * Every stage keeps its standalone scale shape (map-side gates,
    * banded LSH, paired-subgraph-only CC, broadcast benchmark
    * index, per-source windows); the oracle replays the identical
    * composition as chained CTEs with a recursive closure for the
    * cluster step.
    *
    * The MinHash pair stage deliberately RECOMPUTES inline rather than
    * reusing the standalone `dedup_minhash_lsh` result cached earlier
    * in the session: the inputs differ — here pairs are generated over
    * the GATED, exact-deduped survivors (stages 1-2), not the full
    * corpus, so the standalone pair set is a superset with different
    * shingle statistics. The inline cost IS the honest e2e cost; the
    * CC checkpoints the pair list once, so it is computed once. */
  def docPipelineE2e(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
    // 1. quality gate
    val gated = docs.join(qualityGate(docs).select($"doc_id"), "doc_id")
      .select($"doc_id", $"source", $"text")
    // 2. exact dedup keep-one
    val keep1 = gated.groupBy(md5($"text").as("k")).agg(min($"doc_id").as("doc_id"))
    val exact = gated.join(keep1.select($"doc_id"), "doc_id")
    // 3. near-dup cluster keep-one over the survivors
    val canon = DedupOps.pairClusterCanonical(
      DedupOps.minhashPairs(s, exact.select($"doc_id", $"text")))
    val nearKept = exact.join(canon, Seq("doc_id"), "left_outer")
      .filter(coalesce($"canonical", $"doc_id") === $"doc_id")
      .drop("canonical")
    // 4. decontaminate (benchmark shingle index over the FULL corpus)
    val benchG = docs.filter($"doc_id" % 50 === 0)
      .select(explode(GraftFunctions.column("word_shingles", split($"text", " "), lit(5))).as("g"))
      .distinct()
    val dirty = nearKept
      .select($"doc_id",
        explode(GraftFunctions.column("word_shingles", split($"text", " "), lit(5))).as("g"))
      .join(broadcast(benchG), "g")
      .select($"doc_id").distinct()
    val clean = nearKept.filter($"doc_id" % 50 =!= 0)
      .join(dirty, Seq("doc_id"), "left_anti")
    // 5. stratified sample
    val rate = when(expr("try_cast(substring(source, 4, 10) AS int)") % 2 === 0,
      lit("8")).otherwise(lit("4"))
    val sampled = clean.filter(
      substring(md5(concat(lit("smp_"), $"doc_id".cast("string"))), 1, 1) < rate)
    // 6. shard pack within source
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    sampled
      .withColumn("n_tokens", size(toks($"text")).cast("long"))
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("shard", expr("cum_before div 500"))
      .select($"doc_id", $"source", $"n_tokens", $"shard")
      .orderBy($"doc_id")
  }
  val docPipelineE2eSql: String =
    s"""WITH RECURSIVE gated AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE $qualityGateWhereSql
       |),
       |keep1 AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
       |exact AS (SELECT g.* FROM gated g JOIN keep1 USING (doc_id)),
       |${DedupOps.minhashPairsCtesSql("exact")},
       |e AS (SELECT da AS a, db AS b FROM mp UNION SELECT db, da FROM mp),
       |reach(x, y) AS (
       |  SELECT doc_id, doc_id FROM exact
       |  UNION
       |  SELECT r.x, e.b FROM reach r JOIN e ON r.y = e.a),
       |canon AS (SELECT x AS doc_id, min(y) AS canonical FROM reach GROUP BY x),
       |nearkept AS (SELECT ex.* FROM exact ex JOIN canon c USING (doc_id)
       |             WHERE c.canonical = ex.doc_id),
       |tokf AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
       |shf AS (SELECT doc_id, unnest(list_distinct(
       |          [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
       |           for i in range(1, len(ws)-3)])) AS g
       |        FROM tokf),
       |bench AS (SELECT DISTINCT g FROM shf WHERE doc_id % 50 = 0),
       |dirty AS (SELECT DISTINCT n.doc_id
       |          FROM (SELECT nk.doc_id, sf.g FROM nearkept nk JOIN shf sf ON sf.doc_id = nk.doc_id) n
       |          JOIN bench b ON n.g = b.g),
       |clean AS (SELECT * FROM nearkept nk
       |          WHERE doc_id % 50 <> 0
       |            AND NOT EXISTS (SELECT 1 FROM dirty dy WHERE dy.doc_id = nk.doc_id)),
       |samp AS (SELECT * FROM clean
       |         WHERE substr(md5('smp_' || CAST(doc_id AS VARCHAR)), 1, 1) <
       |           CASE WHEN TRY_CAST(substr(source, 4) AS INT) % 2 = 0 THEN '8' ELSE '4' END)
       |SELECT doc_id, source,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(sum(len(string_split(text,' ')))
       |    OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 500
       |    AS BIGINT) AS shard
       |FROM samp ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: drop every training document sharing a
    * word-5-gram with the held-out set (here: doc_id % 50 = 0, the
    * deterministic stand-in for an eval benchmark). The benchmark
    * shingle set is small by construction, so the collision check is a
    * broadcast semi-join against exploded corpus shingles — at 100 TB
    * the corpus side streams map-only past a broadcast benchmark
    * index, no corpus shuffle at all. 5-grams are the discrimination
    * sweet spot on this corpus: 3-grams flag half the corpus (common
    * phrases), 5-grams flag exactly the one genuine overlap.
    * Survivors = corpus docs minus benchmark minus contaminated. */
  def dedupDecontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val shingled = docs.select($"doc_id",
      explode(GraftFunctions.column("word_shingles", split($"text", " "), lit(5))).as("g"))
    val benchG = shingled.filter($"doc_id" % 50 === 0).select($"g").distinct()
    // Explicit broadcast() is the documented EXCEPTION to the ScaleSpec
    // rule that data-derived sets never carry hints: an eval-benchmark
    // shingle index is bounded by CONSTRUCTION (benchmarks are
    // human-curated, thousands of docs — they do not grow with the
    // training corpus), so the hint is a deployment-size invariant, not
    // a stats guess. The % 50 stand-in here models exactly that fixed
    // held-out set.
    val dirty = shingled.filter($"doc_id" % 50 =!= 0)
      .join(broadcast(benchG), "g")
      .select($"doc_id").distinct()
    docs.filter($"doc_id" % 50 =!= 0)
      .join(dirty, Seq("doc_id"), "left_anti")
      .select($"doc_id")
      .orderBy($"doc_id")
  }
  val dedupDecontaminateSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
      |          for i in range(1, len(ws)-3)])) AS g
      |       FROM tok),
      |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
      |dirty AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON s.g = b.g
      |          WHERE s.doc_id % 50 <> 0)
      |SELECT d.doc_id FROM documents d
      |WHERE d.doc_id % 50 <> 0
      |  AND NOT EXISTS (SELECT 1 FROM dirty dy WHERE dy.doc_id = d.doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Deterministic epoch shuffle: the reproducible global training
    * order — every epoch reads documents in a pseudo-random order that
    * is a pure function of (epoch seed, doc_id), so a resumed or
    * re-run job sees byte-identical order with no RNG state to
    * checkpoint. Order key = md5 of the seeded id; dense positions via
    * [[graft.store.Dict.denseIndex]] (range-sort + zipWithIndex, the
    * two-pass distributed shape) — NEVER a partitionless row_number()
    * window, which funnels the corpus through one partition. At 100 TB
    * the range sort on the uniformly-distributed md5 key partitions
    * evenly by construction (no skew: the key space is uniform), and
    * each epoch is the same plan with a different seed literal. */
  def docGlobalShuffle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keyed = documents(s, d)
      // NULL-id guard, both sides: a NULL doc_id yields a NULL
      // shuffle_key, and the engines order NULL keys differently
      // (Spark NULLS FIRST asc vs DuckDB NULLS LAST) — every position
      // after it would shift.
      .filter($"doc_id".isNotNull)
      .select($"doc_id",
        md5(concat(lit("ep0_"), $"doc_id".cast("string"))).as("shuffle_key"))
    graft.store.Dict
      .denseIndex(keyed, Seq("shuffle_key", "doc_id"), "position", 0L)
      .select($"position", $"doc_id", $"shuffle_key")
      .orderBy($"position")
  }
  val docGlobalShuffleSql: String =
    """SELECT CAST(row_number() OVER (
      |         ORDER BY md5('ep0_' || CAST(doc_id AS VARCHAR)), doc_id)
      |       AS BIGINT) - 1 AS position,
      |  doc_id, md5('ep0_' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      |FROM documents WHERE doc_id IS NOT NULL ORDER BY position""".stripMargin

  /** Curriculum decile: rank documents WITHIN each source by an
    * integer prose-quality score (stopword ratio in ppm — the cheap
    * naturalness proxy) and cut into 10 NTILE buckets — the table a
    * curriculum schedule reads ("train on deciles 1-3 first, open up
    * later"). Per-source windows shuffle once on source and each
    * partition ranks independently; the (score DESC, doc_id) order is
    * total, so both engines cut identical buckets (NTILE's
    * extra-rows-to-early-buckets rule is the SQL standard on both).
    * Pure integer output. */
  def docQualityRank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sw = TextOps.stopwords
    val scored = documents(s, d)
      // NULL-text guard, both sides: Spark would score a NULL text as
      // 1000000 * (-1) div (-1) = 1000000 ppm while DuckDB yields NULL
      // — divergent deciles. EdgeCaseSpec pins this.
      .filter($"text".isNotNull)
      .select($"doc_id", $"source",
        expr(s"(1000000L * size(filter(split(text, ' '), x -> x IN (${sw.map("'" + _ + "'").mkString(", ")})))) div size(split(text, ' '))")
          .as("score_ppm"))
    val w = Window.partitionBy($"source").orderBy($"score_ppm".desc, $"doc_id")
    scored.withColumn("decile", ntile(10).over(w).cast("long"))
      .select($"doc_id", $"source", $"score_ppm", $"decile")
      .orderBy($"doc_id")
  }
  val docQualityRankSql: String = {
    val sw = TextOps.stopwords.map("'" + _ + "'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    (1000000 * len(list_filter(string_split(text,' '), x -> x IN ($sw))))
       |      // len(string_split(text,' ')) AS score_ppm
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id, source, score_ppm,
       |  CAST(ntile(10) OVER (PARTITION BY source
       |         ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS decile
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Token budget per source for [[docTokenBudget]] — sized so the
    * test corpus's ~25-doc sources are cut roughly in half, proving
    * the carve actually trims. */
  val TokenBudgetPerSource = 500L

  /** Deterministic budget carve: per source, admit documents in
    * doc_id order until the cumulative token count crosses
    * [[TokenBudgetPerSource]] — "give me N tokens per domain" dataset
    * carving, reproducible because admission order is the stable
    * doc_id, not arrival order. The cumulative sum is one per-source
    * window pass (map-side token counts, one shuffle on source); the
    * admitted set is a prefix per source, so re-carving with a larger
    * budget only APPENDS — the property incremental dataset releases
    * need. The doc whose span CROSSES the budget is excluded (strict
    * prefix under budget), identically on both engines via integer
    * running sums. */
  def docTokenBudget(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      // NULL-text guard on BOTH sides: Spark's size(split(NULL,' ')) is
      // -1 and would shift every later doc's running sum, while DuckDB's
      // len(string_split(NULL,' ')) is NULL and skipped by sum() — the
      // same divergence documented at docPackManifest. EdgeCaseSpec
      // pins the NULL-text row behavior.
      .filter($"text".isNotNull)
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .filter($"cum_tokens" <= TokenBudgetPerSource)
      .select($"doc_id", $"source", $"n_tokens", $"cum_tokens")
      .orderBy($"doc_id")
  }
  val docTokenBudgetSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |    CAST(sum(len(string_split(text,' '))) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id, source, n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= $TokenBudgetPerSource
       |ORDER BY doc_id""".stripMargin

  /** Per-source budget in BPE tokens for [[docTokenBudgetBpe]] —
    * [[TokenBudgetPerSource]]'s REAL-tokenizer sibling. With only
    * [[TextOps.BpeMerges]] merges learned, the BPE length sits near
    * the character count (~4–5× the word count on this corpus), so the
    * budget scales accordingly to carve a comparable slice. */
  val BpeTokenBudgetPerSource = 2000L

  /** [[docTokenBudget]] denominated in REAL tokenizer tokens: the
    * per-source cumulative cut runs on each document's BPE length
    * ([[TextOps.bpeDocCounts]] — the shared [[TextOps.textBpeTrain]]
    * fit) instead of the whitespace count. "Give me N tokens per
    * domain" is a TOKENIZER-token contract in a real pretraining run —
    * budgeting by words over- or under-fills the context-window budget
    * by the tokenization ratio, which varies per source. Shape: the
    * corpus-sized side is one dictionary join + the same per-source
    * running-sum window; docs with no non-empty word carry no BPE
    * length and are excluded by the join on BOTH engines. */
  /** [[docPackManifest]] in REAL tokenizer units — the
    * concatenate-then-chunk manifest with offsets measured in BPE
    * tokens ([[TextOps.bpeDocCounts]], the shared trained-tokenizer
    * count CTEs) instead of whitespace words: the row set a trainer
    * actually materializes 128-TOKEN sequences from, completing the
    * BPE twin family (budget / mix weights / train feed already have
    * one). Whitespace packing misallocates boundaries the moment
    * tokenization diverges from words (CJK, code, long identifiers);
    * this manifest places every boundary in the units the model
    * consumes. Zero-token docs are excluded BEFORE the offset window
    * on both engines (they carry no span; Spark's `sequence(s, s-1)`
    * would descend) — their exclusion leaves every offset unchanged.
    * Same shape as the whitespace manifest: one per-source window +
    * map-side explode over integer offsets, fit cost is the shared
    * dictionary-sized BPE fit. */
  def docPackManifestBpe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val L = 128L
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // no text.isNotNull filter: the inner join against bpeDocCounts
    // already excludes every NULL-/empty-text doc (its rows exist only
    // for docs with ≥1 vocab word), and adding one would drag the text
    // column into this side's scan for nothing
    documents(s, d)
      .select($"doc_id", $"source")
      .join(TextOps.bpeDocCounts(s, d).select($"doc_id", $"n_bpe"), "doc_id")
      .filter($"n_bpe" > 0L)
      .withColumn("start_off", coalesce(sum($"n_bpe").over(w), lit(0L)))
      .withColumn("end_off", $"start_off" + $"n_bpe")
      .withColumn("seq_id",
        explode(sequence(expr(s"start_off div $L"), expr(s"(end_off - 1) div $L"))))
      .withColumn("doc_from", greatest($"start_off", $"seq_id" * L) - $"start_off")
      .withColumn("doc_to", least($"end_off", ($"seq_id" + 1) * L) - $"start_off")
      .select($"source", $"doc_id", $"seq_id", $"doc_from", $"doc_to")
      .orderBy($"source", $"doc_id", $"seq_id")
  }
  lazy val docPackManifestBpeSql: String =
    s"""${TextOps.bpeDocCountsCtesSql},
       |mbase AS (
       |  SELECT d.source, d.doc_id, b.n_bpe,
       |    CAST(COALESCE(sum(b.n_bpe) OVER (
       |      PARTITION BY d.source ORDER BY d.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_off
       |  FROM documents d JOIN bpe b ON b.doc_id = d.doc_id
       |  WHERE b.n_bpe > 0),
       |mspans AS (
       |  SELECT source, doc_id, n_bpe, start_off,
       |    start_off + n_bpe AS end_off,
       |    unnest(generate_series(start_off // 128,
       |                           (start_off + n_bpe - 1) // 128)) AS seq_id
       |  FROM mbase)
       |SELECT source, doc_id, seq_id,
       |  greatest(start_off, seq_id * 128) - start_off AS doc_from,
       |  least(end_off, (seq_id + 1) * 128) - start_off AS doc_to
       |FROM mspans ORDER BY source, doc_id, seq_id""".stripMargin

  def docTokenBudgetBpe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .filter($"text".isNotNull)
      .select($"doc_id", $"source")
      .join(TextOps.bpeDocCounts(s, d).select($"doc_id", $"n_bpe"), "doc_id")
      .withColumn("cum_bpe", sum($"n_bpe").over(w))
      .filter($"cum_bpe" <= BpeTokenBudgetPerSource)
      .select($"doc_id", $"source", $"n_bpe", $"cum_bpe")
      .orderBy($"doc_id")
  }
  lazy val docTokenBudgetBpeSql: String =
    s"""${TextOps.bpeDocCountsCtesSql},
       |c AS (
       |  SELECT d.doc_id, d.source, b.n_bpe,
       |    CAST(sum(b.n_bpe) OVER (
       |      PARTITION BY d.source ORDER BY d.doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_bpe
       |  FROM documents d JOIN bpe b ON b.doc_id = d.doc_id)
       |SELECT doc_id, source, n_bpe, cum_bpe
       |FROM c WHERE cum_bpe <= $BpeTokenBudgetPerSource
       |ORDER BY doc_id""".stripMargin

  /** The curated-corpus SINK made physical: write the gated documents
    * as source-partitioned parquet (the layout a downstream trainer
    * reads: one directory per domain, so per-domain mixing/carving is
    * partition PRUNING, not scanning), then read back ONE source and
    * fingerprint it — proving the round-trip is lossless and the read
    * touches only the probed partition. The doc-side sibling of
    * [[graft.store.TripleStore]]'s predicate-partitioned persistence
    * and [[MlOps.simAnnIvfIndex]]'s list-partitioned index; together
    * they make "partition the physical layout by the access key" the
    * repo-wide storage rule. The corpus-keyed directory under the
    * scratch root ([[graft.Tables.scratch]]) is overwritten on rerun;
    * ScaleSpec pins the PartitionFilters-only read. */
  def docPartitionedSink(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = scratch(s, "docs_part", d)
    val gated = documents(s, d)
      .join(qualityGate(documents(s, d)).select($"doc_id"), Seq("doc_id"), "left_semi")
    gated.write.mode("overwrite").partitionBy("source").parquet(dir)
    s.read.parquet(dir)
      .filter($"source" === "src3")
      .select($"doc_id", md5($"text").as("fp"))
      .orderBy($"doc_id")
  }
  val docPartitionedSinkSql: String =
    s"""SELECT doc_id, md5(text) AS fp FROM documents
       |WHERE source = 'src3' AND $qualityGateWhereSql
       |ORDER BY doc_id""".stripMargin

  /** Row target per compacted file for [[docCompactSink]] (the spec
    * passes small targets to pin the ceil(rows/target) file count).
    * Production sets this from target_bytes / avg_row_bytes,
    * which is how every table-maintenance compactor (Iceberg/Delta
    * OPTIMIZE) derives its row target. */
  val CompactMaxRowsPerFile = 1000000L

  /** Small-file COMPACTION for partitioned sinks — the table
    * maintenance every append-shaped layout in this repo eventually
    * needs ([[docRagIndexAppend]] adds files per batch,
    * [[docStreamQuality]] lands files per micro-batch): at 100 TB an
    * ingest sink accumulates thousands of KB-sized parquet files per
    * partition directory, and scan cost becomes file-open-bound
    * rather than byte-bound.
    *
    * The op makes the pathology and its cure physical: (1) FRAGMENT —
    * the gated corpus lands in the source-partitioned sink as four
    * append batches, each fanned across several writer tasks, the
    * exact file pattern a micro-batched ingest produces; (2) COMPACT —
    * read the fragmented layout back and rewrite it with ONE
    * sequential writer per partition (`repartition($"source")`), split
    * at the row target via Spark's own `maxRecordsPerFile`, so each
    * `source=` directory ends with exactly ceil(rows/target) files —
    * no small files from task parallelism, bounded file size from the
    * split knob (both pinned by the spec); (3) PROVE lossless — the
    * returned per-source fingerprint (count + order-insensitive id
    * and content digests) of the COMPACTED read-back must equal the
    * oracle's replay straight from the documents table, so a dropped
    * or duplicated row anywhere in fragment→compact fails the hash.
    * Parallelism note: one writer per partition is per-source
    * sequentialism, not a scale wall — a production compactor runs
    * partition-granular jobs concurrently, which this shape preserves
    * (each source's rewrite is independent). */
  def docCompactSink(s: SparkSession, d: String): DataFrame =
    docCompactSink(s, d, CompactMaxRowsPerFile)

  private[graft] def docCompactSink(s: SparkSession, d: String, maxRows: Long): DataFrame = {
    import s.implicits._
    val fragDir = scratch(s, "docs_frag", d)
    val compactDir = scratch(s, "docs_compact", d)
    val gated = documents(s, d)
      .join(qualityGate(documents(s, d)).select($"doc_id"), Seq("doc_id"), "left_semi")
      .select($"doc_id", $"source", $"text")
    // the FRAGMENTED layout fixture (what an incremental sink leaves
    // behind: many small files per source dir) in ONE pass — an
    // explicit round-robin fan-out makes every writer task emit a
    // file per source it holds, the same many-small-files layout the
    // former 4-append loop produced with 4 corpus scans + 4 write
    // jobs (guide §1.2; the compacted fingerprints depend only on
    // content, and the explicit count keeps AQE from coalescing the
    // fan-out to the one task that would write an already-compact
    // layout)
    gated.repartition(s.sparkContext.defaultParallelism)
      .write.mode("overwrite")
      .partitionBy("source").parquet(fragDir)
    s.read.parquet(fragDir)
      .repartition($"source")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRows)
      .partitionBy("source").parquet(compactDir)
    s.read.parquet(compactDir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws(",",
          expr("transform(array_sort(collect_list(doc_id)), x -> CAST(x AS STRING))")))
          .as("ids_md5"),
        md5(concat_ws(",",
          expr("array_sort(collect_list(struct(doc_id, md5(text) AS fp))).fp")))
          .as("content_md5"))
      .select($"source", $"n_docs", $"ids_md5", $"content_md5")
      .orderBy($"source")
  }
  /** The compacted layout's fingerprints replayed straight from the
    * source table — layout maintenance must not change content. */
  val docCompactSinkSql: String =
    s"""WITH gated AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE $qualityGateWhereSql)
       |SELECT source, count(*) AS n_docs,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5,
       |  md5(string_agg(md5(text), ',' ORDER BY doc_id)) AS content_md5
       |FROM gated GROUP BY source ORDER BY source""".stripMargin

  /** LM-coverage bucket thresholds for [[docCcnetE2e]] (integer ppm),
    * set at the test corpus's rough terciles so every bucket is
    * populated and the gate actually gates. */
  val CcnetHeadPpm = 170000L
  val CcnetMiddlePpm = 125000L

  /** The CCNet-style scoring pipeline — language ID, then reference-LM
    * quality bucketing (head/middle/tail), then the keep decision
    * (target language AND not tail) — composed as ONE query from the
    * op surface's own stages: [[TextOps.textLangId]] (map-side profile
    * argmax) and [[TextOps.textLmCoverage]] (the KenLM-perplexity
    * proxy, bucketed at [[CcnetHeadPpm]]/[[CcnetMiddlePpm]]). This is
    * the canonical web-corpus curation recipe: bucket by in-domain LM
    * score per language, train on head+middle, drop tail. Docs too
    * short to have bigrams surface with coverage 0 (tail), not as
    * dropped rows — short docs must be gated, not lost. The oracle
    * embeds both ops' own SQL (order stripped) so the composition can
    * never drift from the standalone stages. */
  def docCcnetE2e(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lang = TextOps.textLangId(s, d)
    val cov = TextOps.textLmCoverage(s, d).select($"doc_id", $"coverage_ppm")
    lang.join(cov, Seq("doc_id"), "left")
      .select($"doc_id", $"pred_lang",
        coalesce($"coverage_ppm", lit(0L)).as("coverage_ppm"))
      .withColumn("bucket",
        when($"coverage_ppm" >= CcnetHeadPpm, "head")
          .when($"coverage_ppm" >= CcnetMiddlePpm, "middle")
          .otherwise("tail"))
      .withColumn("keep",
        when($"pred_lang" === "en" && $"bucket" =!= "tail", 1L)
          .otherwise(0L))
      .orderBy($"doc_id")
  }
  val docCcnetE2eSql: String = {
    // strip ONLY the trailing oracle-ordering sort — inner ORDER BYs
    // (the LM's top-k cut) are semantic and must survive. The require
    // makes a component-SQL reformat (e.g. a newline before ORDER BY)
    // fail loudly at plan-build time instead of silently no-op'ing.
    def noOrder(sql: String) = {
      require(sql.endsWith(" ORDER BY doc_id"),
        s"ccnet_e2e component SQL no longer ends with ' ORDER BY doc_id': ...${sql.takeRight(40)}")
      sql.stripSuffix(" ORDER BY doc_id")
    }
    s"""WITH lang AS (
       |${noOrder(TextOps.textLangIdSql)}
       |),
       |cov AS (
       |${noOrder(TextOps.textLmCoverageSql)}
       |),
       |j AS (
       |  SELECT l.doc_id, l.pred_lang,
       |    COALESCE(c.coverage_ppm, 0) AS coverage_ppm
       |  FROM lang l LEFT JOIN cov c USING (doc_id)),
       |b AS (
       |  SELECT doc_id, pred_lang, coverage_ppm,
       |    CASE WHEN coverage_ppm >= $CcnetHeadPpm THEN 'head'
       |         WHEN coverage_ppm >= $CcnetMiddlePpm THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM j)
       |SELECT doc_id, pred_lang, coverage_ppm, bucket,
       |  CAST(CASE WHEN pred_lang = 'en' AND bucket <> 'tail'
       |       THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** Upsampling cap for [[docMixWeights]], in ppm of a 1.0× weight: a
    * tiny domain is never repeated more than 4 epochs — past that,
    * repetition hurts more than the mixture balance helps (the
    * standard data-mixing guard). */
  val MixUpsampleCapPpm = 4000000L

  /** Domain-mixture weights: per-source token counts, corpus share,
    * and the uniform-target sampling weight (how many epochs of each
    * source a balanced mixture would draw), all in integer ppm — the
    * table a weighted interleave ([[docInterleave]]) or a sampler
    * consumes to rebalance a multi-source corpus.
    *
    * weight_ppm = (total_tokens / n_sources) / source_tokens, capped
    * at [[MixUpsampleCapPpm]]. Shape: one partial-aggregated groupBy
    * to source-sized rows, then the totals join is sources × 1 —
    * catalog-scale from the first shuffle on; nothing downstream
    * touches corpus rows. Pure int64 arithmetic end-to-end (the
    * repo's float-free oracle contract). */
  /** Per-source (n_docs, n_tokens) rollup — the ONE corpus scan every
    * mixture op starts from. Callers that need a single-scan plan
    * cache this and build the rest from the cached frame. */
  private def mixPerSource(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      // NULL-text guard, both sides: size(split(NULL,' ')) = -1 enters
      // Spark's sum while DuckDB's NULL is skipped — divergent token
      // totals (and n_docs counts NULL-text docs only on Spark).
      .filter($"text".isNotNull)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
  }

  /** The share/weight arithmetic over a per-source rollup — ONE
    * share_ppm definition on the Spark side, shared by
    * [[docMixWeights]] and [[mixEpochsLazy]] exactly as the SQL side
    * shares the per/tot/sh CTE prefix (ADVICE r18: an inline re-derive
    * in the epochs op could silently diverge from a future change to
    * the share law here). */
  private def mixWeightsOf(per: DataFrame): DataFrame = {
    val tot = per.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    // total_tokens rides along so callers needing the corpus total
    // (mixEpochsLazy) reuse THIS aggregate instead of computing a
    // second one over the same rollup (r19 verdict: the duplicate tot
    // crossJoin added a job to every epochs run). docMixWeights drops
    // it to keep its declared 5-column schema.
    per.crossJoin(tot)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("(1000000L * n_tokens) div total_tokens").as("share_ppm"),
        least(
          expr("(1000000L * (total_tokens div n_sources)) div n_tokens"),
          lit(MixUpsampleCapPpm)).as("weight_ppm"),
        col("total_tokens"))
  }

  def docMixWeights(s: SparkSession, d: String): DataFrame =
    mixWeightsOf(mixPerSource(s, d)).drop("total_tokens").orderBy(col("source"))
  val docMixWeightsSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |          count(*) AS n_sources FROM per)
       |SELECT source, n_docs, n_tokens,
       |  (1000000 * n_tokens) // total_tokens AS share_ppm,
       |  least((1000000 * (total_tokens // n_sources)) // n_tokens,
       |        $MixUpsampleCapPpm) AS weight_ppm
       |FROM per, tot ORDER BY source""".stripMargin

  /** Temperature exponents exposed by [[docMixTemperature]], in ppm:
    * α = 1/2 and α = 1/4 — exactly representable as one and two
    * integer square roots, so the whole schedule stays float-free. */
  val MixTempAlphasPpm: Seq[Long] = Seq(500000L, 250000L)

  /** Exact integer √: a float `sqrt` provides only the SEED guess and
    * a ±1 integer correction pins the result — IEEE-754 requires
    * sqrt to be correctly rounded, so the seed is within 1 of
    * ⌊√n⌋ for every n ≤ 1e12 on both engines, and the comparisons
    * that DECIDE the value are pure int64 (the FLOATS.md contract:
    * floats may accelerate, never decide). Emitted as two SQL steps
    * (seed column `g`, corrected result) so the dialects stay
    * literally identical. */
  private def isqrtSeedSql(n: String): String =
    s"CAST(floor(sqrt(CAST(($n) AS DOUBLE))) AS BIGINT)"
  private def isqrtFixSql(g: String, n: String): String =
    s"CASE WHEN (($g)+1)*(($g)+1) <= ($n) THEN ($g)+1 " +
      s"WHEN ($g)*($g) > ($n) THEN ($g)-1 ELSE $g END"

  /** TEMPERATURE-SCHEDULED mixture weights — the p_i ∝ share_i^α
    * sampling law every multi-domain pretraining mix uses (GPT-3 /
    * PaLM / Llama style, α typically 0.3–0.7): α = 1 reproduces the
    * natural shares, α → 0 flattens toward uniform, intermediate α
    * up-samples small domains without drowning large ones. Exposed at
    * α ∈ {1/2, 1/4} ([[MixTempAlphasPpm]]) — the two exponents an
    * integer engine computes EXACTLY: share^(1/2) is one integer
    * square root, share^(1/4) two nested ones ([[isqrtFixSql]] —
    * float sqrt seeds, integer comparisons decide, so both engines
    * agree bit-for-bit where a float pow() never would.
    *
    * temp_ppm = isqrt(share_ppm · 1e6) (the ppm-scaled root, so a
    * full-corpus share of 1e6 ppm maps to 1e6 ppm); p_ppm normalizes
    * each α row-group to a sampling distribution. Shape: everything
    * after [[docMixWeights]]'s per-source rollup is arithmetic on a
    * catalog-sized table — sources × 2 rows at ANY corpus scale; the
    * window partitions by α over that catalog, never over corpus
    * rows. */
  /** share_ppm → exact integer-root temperature columns (t_half,
    * t_quarter) — ONE definition under [[docMixTemperature]] and
    * [[docMixEpochs]] so the two consumers of the sampling law can
    * never round differently. */
  private def withTempRoots(base: DataFrame): DataFrame =
    base
      .withColumn("n1", col("share_ppm") * 1000000L)
      .withColumn("g1", expr(isqrtSeedSql("n1")))
      .withColumn("t_half", expr(isqrtFixSql("g1", "n1")))
      .withColumn("n2", col("t_half") * 1000000L)
      .withColumn("g2", expr(isqrtSeedSql("n2")))
      .withColumn("t_quarter", expr(isqrtFixSql("g2", "n2")))

  def docMixTemperature(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val Seq(aHalf, aQuarter) = MixTempAlphasPpm
    val base = withTempRoots(docMixWeights(s, d).select($"source", $"share_ppm"))
    val w = Window.partitionBy($"alpha_ppm")
    base.select($"source", $"share_ppm",
        explode(map(lit(aHalf), $"t_half", lit(aQuarter), $"t_quarter"))
          .as(Seq("alpha_ppm", "temp_ppm")))
      .withColumn("sum_t", sum($"temp_ppm").over(w))
      .withColumn("p_ppm", expr("(1000000L * temp_ppm) div sum_t"))
      .drop("sum_t")
      .orderBy($"alpha_ppm", $"source")
  }
  /** The schedule-fit CTE chain (per-source shares → integer roots →
    * `tq` with t_half/t_quarter) shared by [[docMixTemperatureSql]]
    * and the temperature-interleave oracle — one definition of the
    * schedule, two consumers. Exposed without the leading `WITH`. */
  private lazy val mixTempCtesBody: String =
    s"""per AS (
       |  SELECT source,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per),
       |sh AS (SELECT source, (1000000 * n_tokens) // total_tokens AS share_ppm
       |       FROM per, tot),
       |h1 AS (SELECT source, share_ppm, share_ppm * 1000000 AS n1,
       |         ${isqrtSeedSql("share_ppm * 1000000")} AS g1 FROM sh),
       |th AS (SELECT source, share_ppm,
       |         ${isqrtFixSql("g1", "n1")} AS t_half FROM h1),
       |h2 AS (SELECT source, share_ppm, t_half, t_half * 1000000 AS n2,
       |         ${isqrtSeedSql("t_half * 1000000")} AS g2 FROM th),
       |tq AS (SELECT source, share_ppm, t_half,
       |         ${isqrtFixSql("g2", "n2")} AS t_quarter FROM h2)""".stripMargin
  lazy val docMixTemperatureSql: String = {
    val Seq(aHalf, aQuarter) = MixTempAlphasPpm
    s"""WITH $mixTempCtesBody,
       |rows_ AS (
       |  SELECT source, share_ppm, CAST($aHalf AS BIGINT) AS alpha_ppm,
       |    t_half AS temp_ppm FROM tq
       |  UNION ALL
       |  SELECT source, share_ppm, CAST($aQuarter AS BIGINT), t_quarter FROM tq)
       |SELECT source, alpha_ppm, share_ppm, temp_ppm,
       |  CAST((1000000 * temp_ppm) //
       |    sum(temp_ppm) OVER (PARTITION BY alpha_ppm) AS BIGINT) AS p_ppm
       |FROM rows_ ORDER BY alpha_ppm, source""".stripMargin
  }

  /** Token budget multiple and epoch cap for [[docMixEpochs]]: a 2×
    * data-constrained run with repetition capped at 4 epochs — the
    * region Muennighoff et al. 2023 ("Scaling Data-Constrained
    * Language Models") measure as near-free; repeating further buys
    * rapidly decaying value, so demand beyond the cap is surfaced as
    * `unmet_tokens` (the "go buy more data" meter) instead of being
    * silently over-served. */
  val EpochBudgetMul = 2L
  val MaxEpochs = 4L

  /** DATA-CONSTRAINED epoch allocation — the table that turns a
    * sampling schedule into per-source REPEAT counts when the training
    * budget exceeds the corpus: the run wants
    * budget = [[EpochBudgetMul]] × corpus tokens distributed by the
    * α = 1/2 temperature law ([[docMixTemperature]] — the SAME
    * schedule that drives [[docInterleaveTemperature]], one schedule
    * definition repo-wide), so a source holding sampling probability p
    * is demanded budget·p tokens and must repeat
    * ceil(demand / available) epochs, capped at [[MaxEpochs]].
    * Output per source: available tokens, p_ppm, demanded / served /
    * unmet tokens, epochs — catalog-sized at ANY corpus scale (the
    * corpus is touched once by the per-source token rollup the
    * schedule already pays). The budget·p product is computed as
    * q·p + ⌊r·p/10⁶⌋ on the 10⁶-split of the total — exact
    * ⌊total·p/10⁶⌋ with every intermediate ≤ ~10¹³ at 100 TB, where
    * the naive total·p_ppm product would overflow int64. */
  def docMixEpochs(s: SparkSession, d: String): DataFrame = {
    val (out, per) = mixEpochsLazy(s, d)
    graft.Tables.materializeAndRelease(out, per)
  }

  /** [[docMixEpochs]]' lazy plan, exposed for ScaleSpec's single-scan
    * pin — returns (result, the cached per-source rollup the caller
    * must unpersist). */
  private[graft] def mixEpochsLazy(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // ONE corpus scan: the cached catalog-sized rollup feeds the total,
    // the α=1/2 schedule (shared withTempRoots over the shared
    // mixWeightsOf share law — the same definitions docMixTemperature
    // runs through), and the allocation arithmetic
    val per = mixPerSource(s, d).cache()
    // partitionless window over the SOURCES catalog (≤ thousands of
    // rows at any corpus size), mirroring the oracle's tsum CTE.
    // total_tokens comes THROUGH mixWeightsOf's own totals aggregate —
    // no second agg+crossJoin over the rollup (r19 verdict fix).
    val out = withTempRoots(mixWeightsOf(per)
        .select($"source", $"n_tokens", $"share_ppm", $"total_tokens"))
      .withColumn("sum_t", sum($"t_half").over(Window.partitionBy()))
      .withColumn("p_ppm", expr("(1000000L * t_half) div sum_t"))
      .withColumn("demand_tokens", expr(
        s"""$EpochBudgetMul * ((total_tokens div 1000000L) * p_ppm
           | + ((total_tokens % 1000000L) * p_ppm) div 1000000L)""".stripMargin))
      .withColumn("epochs",
        least(expr("(demand_tokens + n_tokens - 1) div n_tokens"), lit(MaxEpochs)))
      .withColumn("served_tokens",
        least($"demand_tokens", $"n_tokens" * MaxEpochs))
      .select($"source", $"n_tokens", $"p_ppm", $"demand_tokens", $"epochs",
        $"served_tokens",
        ($"demand_tokens" - $"served_tokens").as("unmet_tokens"))
      .orderBy($"source")
    (out, per)
  }
  lazy val docMixEpochsSql: String =
    s"""WITH $mixTempCtesBody,
       |tsum AS (SELECT CAST(sum(t_half) AS BIGINT) AS st FROM tq),
       |tp AS (SELECT source, CAST((1000000 * t_half) // st AS BIGINT) AS p_ppm
       |       FROM tq, tsum),
       |alloc AS (
       |  SELECT per.source, per.n_tokens, tp.p_ppm,
       |    $EpochBudgetMul * ((tot.total_tokens // 1000000) * tp.p_ppm
       |      + ((tot.total_tokens % 1000000) * tp.p_ppm) // 1000000)
       |      AS demand_tokens
       |  FROM per JOIN tp USING (source), tot)
       |SELECT source, n_tokens, p_ppm, demand_tokens,
       |  CAST(least((demand_tokens + n_tokens - 1) // n_tokens, $MaxEpochs)
       |    AS BIGINT) AS epochs,
       |  least(demand_tokens, n_tokens * $MaxEpochs) AS served_tokens,
       |  demand_tokens - least(demand_tokens, n_tokens * $MaxEpochs)
       |    AS unmet_tokens
       |FROM alloc ORDER BY source""".stripMargin

  /** The epoch allocation DRIVING a feed — [[docMixEpochs]]' repeat
    * counts materialized as the actual multi-epoch read order: every
    * document of source i appears epochs_i times, EPOCH-MAJOR (the
    * full source cycles before any repeat — how training actually
    * revisits data), and sources interleave by the same α = 1/2
    * sampling probability, priority = (epoch·n_docs + rank)·10⁶ div
    * p_ppm — a source holding probability p surfaces every ~1/p
    * positions across ALL its epochs, so repeats spread through the
    * feed instead of clumping at the end. Zero-epoch sources
    * (p_ppm = 0) are excluded BEFORE the explode on both engines
    * (Spark's `sequence(0, -1)` descends rather than emptying — the
    * [[docPackManifest]] lesson). Output is feed-sized (Σ epochs_i ·
    * n_i rows); the allocation table is catalog-sized and joins the
    * corpus as AQE-broadcast; positions via
    * [[graft.store.Dict.denseIndex]], never a partitionless window. */
  def docInterleaveEpochs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sched = docMixEpochs(s, d)
      .filter($"epochs" > 0L && $"p_ppm" > 0L)
      .select($"source", $"p_ppm", $"epochs")
    val wS = Window.partitionBy($"source")
    val base = documents(s, d).filter($"text".isNotNull)
      .join(sched, "source")
      .withColumn("rn", row_number().over(wS.orderBy($"doc_id")).cast("long"))
      .withColumn("nd", count(lit(1)).over(wS).cast("long"))
      .withColumn("epoch", explode(expr("sequence(0L, epochs - 1)")))
      .withColumn("priority",
        expr("((epoch * nd + rn) * 1000000L) div p_ppm"))
      .select($"source", $"doc_id", $"epoch", $"priority")
    graft.store.Dict
      .denseIndex(base, Seq("priority", "source", "doc_id", "epoch"), "position", 1L)
      .select($"position", $"source", $"doc_id", $"epoch")
      .orderBy($"position")
  }
  lazy val docInterleaveEpochsSql: String =
    s"""WITH me AS (SELECT source, p_ppm, epochs FROM (
       |$docMixEpochsSql
       |) zme WHERE epochs > 0 AND p_ppm > 0),
       |db AS (
       |  SELECT d.source, d.doc_id, m.p_ppm, m.epochs,
       |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY d.source) AS nd
       |  FROM documents d JOIN me m USING (source)
       |  WHERE d.text IS NOT NULL),
       |ex AS (SELECT source, doc_id, p_ppm, rn, nd,
       |         unnest(range(0, epochs)) AS epoch FROM db),
       |pr AS (SELECT source, doc_id, epoch,
       |         ((epoch * nd + rn) * 1000000) // p_ppm AS priority FROM ex)
       |SELECT CAST(row_number() OVER (
       |    ORDER BY priority, source, doc_id, epoch) AS BIGINT) AS position,
       |  source, doc_id, CAST(epoch AS BIGINT) AS epoch
       |FROM pr ORDER BY position""".stripMargin

  /** The temperature schedule DRIVING a feed — [[docInterleave]]'s
    * read-order machinery re-weighted by [[docMixTemperature]]'s
    * α = 1/2 sampling law instead of the capped uniform-target
    * weights: priority = (per-source rank · 1e6) div p_ppm, so a
    * source holding sampling probability p surfaces every ~1/p
    * positions — the composition a real pretraining run performs
    * (schedule table → reader order), here as ONE query so the two
    * stages cannot disagree about the weights. Sources with zero
    * sampling probability (share so small the root rounds to zero) are
    * never scheduled — the sampler contract, enforced identically on
    * both engines. Positions come from
    * [[graft.store.Dict.denseIndex]] (range-sort + zipWithIndex),
    * NEVER a partitionless window; the schedule join is a broadcast of
    * a sources-sized table. */
  def docInterleaveTemperature(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sched = docMixTemperature(s, d)
      .filter($"alpha_ppm" === MixTempAlphasPpm.head && $"p_ppm" > 0L)
      .select($"source", $"p_ppm")
    val rn = row_number().over(
      Window.partitionBy($"source").orderBy($"doc_id")).cast("long")
    val base = documents(s, d).filter($"text".isNotNull)
      .join(broadcast(sched), "source")
      .withColumn("rn", rn)
      .withColumn("priority", expr("(rn * 1000000L) div p_ppm"))
      .select($"source", $"doc_id", $"p_ppm", $"priority")
    graft.store.Dict
      .denseIndex(base, Seq("priority", "source", "doc_id"), "position", 1L)
      .select($"position", $"source", $"doc_id", $"p_ppm")
      .orderBy($"position")
  }
  lazy val docInterleaveTemperatureSql: String =
    s"""WITH $mixTempCtesBody,
       |tsum AS (SELECT CAST(sum(t_half) AS BIGINT) AS st FROM tq),
       |tp AS (SELECT source, CAST((1000000 * t_half) // st AS BIGINT) AS p_ppm
       |       FROM tq, tsum),
       |tbase AS (
       |  SELECT d.source, d.doc_id, p.p_ppm,
       |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rn
       |  FROM documents d JOIN tp p USING (source)
       |  WHERE d.text IS NOT NULL AND p.p_ppm > 0)
       |SELECT CAST(row_number() OVER (
       |    ORDER BY (rn * 1000000) // p_ppm, source, doc_id) AS BIGINT) AS position,
       |  source, doc_id, p_ppm
       |FROM tbase ORDER BY position""".stripMargin

  /** [[docMixWeights]] measured in REAL tokenizer tokens: per-source
    * share and up-sampling weight computed on summed BPE lengths
    * ([[TextOps.bpeDocCounts]]) rather than whitespace counts. The
    * tokens-per-word ratio differs across domains (code, prose,
    * non-English), so a mixture balanced by words is NOT balanced by
    * what the model actually consumes — this is the table a run's
    * sampler should read. Same catalog-sized rollup; n_docs counts the
    * docs carrying a BPE length (the dictionary join's row set) on
    * both engines. */
  def docMixWeightsBpe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = documents(s, d)
      .filter($"text".isNotNull)
      .select($"doc_id", $"source")
      .join(TextOps.bpeDocCounts(s, d).select($"doc_id", $"n_bpe"), "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_bpe").as("n_tokens"))
    val tot = per.agg(sum($"n_tokens").as("total_tokens"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(tot)
      .select($"source", $"n_docs", $"n_tokens",
        expr("(1000000L * n_tokens) div total_tokens").as("share_ppm"),
        least(
          expr("(1000000L * (total_tokens div n_sources)) div n_tokens"),
          lit(MixUpsampleCapPpm)).as("weight_ppm"))
      .orderBy($"source")
  }
  lazy val docMixWeightsBpeSql: String =
    s"""${TextOps.bpeDocCountsCtesSql},
       |per AS (
       |  SELECT d.source, count(*) AS n_docs,
       |    CAST(sum(b.n_bpe) AS BIGINT) AS n_tokens
       |  FROM documents d JOIN bpe b ON b.doc_id = d.doc_id
       |  GROUP BY d.source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |          count(*) AS n_sources FROM per)
       |SELECT source, n_docs, n_tokens,
       |  (1000000 * n_tokens) // total_tokens AS share_ppm,
       |  least((1000000 * (total_tokens // n_sources)) // n_tokens,
       |        $MixUpsampleCapPpm) AS weight_ppm
       |FROM per, tot ORDER BY source""".stripMargin

  /** Per-source document-length histogram on power-of-2 buckets —
    * the length-distribution fingerprint every corpus report leads
    * with (truncation bugs, boilerplate floods, and extraction
    * failures all show up as bucket-mass shifts before any quality
    * metric moves). bucket = floor(log2(n_tokens)) computed WITHOUT
    * floats as length(bin(n)) − 1 — the binary-string length trick
    * both engines implement identically on integers, keeping the op
    * inside the float-free oracle contract. Pure map-side bucket
    * derivation + one partial-aggregated groupBy to (source × ~20
    * buckets) rows: catalog-sized output at any corpus size. */
  def docLengthHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .filter($"text".isNotNull) // family-wide NULL-text guard
      .select($"source",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", (length(bin($"n_tokens")) - 1).cast("long"))
      .groupBy($"source", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
      .orderBy($"source", $"bucket")
  }
  val docLengthHistogramSql: String =
    """WITH t AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT source, CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket,
      |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM t GROUP BY source, bucket ORDER BY source, bucket""".stripMargin

  /** Chunk width for [[docChunk]], in whitespace tokens — sized so the
    * test corpus's 20–120-token docs actually SPLIT (up to 4 chunks),
    * exercising the multi-chunk path in the driver gate; production
    * would use the embedding model's context width (e.g. 512). */
  val ChunkTokens = 32L

  /** Fixed-width document chunking — the RAG/embedding-prep step that
    * turns documents into retrievable [[ChunkTokens]]-token slices.
    * Emits (doc_id, chunk_id, token count, content md5): the md5
    * stands in for the chunk text so the oracle compare stays O(1)
    * per row (same trick as textRedact). Shape: pure map-side — the
    * chunk index explodes from an in-row sequence and the slice is a
    * per-row array op; no shuffle at all except the oracle sort, so
    * chunking parallelizes embarrassingly at any corpus size. The last
    * chunk is short (both engines' slice clamps at the end); an empty
    * doc is one chunk of the single empty token, never zero rows. */
  def docChunk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .filter($"text".isNotNull) // family-wide NULL-text guard
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", $"ws",
        explode(expr(s"sequence(0L, (size(ws) - 1) div $ChunkTokens)")).as("chunk_id"))
      .select($"doc_id", $"chunk_id",
        expr(s"slice(ws, chunk_id * $ChunkTokens + 1, $ChunkTokens)").as("cw"))
      .select($"doc_id", $"chunk_id",
        size($"cw").cast("long").as("n_tokens"),
        md5(concat_ws(" ", $"cw")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_id")
  }
  val docChunkSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents WHERE text IS NOT NULL),
       |ix AS (SELECT doc_id, ws,
       |         unnest([i for i in range(0, ((len(ws) - 1) // $ChunkTokens) + 1)]) AS chunk_id
       |       FROM t),
       |c AS (SELECT doc_id, chunk_id,
       |        ws[chunk_id * $ChunkTokens + 1 : (chunk_id + 1) * $ChunkTokens] AS cw
       |      FROM ix)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(len(cw) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(cw, ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Embedding dimension for [[docRagE2e]]'s deterministic chunk
    * embedder — matches the embeddings table's 64-d vectors so query
    * and chunk live in one space and [[IvfKmeans]]'s quantizer (fit on
    * the corpus embeddings) can partition both. */
  val RagDim = 64

  /** Retrieved chunks per query for [[docRagE2e]] — the generation
    * context budget. */
  val RagTopK = 3L

  /** Probe depth for [[docRagE2e]]: how many of the [[IvfKmeans.K]]
    * lists a query scans. The knob a deployment tunes against
    * [[docRagRecall]] until the recall target is met — 4/16 lists
    * (25% of the corpus) was the measured knee on this corpus
    * (2-probe: recall@3 0.40; 4-probe: 0.80), the standard IVF
    * cost/recall dial; Round15OpsSpec pins the floor. */
  val RagProbeLists = 4

  /** RAG retrieval end-to-end — the pipeline shape every
    * retrieval-augmented system runs at serve time, composed from the
    * op surface's own stages as ONE query:
    *
    *   1. CHUNK: [[docChunk]]'s fixed-width slicing (map-side, no
    *      shuffle) turns documents into [[ChunkTokens]]-token slices.
    *   2. EMBED: each chunk gets a deterministic [[RagDim]]-d
    *      bag-of-hashed-tokens vector — bucket = first md5 byte of the
    *      token mod [[RagDim]] (the [[TextOps.textHashFeatures]]
    *      hashing trick), coordinate = bucket count cast to double
    *      (exact, so both engines agree bit-for-bit). The container
    *      has no embedding model; the PLUMBING — per-chunk vectorize,
    *      index, probe — is the part that must be right at 100 TB,
    *      and a real model slots into this exact column.
    *   3. INDEX: the [[IvfKmeans]] quantizer is fit ON THE
    *      UNIT-NORMALIZED CHUNK VECTORS themselves
    *      ([[IvfKmeans.centroidsFor]], tag `ragchunk`, disk-persisted,
    *      fit once per corpus — an IVF quantizer only partitions well
    *      the distribution it indexes; fitting it on the unrelated
    *      embeddings table measured recall@3 ≈ 0.47 before this, see
    *      [[docRagRecall]]), and every chunk is assigned to its
    *      nearest list (broadcast k-row centroids, map-side min_by —
    *      no shuffle).
    *   4. RETRIEVE: each query (the first chunk of documents 0–4,
    *      embedded by the SAME embedder — see [[ragQueryVecs]]) probes
    *      its [[RagProbeLists]] nearest lists and ranks ONLY the
    *      other-document chunks in those lists by exact cosine —
    *      top-[[RagTopK]] per query, ties to the lower
    *      (doc_id, chunk_id).
    *
    * At 100 TB the assigned-chunk table is list-partitioned parquet
    * ([[MlOps.simAnnIvfIndex]] is that shape made literal) and a query
    * touches [[RagProbeLists]]/16ths (4-of-16) of the chunk corpus —
    * the IVF bargain applied to retrieval. The oracle chains [[MlOps.ivfFitCtes]] (the identical
    * quantizer replay) + [[docChunkSql]]'s chunk CTEs, so neither the
    * chunker nor the index definition can drift from the standalone
    * ops. Output is integer-only (qid, rank, doc_id, chunk_id). */
  /** Chunk table with the deterministic [[RagDim]]-d
    * bag-of-hashed-tokens embedding — the shared source of
    * [[docRagE2e]] (probed retrieval) and [[docRagRecall]] (its
    * ground-truth evaluation). Pure map-side: docChunk's
    * explode/slice, one bucket pass per token, one RagDim-long count
    * fold per chunk. */
  private def ragChunkVecs(s: SparkSession, d: String): DataFrame =
    ragChunkVecsOf(s, documents(s, d))

  /** [[ragChunkVecs]] over an arbitrary documents frame — the append
    * lifecycle ([[docRagIndexAppend]]) chunks the base corpus and the
    * arriving batch separately through the SAME embedder. */
  private def ragChunkVecsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // spread before the per-token md5 embed kernel (the family's
    // hottest map-side compute): batch callers pass 1-partition
    // single-file scans that would run it serially (identity at
    // production scale and for streaming frames; per-micro-batch
    // frames are batch frames and do take it)
    Sizing.spread(docs)
      .filter($"text".isNotNull) // family-wide NULL-text guard
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", $"ws",
        explode(expr(s"sequence(0L, (size(ws) - 1) div $ChunkTokens)")).as("chunk_id"))
      .select($"doc_id", $"chunk_id",
        expr(s"slice(ws, chunk_id * $ChunkTokens + 1, $ChunkTokens)").as("cw"))
      .withColumn("bs", expr(
        s"transform(cw, t -> CAST(conv(substring(md5(t), 1, 2), 16, 10) AS BIGINT) % $RagDim)"))
      // one-pass native histogram (graft.functions.BucketCounts):
      // counts are exact integers, so it is value-identical to the
      // oracle's per-bucket list-comprehension replay
      .select($"doc_id", $"chunk_id",
        GraftFunctions.column("bucket_counts", $"bs", lit(RagDim)).as("v"))
  }

  /** [[ragChunkVecs]] unit-L2-normalized (the [[IvfKmeans.withUnitV]]
    * trick): squared L2 then ranks like cosine, so the coarse
    * quantizer's nearest-centroid probe agrees with the exact-cosine
    * ranking contract — without this, the count vectors' ~√tokens
    * norms dominate the centroid distances and the probe loses the
    * direction signal.
    * sqrt/division are correctly-rounded IEEE ops on identical inputs,
    * so both engines produce bit-identical coordinates. */
  private def ragChunkUnitVecs(s: SparkSession, d: String): DataFrame =
    unitNorm(s, ragChunkVecs(s, d))

  private def unitNorm(s: SparkSession, cv: DataFrame): DataFrame = {
    import s.implicits._
    cv.withColumn("nrm", expr("sqrt(aggregate(v, 0D, (a, x) -> a + x * x))"))
      .select($"doc_id", $"chunk_id",
        expr("CASE WHEN nrm > 0D THEN transform(v, x -> x / nrm) ELSE v END").as("v"))
  }

  /** Synthetic single-column chunk key for the quantizer fit (the fit
    * machinery is keyed by one `vec_id`): doc_id·10⁶ + chunk_id —
    * collision-free while documents stay under 32M tokens. */
  private val RagKeyMul = 1000000L

  /** The query vectors every RAG op probes with: the FIRST chunk of
    * documents 0–4, embedded by the SAME embedder as the index
    * ([[ragChunkUnitVecs]]) — a real RAG system embeds the incoming
    * text query with the index's model, so query and corpus share one
    * distribution by construction. (An earlier draft probed with the
    * unrelated `embeddings` table's vectors; out-of-distribution
    * queries measured recall@3 ≈ 0.47 however the quantizer was fit —
    * the meter that caught it is [[docRagRecall]].) qid = the query
    * document's id; retrieval excludes the query's own document, the
    * standard passage-retrieval eval. */
  private def ragQueryVecs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ragChunkUnitVecs(s, d)
      .filter(ragQueryPred)
      .select($"doc_id".as("vec_id"), $"v")
  }

  /** The RAG query set, defined ONCE: first chunk of documents
    * 0–[[RagQueryMaxDocId]]. Both the batch ops (via [[ragQueryVecs]])
    * and the streamed serve path ([[docRagStream]]) apply this same
    * predicate, so the two sides cannot drift apart silently — a
    * divergence would only have surfaced at oracle time. */
  private[graft] val RagQueryMaxDocId = 5L
  private[graft] def ragQueryPred: Column =
    col("doc_id") < RagQueryMaxDocId && col("chunk_id") === 0L

  /** The probed, exact-cosine-scored candidate set — chunk/embed/fit/
    * assign/probe/score through step 4's scoring, WITHOUT the final
    * top-K cut: (qid, doc_id, chunk_id, v, cos), plus the cached cvu
    * the caller must unpersist. ONE definition under [[docRagE2e]]
    * (which cuts top-[[RagTopK]] directly) and [[docRagMmr]] (which
    * reranks a [[RagMmrPool]]-deep pool for diversity), so the two
    * serve paths can never disagree about what was retrieved. */
  private def ragProbedScored(s: SparkSession, d: String,
      assignedTransform: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cvu = ragChunkUnitVecs(s, d)
      .withColumn("vec_id", $"doc_id" * RagKeyMul + $"chunk_id")
      .cache()
    val cents = IvfKmeans.centroidsFor(s, d, "ragchunk",
      cvu.select($"vec_id", $"v"), fpTable = "documents")
    val cdf = IvfKmeans.centroidFrame(s, cents)
    // index: nearest-centroid list per chunk as ONE map-side
    // projection (IvfKmeans.assignCol — the quantizer is a driver-side
    // literal, so no shuffle and no join-back to recover the vector).
    // assignedTransform attaches/filters index-side payload columns
    // (docRagFiltered's lang predicate); it must preserve
    // (doc_id, chunk_id, v, list_id).
    val assigned = assignedTransform(
      cvu.withColumn("list_id", IvfKmeans.assignCol(cents, $"v")))
    // retrieve: RagProbeLists-probe per query, exact cosine within
    // probed lists
    val probes = IvfKmeans.withDists(ragQueryVecs(s, d), cdf)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"dist", $"list_id")))
      .filter($"rn" <= RagProbeLists)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"list_id")
    val scored = probes.join(assigned, "list_id")
      .filter($"doc_id" =!= $"qid") // never retrieve the query's own doc
      .select($"qid", $"doc_id", $"chunk_id", $"v",
        GraftFunctions.column("cosine_sim", $"qv", $"v").as("cos"))
    (cvu, scored)
  }

  def docRagE2e(s: SparkSession, d: String): DataFrame = {
    val (cvu, scored) = ragProbedScored(s, d)
    // materialize (queries × RagTopK — tiny by construction) so cvu
    // can be released before returning
    graft.Tables.materializeAndRelease(ragTopKOf(scored), cvu)
  }

  /** The exact-cosine top-[[RagTopK]] cut over a probed-scored
    * candidate frame — [[docRagE2e]]'s serve step as a lazy plan,
    * shared with [[docRagRecall]] so the meter can score the serve
    * without paying the chunk embedding twice. */
  private def ragTopKOf(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"qid")
      .orderBy($"cos".desc, $"doc_id", $"chunk_id")
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= RagTopK)
      .select($"qid", $"rank", $"doc_id", $"chunk_id")
      .orderBy($"qid", $"rank")
  }
  /** Shared oracle CTE chain for the RAG ops: chunking + hashed chunk
    * embedding + unit normalization, the deterministic quantizer fit
    * replay ON THE CHUNK VECTORS ([[MlOps.ivfFitCteList]] over `cvu` —
    * its `af` CTE IS the chunk→list index), unit query vectors,
    * [[RagProbeLists]]-probe, probed exact-cosine scoring, and the probed result
    * `ragres`. One definition feeds [[docRagE2eSql]] AND
    * [[docRagRecallSql]], so the evaluation can never drift from the
    * pipeline it measures. */
  /** The chunk + hashed-embedding + unit-normalization CTE prefix
    * (`cwt` … `cvu`), shared by [[ragCtesSql]] and the append
    * lifecycle's oracle ([[docRagIndexAppendSql]]) so the embedder
    * definition exists exactly once. */
  private lazy val ragChunkCtesSql: String = {
    val unitList =
      "CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) > 0 " +
        "THEN list_transform(v, x -> x / sqrt(list_sum(list_transform(v, x -> x * x)))) " +
        "ELSE v END"
    s"""cwt AS (SELECT doc_id, string_split(text, ' ') AS ws
       |        FROM documents WHERE text IS NOT NULL),
       |cix AS (SELECT doc_id, ws,
       |          unnest([i for i in range(0, ((len(ws) - 1) // $ChunkTokens) + 1)]) AS chunk_id
       |        FROM cwt),
       |cch AS (SELECT doc_id, chunk_id,
       |          ws[chunk_id * $ChunkTokens + 1 : (chunk_id + 1) * $ChunkTokens] AS cw
       |        FROM cix),
       |cbs AS (SELECT doc_id, chunk_id,
       |          [(16 * (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1)
       |            + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % $RagDim
       |           for t in cw] AS bs
       |        FROM cch),
       |cv AS (SELECT doc_id, chunk_id,
       |         [CAST(len(list_filter(bs, b -> b = i)) AS DOUBLE)
       |          for i in range(0, $RagDim)] AS v
       |       FROM cbs),
       |cvu AS (SELECT doc_id, chunk_id, $unitList AS v FROM cv)""".stripMargin
  }

  private lazy val ragCtesSql: String = {
    s"""WITH $ragChunkCtesSql,
       |${MlOps.ivfFitCteList(
        s"  SELECT doc_id * $RagKeyMul + chunk_id AS vec_id, v FROM cvu")},
       |qemb AS (
       |  SELECT doc_id AS vec_id, v FROM cvu
       |  WHERE doc_id < $RagQueryMaxDocId AND chunk_id = 0),
       |probe AS (
       |${MlOps.ivfAssignSelect(s"c${IvfKmeans.Rounds}", "", RagProbeLists, src = "qemb")}),
       |scored AS (
       |  SELECT p.vec_id AS qid,
       |    CAST(e.vec_id // $RagKeyMul AS BIGINT) AS doc_id,
       |    CAST(e.vec_id % $RagKeyMul AS BIGINT) AS chunk_id,
       |    list_cosine_similarity(q.v, e.v) AS cos
       |  FROM probe p
       |  JOIN af ON af.list_id = p.list_id
       |  JOIN qemb q ON q.vec_id = p.vec_id
       |  JOIN emb e ON e.vec_id = af.vec_id
       |  WHERE e.vec_id // $RagKeyMul <> p.vec_id),
       |ragres AS (
       |  SELECT qid, rank, doc_id, chunk_id FROM (
       |    SELECT qid, doc_id, chunk_id,
       |      CAST(row_number() OVER (PARTITION BY qid
       |        ORDER BY cos DESC, doc_id, chunk_id) AS BIGINT) AS rank
       |    FROM scored) z
       |  WHERE rank <= $RagTopK)""".stripMargin
  }
  lazy val docRagE2eSql: String =
    s"""$ragCtesSql
       |SELECT qid, rank, doc_id, chunk_id
       |FROM ragres
       |ORDER BY qid, rank""".stripMargin

  /** [[docRagE2e]]'s 100 TB shape made literal, the chunk-side sibling
    * of [[MlOps.simAnnIvfIndex]]: the assigned chunk table is WRITTEN
    * as list-partitioned parquet (`list_id=<k>/` directories, under
    * the configurable index root, corpus-keyed overwrite like
    * [[docPartitionedSink]] so reruns never accumulate trees) and the
    * probe READS ONLY its probed list partitions — Spark partition
    * pruning turns the [[RagProbeLists]]-of-16 probe into
    * 4-of-16ths I/O, which is the entire point of IVF at retrieval
    * scale. Same ranking contract and the SAME oracle as
    * [[docRagE2e]]: the on-disk layout must not change the answer.
    * ScaleSpec pins the PartitionFilters-only read
    * (via [[ragProbedIndexRead]], the exact read path this op uses). */
  /** Fit the frozen chunk quantizer and (over)write the
    * list-partitioned on-disk index — the serve-time artifacts shared
    * by [[docRagIndex]] (index + probed retrieval in one op) and
    * [[docRagStream]] (streaming serve against the same artifacts).
    * Returns (index dir, centroid frame — the probe side ranks lists
    * via [[IvfKmeans.withDists]], which wants the frame). */
  private def ragBuildIndex(s: SparkSession, d: String): (String, DataFrame) =
    ragBuildIndexAt(s, d, ragIndexDir(s, d))

  /** ONE index-build definition (chunk + key + frozen fit + assigned
    * list-partitioned overwrite) for every on-disk index variant:
    * `attach` co-locates payload columns in the written rows
    * ([[docRagIndexFiltered]]'s lang) — it sees the assigned frame and
    * must preserve (doc_id, chunk_id, v, list_id). */
  private def ragBuildIndexAt(s: SparkSession, d: String, dir: String,
      attach: DataFrame => DataFrame = identity): (String, DataFrame) = {
    import s.implicits._
    val cvu = ragChunkUnitVecs(s, d)
      .withColumn("vec_id", $"doc_id" * RagKeyMul + $"chunk_id")
      .cache()
    val cents = IvfKmeans.centroidsFor(s, d, "ragchunk",
      cvu.select($"vec_id", $"v"), fpTable = "documents")
    val cdf = IvfKmeans.centroidFrame(s, cents)
    attach(cvu.withColumn("list_id", IvfKmeans.assignCol(cents, $"v")))
      .drop("vec_id")
      // key the write by list BEFORE partitionBy (guide §6 output file
      // sizing): without this, every embed task would write a file
      // into every list dir — tasks × K files instead of ~K
      .repartition($"list_id")
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    cvu.unpersist() // the write materialized it
    (dir, cdf)
  }

  /** The probed-retrieval step against the ON-DISK index, shared by
    * [[docRagIndex]] (one query set, batch) and [[docRagStream]] (one
    * call per micro-batch): rank each query's [[RagProbeLists]]
    * nearest lists driver-side (queries × probes rows — tiny at any
    * scale), read ONLY those `list_id=` partitions
    * ([[ragProbedIndexRead]], PartitionFilters-pruned), exact-cosine
    * rank, top-[[RagTopK]]. Returns a MATERIALIZED local frame
    * (queries × [[RagTopK]] rows) so every cache is released before
    * returning. */
  private def ragProbeRetrieve(
      s: SparkSession, qvecs: DataFrame, dir: String, cdf: DataFrame,
      indexFilter: DataFrame => DataFrame = identity): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val probes = IvfKmeans.withDists(qvecs, cdf)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"dist", $"list_id")))
      .filter($"rn" <= RagProbeLists)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"list_id")
      .cache()
    // probe set resolved driver-side: queries × RagProbeLists rows,
    // tiny by construction at any scale
    val probedLists = probes.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    // indexFilter narrows the probed scan by co-located payload
    // columns (docRagIndexFiltered's lang predicate — a pushed data
    // filter on exactly the partition-pruned read)
    val index = indexFilter(ragProbedIndexRead(s, dir, probedLists))
    val scored = probes.join(index, "list_id")
      .filter($"doc_id" =!= $"qid")
      .select($"qid", $"doc_id", $"chunk_id",
        GraftFunctions.column("cosine_sim", $"qv", $"v").as("cos"))
    val w = Window.partitionBy($"qid")
      .orderBy($"cos".desc, $"doc_id", $"chunk_id")
    val out = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= RagTopK)
      .select($"qid", $"rank", $"doc_id", $"chunk_id")
      .orderBy($"qid", $"rank")
    // materialize the tiny result so the probe cache releases here
    // (it previously stayed pinned for the session — ADVICE r15); the
    // on-disk index deliberately survives for the append lifecycle
    graft.Tables.materializeAndRelease(out, probes)
  }

  def docRagIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (dir, cdf) = ragBuildIndex(s, d)
    ragProbeRetrieve(s, ragQueryVecs(s, d), dir, cdf)
      .orderBy($"qid", $"rank")
  }
  /** The layout must not change the answer. */
  lazy val docRagIndexSql: String = docRagE2eSql

  /** [[docRagFiltered]]'s 100 TB shape made literal — the claim that
    * "the lang column is written into the list partitions" as an
    * actual on-disk index: the chunk table is written list-partitioned
    * WITH the lang payload column co-located next to each vector
    * (one doc_id equi-join at build time; every real vector store —
    * FAISS+metadata sidecars, Vespa, Milvus — stores filterable
    * attributes with the postings), and the serve path applies the
    * predicate as a DATA FILTER on the partition-pruned probed scan:
    * [[RagProbeLists]]-of-16 directories listed, lang pushed to
    * parquet inside them, zero joins at serve time. Same ranking
    * contract and the SAME oracle as [[docRagFiltered]]: the on-disk
    * layout must not change the answer. ScaleSpec pins the read shape
    * (PartitionFilters on list_id + PushedFilters EqualTo on lang) on
    * the exact read path this op executes. */
  def docRagIndexFiltered(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val langs = documents(s, d).select($"doc_id", $"lang")
    val (dir, cdf) = ragBuildIndexAt(s, d, ragLangIndexDir(s, d),
      attach = _.join(langs, "doc_id"))
    ragProbeRetrieve(s, ragQueryVecs(s, d), dir, cdf,
      indexFilter = _.filter($"lang" === RagFilterLang))
      .orderBy($"qid", $"rank")
  }
  /** The layout must not change the answer. */
  lazy val docRagIndexFilteredSql: String = docRagFilteredSql

  /** Corpus-keyed location of the payload-carrying (lang) index
    * [[docRagIndexFiltered]] writes — distinct from [[ragIndexDir]]
    * so the filtered op never clobbers the append lifecycle's base. */
  private[graft] def ragLangIndexDir(s: SparkSession, d: String): String =
    ragIndexDir(s, d) + "_lang"

  /** Deterministic corpus-keyed location of the on-disk RAG index —
    * md5 of the corpus dir under the configurable index root, so
    * reruns overwrite instead of accumulating trees and the APPEND
    * lifecycle ([[docRagIndexAppend]]) can find the index
    * [[docRagIndex]] wrote. */
  private[graft] def ragIndexDir(s: SparkSession, d: String): String =
    scratch(s, "rag_idx", d)

  /** THE probed read of the on-disk RAG index: an `isin` over the
    * partition column, which Spark turns into `PartitionFilters` —
    * only the probed `list_id=` directories are listed or read
    * (4-of-16ths I/O). Package-private so ScaleSpec pins the scan
    * shape of the exact code path [[docRagIndex]] executes. */
  private[graft] def ragProbedIndexRead(
      s: SparkSession, dir: String, lists: Seq[Int]): DataFrame = {
    import s.implicits._
    s.read.parquet(dir).filter($"list_id".isin(lists: _*))
  }

  /** Incremental maintenance of the on-disk RAG index — the missing
    * half of the lifecycle after round-15's ingest-side
    * [[DedupOps.dedupStreamIncremental]]: production RAG does NOT
    * refit + rewrite the whole index per crawl drop
    * ([[docRagIndex]]'s shape); it assigns the ARRIVING chunks with
    * the FROZEN day-0 quantizer (the persisted
    * [[IvfKmeans.centroidsFor]] artifact — an IVF quantizer is a
    * versioned model, refit on a schedule, not per batch) and appends
    * them to the list-partitioned layout, touching ONLY the
    * `list_id=` directories the new chunks land in.
    *
    * Lifecycle here: the base corpus (every source outside
    * [[DedupOps.IncrementalBatchSources]] — the same batch-vs-corpus
    * split every `*_incremental` op uses) is chunked, embedded, and
    * written as the day-0 index with centroids fit ON THE BASE
    * distribution; the arriving batch is then chunked + embedded by
    * the same embedder, assigned with those frozen centroids, and
    * APPENDED — parquet `append` under `partitionBy` writes new files
    * only under the touched list directories, never rewriting a base
    * file (ScaleSpec pins exactly that: base files byte-stable, new
    * files only under touched `list_id=` dirs).
    *
    * Correctness contract (full-rebuild parity): per-chunk nearest-
    * centroid assignment is independent of every other chunk, so
    * base-assign ∪ batch-assign ≡ assigning the COMBINED corpus with
    * the same frozen quantizer. The oracle replays the base-only fit
    * and assigns ALL chunks — the read-back of the appended index must
    * equal that full rebuild row-for-row. */
  def docRagIndexAppend(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (dir, cents) = ragAppendBase(s, d)
    ragAppendNew(s, d, dir, cents)
    s.read.parquet(dir)
      .select($"doc_id", $"chunk_id", $"list_id".cast("long").as("list_id"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Day-0 step of [[docRagIndexAppend]]: fit the quantizer on the
    * BASE corpus chunks (tag `ragbase`, disk-persisted — the frozen
    * model artifact) and (over)write the base index. Package-private
    * so ScaleSpec can snapshot the file layout between base and
    * append. */
  private[graft] def ragAppendBase(
      s: SparkSession, d: String): (String, Array[Array[Double]]) = {
    import s.implicits._
    // NULL-source docs are BASE corpus (they are not part of the
    // arriving batch). A bare NOT IN drops NULL on both engines, so
    // base ∪ batch would silently miss them while the oracle's
    // assign-everything side keeps them — both sides are explicit.
    val baseDocs = documents(s, d)
      .filter($"source".isNull ||
        !$"source".isInCollection(DedupOps.IncrementalBatchSources))
    val cvuBase = unitNorm(s, ragChunkVecsOf(s, baseDocs))
      .withColumn("vec_id", $"doc_id" * RagKeyMul + $"chunk_id")
      .cache()
    val cents = IvfKmeans.centroidsFor(s, d, "ragbase",
      cvuBase.select($"vec_id", $"v"), fpTable = "documents")
    val dir = ragIndexDir(s, d) + "_app"
    cvuBase.withColumn("list_id", IvfKmeans.assignCol(cents, $"v"))
      .select($"doc_id", $"chunk_id", $"v", $"list_id")
      .repartition($"list_id") // ~K files, not embed-tasks × K (guide §6)
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    cvuBase.unpersist()
    (dir, cents)
  }

  /** Append step of [[docRagIndexAppend]]: assign the arriving batch's
    * chunks with the frozen centroids and append them to the
    * partitioned layout. Returns the touched list ids (batch-sized
    * driver metadata — what a production appender logs/commits). */
  private[graft] def ragAppendNew(
      s: SparkSession, d: String, dir: String,
      cents: Array[Array[Double]]): Seq[Int] = {
    import s.implicits._
    val newDocs = documents(s, d)
      .filter($"source".isInCollection(DedupOps.IncrementalBatchSources))
    val cvuNew = unitNorm(s, ragChunkVecsOf(s, newDocs))
      .withColumn("vec_id", $"doc_id" * RagKeyMul + $"chunk_id")
    val assigned = cvuNew
      .withColumn("list_id", IvfKmeans.assignCol(cents, $"v"))
      .select($"doc_id", $"chunk_id", $"v", $"list_id")
      .cache()
    assigned.repartition($"list_id") // one appended file per touched list
      .write.mode("append").partitionBy("list_id").parquet(dir)
    val touched = assigned.select($"list_id").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    assigned.unpersist()
    touched
  }

  /** [[docRagIndexAppend]]'s ingest leg run as a live STREAM — the
    * write-side sibling of [[docRagStream]] (which streams QUERIES
    * against a static index; this streams DOCUMENTS into it),
    * completing the streaming lifecycle matrix: build (batch), append
    * (batch + stream), compact, serve (batch + stream). Each
    * micro-batch chunks + embeds its documents map-side, assigns them
    * with the FROZEN day-0 quantizer ([[IvfKmeans.assignCol]] — a
    * driver-side literal, so the whole per-batch plan is one
    * stateless map + partitioned append touching only the lists the
    * batch lands in), and appends. No state store: chunk assignment
    * is per-doc independent, the on-disk index IS the state. Oracle:
    * the same full-rebuild parity as the batch append
    * ([[docRagIndexAppendSql]] verbatim) — arrival mode must not
    * change the index. */
  def docRagStreamAppend(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (dir, cents) = ragAppendBase(s, d)
    val incoming = streamTable(s, d, "documents")
      .filter($"source".isInCollection(DedupOps.IncrementalBatchSources))
    // An index missing its streamed appends would fail the
    // full-rebuild-parity oracle confusingly far downstream; drain
    // fails at the source instead if no micro-batch fired.
    Streams.drain(s, "doc_rag_stream_append", incoming,
        Sizing.tableParts(s, d, "documents")) { (batch, _) =>
      unitNorm(s, ragChunkVecsOf(s, batch))
        .withColumn("vec_id", $"doc_id" * RagKeyMul + $"chunk_id")
        .withColumn("list_id", IvfKmeans.assignCol(cents, $"v"))
        .select($"doc_id", $"chunk_id", $"v", $"list_id")
        .repartition($"list_id") // one appended file per touched list
        .write.mode("append").partitionBy("list_id").parquet(dir)
    }
    s.read.parquet(dir)
      .select($"doc_id", $"chunk_id", $"list_id".cast("long").as("list_id"))
      .orderBy($"doc_id", $"chunk_id")
  }
  /** Arrival mode must not change the index — batch-append parity. */
  lazy val docRagStreamAppendSql: String = docRagIndexAppendSql

  /** Maintenance leg completing the index lifecycle after
    * [[docRagIndex]] (build) and [[docRagIndexAppend]] (append):
    * COMPACTION of the fragmented touched partitions. Every append
    * drops one small file per task into each touched `list_id=` dir,
    * so after N crawl drops a probed read opens O(N) small files per
    * list — the #1 operational issue of partitioned parquet lakes
    * (the reason Iceberg/Delta ship `rewrite_data_files`/`OPTIMIZE`).
    * This op runs base build + one append (recreating the fragmented
    * state), then rewrites ONLY the touched partitions via dynamic
    * partition overwrite, repartitioned BY the partition key so each
    * touched list collapses to exactly ONE file; untouched base
    * partitions keep their files byte-identical (ScaleSpec pins both).
    * Oracle: full-rebuild parity — [[docRagIndexAppendSql]] verbatim,
    * because maintenance must never change the answer. */
  def docRagIndexCompact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (dir, cents) = ragAppendBase(s, d)
    val touched = ragAppendNew(s, d, dir, cents)
    ragCompactTouched(s, dir, touched)
    s.read.parquet(dir)
      .select($"doc_id", $"chunk_id", $"list_id".cast("long").as("list_id"))
      .orderBy($"doc_id", $"chunk_id")
  }
  lazy val docRagIndexCompactSql: String = docRagIndexAppendSql

  /** The compaction step: rewrite the touched `list_id=` partitions in
    * place — read back, pin in memory with a lineage cut (the rewrite
    * deletes the very files the plan reads, so the data must be
    * materialized OFF those files first; a production compactor
    * instead writes new files and commits an atomic swap, e.g.
    * Iceberg's rewrite_data_files — same I/O shape, transactional
    * metadata), then dynamic-partition-overwrite repartitioned by the
    * partition key, which writes exactly one file per touched list.
    * Touched rows only: at scale the rewrite cost is proportional to
    * the data the append actually fragmented, never the whole index. */
  private[graft] def ragCompactTouched(
      s: SparkSession, dir: String, touched: Seq[Int]): Unit = {
    import s.implicits._
    if (touched.isEmpty) return
    withDynamicPartitionOverwrite(s) {
      val rows = s.read.parquet(dir)
        .filter($"list_id".isin(touched: _*))
        .localCheckpoint(true) // materialize before the files vanish
      rows.repartition($"list_id") // each list lands whole in one task
        .write.mode("overwrite").partitionBy("list_id").parquet(dir)
      rows.unpersist()
    }
  }

  /** Deterministic takedown set for [[docRagIndexDelete]] — stands in
    * for the external id list a deletion request delivers. */
  private[graft] val RagTakedownMod = 7
  private[graft] val RagTakedownRes = 3L

  /** DELETE leg completing the index lifecycle: remove a requested
    * document set (GDPR takedown / license revocation — the id list
    * arrives from outside; here a fixed residue class stands in) from
    * the on-disk list-partitioned index WITHOUT a rebuild. Two-step,
    * both bounded by the deleted data, never the index:
    * (1) a membership scan reading ONLY (doc_id, list_id) — the
    * vector column never leaves the parquet scan — finds which lists
    * hold victim chunks; (2) those lists alone are rewritten minus the
    * victims via dynamic partition overwrite (same touched-lists-only
    * rewrite as [[docRagIndexCompact]]; a transactional format would
    * commit delete files instead — same I/O shape). A list whose every
    * chunk is deleted writes no partition under dynamic overwrite, so
    * its directory is removed explicitly — silently keeping stale
    * files is the classic compact-and-delete bug. Untouched lists stay
    * byte-identical. Oracle: full-rebuild-minus-victims parity —
    * [[docRagIndexAppendSql]] filtered by the takedown predicate,
    * because deletion must be indistinguishable from never having
    * indexed the victims. */
  def docRagIndexDelete(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (dir, cents) = ragAppendBase(s, d)
    ragAppendNew(s, d, dir, cents)
    ragDeleteFrom(s, dir)
    s.read.parquet(dir)
      .select($"doc_id", $"chunk_id", $"list_id".cast("long").as("list_id"))
      .orderBy($"doc_id", $"chunk_id")
  }
  /** The delete step itself: membership scan → touched-lists-only
    * rewrite minus the victims → explicit removal of fully-emptied
    * list directories. Returns the touched list ids. Package-private
    * so ScaleSpec can pin the file-level contract around exactly this
    * step. */
  private[graft] def ragDeleteFrom(s: SparkSession, dir: String): Seq[Int] = {
    import s.implicits._
    val takedown = $"doc_id" % RagTakedownMod === RagTakedownRes
    val touched = s.read.parquet(dir).filter(takedown)
      .select($"list_id").distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.nonEmpty) withDynamicPartitionOverwrite(s) {
      // lineage cut before the rewrite deletes the files it reads
      val rows = s.read.parquet(dir)
        .filter($"list_id".isin(touched: _*)).filter(!takedown)
        .localCheckpoint(true)
      val survivors = rows.select($"list_id").distinct()
        .collect().map(_.getInt(0)).toSet
      rows.repartition($"list_id")
        .write.mode("overwrite").partitionBy("list_id").parquet(dir)
      rows.unpersist()
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      touched.filterNot(survivors).foreach { lid =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, s"list_id=$lid"), true)
      }
    }
    touched
  }

  /** Deletion ≡ never indexed: the append oracle minus the victims. */
  lazy val docRagIndexDeleteSql: String =
    s"""SELECT doc_id, chunk_id, list_id FROM (
       |$docRagIndexAppendSql
       |) zdel WHERE doc_id % $RagTakedownMod <> $RagTakedownRes
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** Quantizer ROTATION planning — the op that decides when the
    * frozen day-0 quantizer ([[docRagIndexAppend]]'s model) has
    * drifted enough to justify a blue/green index rebuild. An IVF
    * quantizer is a versioned model: appends assign with v1 forever,
    * so as the corpus distribution moves the lists imbalance and the
    * probe's recall bargain erodes. This computes the v1→v2 MIGRATION
    * MATRIX: fit v2 on the FULL current corpus (the same persisted
    * deterministic fit the full-rebuild ops use — one quantizer
    * definition per tag repo-wide), assign every chunk with BOTH
    * models in ONE map-side projection (two [[IvfKmeans.assignCol]]
    * literals, no shuffle, no second scan), and roll up
    * (from_list, to_list, n_chunks). The diagonal is the stable mass;
    * off-diagonal row sums are exactly the per-list rewrite cost of
    * the migration — what an operator reads before committing a 100 TB
    * index rebuild. Output is k×k-bounded regardless of corpus size;
    * the only corpus-sized work is one scan. */
  def docRagRefit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val baseDocs = documents(s, d)
      .filter($"source".isNull ||
        !$"source".isInCollection(DedupOps.IncrementalBatchSources))
    val cvuBase = unitNorm(s, ragChunkVecsOf(s, baseDocs))
      .withColumn("vec_id", $"doc_id" * RagKeyMul + $"chunk_id")
    val all = ragChunkUnitVecs(s, d)
      .withColumn("vec_id", $"doc_id" * RagKeyMul + $"chunk_id")
    val v1 = IvfKmeans.centroidsFor(s, d, "ragbase",
      cvuBase.select($"vec_id", $"v"), fpTable = "documents")
    val v2 = IvfKmeans.centroidsFor(s, d, "ragchunk",
      all.select($"vec_id", $"v"), fpTable = "documents")
    all.select(
        IvfKmeans.assignCol(v1, $"v").cast("long").as("from_list"),
        IvfKmeans.assignCol(v2, $"v").cast("long").as("to_list"))
      .groupBy($"from_list", $"to_list")
      .agg(count(lit(1)).as("n_chunks"))
      .orderBy($"from_list", $"to_list")
  }
  /** Both fits replayed side by side (suffixed CTE instances of the
    * ONE fit definition), every chunk assigned with each, k×k rollup. */
  lazy val docRagRefitSql: String = {
    val batch = DedupOps.IncrementalBatchSources.map(x => s"'$x'").mkString(", ")
    val R = IvfKmeans.Rounds
    s"""WITH $ragChunkCtesSql,
       |${MlOps.ivfFitCteList(
        s"""  SELECT doc_id * $RagKeyMul + chunk_id AS vec_id, v FROM cvu
           |  WHERE doc_id IN (SELECT doc_id FROM documents
           |                   WHERE source IS NULL OR source NOT IN ($batch))""".stripMargin,
        "_v1")},
       |${MlOps.ivfFitCteList(
        s"  SELECT doc_id * $RagKeyMul + chunk_id AS vec_id, v FROM cvu", "_v2")},
       |a1 AS (
       |${MlOps.ivfAssignSelect(s"c${R}_v1", "", 1, src = "emb_v2")})
       |SELECT CAST(a1.list_id AS BIGINT) AS from_list,
       |  CAST(a2.list_id AS BIGINT) AS to_list,
       |  count(*) AS n_chunks
       |FROM a1 JOIN af_v2 a2 USING (vec_id)
       |GROUP BY 1, 2 ORDER BY from_list, to_list""".stripMargin
  }

  /** Save/restore wrapper for the dynamic partition-overwrite mode the
    * touched-lists rewrites ([[ragCompactTouched]],
    * [[docRagIndexDelete]], [[MlOps.ivfSplitHot]]) flip on. */
  private[graft] def withDynamicPartitionOverwrite[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "dynamic")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Full-rebuild parity: the frozen quantizer is replayed as a fit on
    * the BASE chunks only ([[MlOps.ivfFitCteList]] with a filtered
    * source), then EVERY chunk — base and batch alike — is assigned
    * with it; the appended on-disk index must match row-for-row. */
  lazy val docRagIndexAppendSql: String = {
    val batch = DedupOps.IncrementalBatchSources.map(x => s"'$x'").mkString(", ")
    s"""WITH $ragChunkCtesSql,
       |${MlOps.ivfFitCteList(
        s"""  SELECT doc_id * $RagKeyMul + chunk_id AS vec_id, v FROM cvu
           |  WHERE doc_id IN (SELECT doc_id FROM documents
           |                   WHERE source IS NULL OR source NOT IN ($batch))""".stripMargin)},
       |emball AS (
       |  SELECT doc_id * $RagKeyMul + chunk_id AS vec_id, v FROM cvu),
       |asg AS (
       |${MlOps.ivfAssignSelect(s"c${IvfKmeans.Rounds}", "", 1, src = "emball")})
       |SELECT CAST(vec_id // $RagKeyMul AS BIGINT) AS doc_id,
       |  CAST(vec_id % $RagKeyMul AS BIGINT) AS chunk_id,
       |  CAST(list_id AS BIGINT) AS list_id
       |FROM asg ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Streaming retrieval SERVE — the last leg of the index lifecycle
    * after [[docRagIndex]] (build) and [[docRagIndexAppend]]
    * (maintain): queries arrive as a STREAM and are answered against
    * the STATIC on-disk list-partitioned index with the frozen
    * quantizer. The streaming plan embeds each arriving query
    * map-side (the SAME chunk embedder as the index, via
    * [[ragChunkVecsOf]]/[[unitNorm]] — stateless, so the stream needs
    * no watermark or shuffle); each micro-batch then runs
    * [[ragProbeRetrieve]] exactly as the batch op does: probe lists
    * resolved driver-side (queries × [[RagProbeLists]] rows), index
    * read partition-pruned to the probed `list_id=` directories, exact
    * cosine, top-[[RagTopK]] — and lands the answers as a parquet
    * serve log, one directory per batch id ([[graft.Streams.land]]).
    *
    * A per-batch probe rather than a stream-static join on `list_id`:
    * micro-batch plans don't get AQE, so the join would shuffle the
    * CORPUS-sized index once per batch to meet ~20 probe rows — while
    * the per-batch probed read touches [[RagProbeLists]]/16ths of the
    * index files and nothing else, the same I/O bound ScaleSpec pins
    * for [[docRagIndex]]. This is the standard production shape:
    * stream drives, model is a frozen driver-side artifact, storage is
    * partition-pruned per request batch.
    *
    * Oracle: batch parity — the serve log for the streamed query set
    * must equal [[docRagE2e]]'s answer rows exactly. */
  def docRagStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (dir, cdf) = ragBuildIndex(s, d)
    // Layout-adaptive streaming source (graft.Tables.streamTable,
    // round-16 advice): single-file and directory-of-part-files
    // layouts both stream; the old leaf-name glob matched zero part
    // files in the directory layout and served nothing.
    val qstream = graft.Tables.streamTable(s, d, "documents")
      .filter($"doc_id" < RagQueryMaxDocId) // prune before chunk+embed
    val qv = unitNorm(s, ragChunkVecsOf(s, qstream))
      .filter(ragQueryPred) // the ONE query-set definition (ragQueryVecs)
      .select($"doc_id".as("vec_id"), $"v")
    Streams.land(s, "doc_rag_stream", d, qv, Sizing.tableParts(s, d, "documents"))(
        ragProbeRetrieve(s, _, dir, cdf))
      .orderBy($"qid", $"rank")
  }
  /** Batch parity: the streamed serve path must produce exactly the
    * batch retrieval's rows. */
  lazy val docRagStreamSql: String = docRagE2eSql

  /** RRF rank constant (Cormack & Clarke 2009's k=60, the standard
    * choice) and the integer scale that keeps fusion float-free:
    * each leg contributes ⌊10⁶ / (60 + rank)⌋ — exact int64 on both
    * engines, monotone in rank, and granular enough that distinct
    * rank combinations never collide at these depths. */
  private[graft] val RrfK = 60L
  private[graft] val RrfScale = 1000000L

  /** Chunk token lists (doc_id, chunk_id, cw) — [[docChunk]]'s split
    * without the digest projection, shared with [[docRagHybrid]]'s
    * lexical leg so the hybrid retrieves over the exact chunks the
    * vector index stores. */
  private def chunkWords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .filter($"text".isNotNull)
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", $"ws",
        explode(expr(s"sequence(0L, (size(ws) - 1) div $ChunkTokens)")).as("chunk_id"))
      .select($"doc_id", $"chunk_id",
        expr(s"slice(ws, chunk_id * $ChunkTokens + 1, $ChunkTokens)").as("cw"))
  }

  /** HYBRID retrieval — reciprocal-rank fusion of the vector leg
    * ([[docRagE2e]]'s probed IVF retrieval, verbatim) with a LEXICAL
    * leg (query-token term-frequency overlap), the standard production
    * RAG shape: dense retrieval alone misses exact-term matches (IDs,
    * names, code), lexical alone misses paraphrase — RRF fuses the two
    * rank lists without score calibration (Cormack & Clarke 2009).
    *
    * Lexical leg: each query's DISTINCT first-chunk tokens join the
    * exploded chunk-token table; score = Σ tf of matched query terms
    * (pure integer — no IDF log, so the fusion stays float-free and
    * hash-checkable); top-[[RagTopK]] per query, own-doc excluded like
    * the vector leg. At scale the query token set is tiny by
    * construction, so AQE broadcasts it and the scan stays
    * corpus-linear — the same inverted-index discipline as the dedup
    * family (a production deployment would additionally DF-cap
    * stopword-grade terms; the tf-overlap here already bounds output
    * at |queries|·|chunks| candidate rows pre-top-k).
    *
    * Fusion: each leg contributes ⌊[[RrfScale]]/([[RrfK]]+rank)⌋, a
    * missing leg contributes 0; final rank orders by fused score
    * descending, ties to the lower (doc_id, chunk_id). Output is
    * integer-only. */
  /** The shared LEXICAL retrieval leg — query-token tf overlap,
    * top-[[RagTopK]] per query, own-doc excluded. ONE definition used
    * by [[docRagHybrid]]'s fusion and [[docRagPrf]]'s feedback pass
    * (its own scaladocs say "the hybrid leg verbatim" — sharing the
    * code makes that structural, not a hand-kept copy). Returns
    * (query tokens, chunk tokens, lexical top-k). */
  private def ragLexTopK(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cw = chunkWords(s, d)
    val qtok = cw.filter(ragQueryPred)
      .select($"doc_id".as("qid"), explode(array_distinct($"cw")).as("t"))
    val ctok = cw.select($"doc_id", $"chunk_id", explode($"cw").as("t"))
    val lexscore = ctok.join(qtok, "t") // query side tiny → AQE broadcast
      .filter($"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id", $"chunk_id")
      .agg(count(lit(1)).as("tf"))
    val wl = Window.partitionBy($"qid").orderBy($"tf".desc, $"doc_id", $"chunk_id")
    val lex = lexscore
      .withColumn("lrank", row_number().over(wl).cast("long"))
      .filter($"lrank" <= RagTopK)
      .select($"qid", $"doc_id", $"chunk_id", $"lrank")
    (qtok, ctok, lex)
  }

  def docRagHybrid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val vres = docRagE2e(s, d)
      .select($"qid", $"doc_id", $"chunk_id", $"rank".as("vrank"))
    val (_, _, lres) = ragLexTopK(s, d)
    val fused = vres.join(lres, Seq("qid", "doc_id", "chunk_id"), "full_outer")
      .select($"qid", $"doc_id", $"chunk_id",
        (coalesce(expr(s"${RrfScale}L div (${RrfK}L + vrank)"), lit(0L)) +
          coalesce(expr(s"${RrfScale}L div (${RrfK}L + lrank)"), lit(0L))).as("rrf"))
    val wf = Window.partitionBy($"qid").orderBy($"rrf".desc, $"doc_id", $"chunk_id")
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter($"rank" <= RagTopK)
      .select($"qid", $"rank", $"doc_id", $"chunk_id", $"rrf")
      .orderBy($"qid", $"rank")
  }

  /** The hybrid CTE chain appended after [[ragCtesSql]]: lexical leg
    * over the same `cch` chunk tokens the embedder derives from, RRF
    * fusion against `ragres`, ending in `hybres` (the fused top-K) —
    * shared by [[docRagHybridSql]] and [[docRagHybridRecallSql]]. */
  /** The shared lexical-leg replay (`qtok`/`ctok`/`lex`) — ONE
    * definition feeding both the hybrid fusion and the PRF feedback
    * CTEs, mirroring [[ragLexTopK]]. */
  private lazy val ragLexCtesSql: String =
    s"""qtok AS (
       |  SELECT doc_id AS qid, unnest(list_distinct(cw)) AS t
       |  FROM cch WHERE doc_id < $RagQueryMaxDocId AND chunk_id = 0),
       |ctok AS (SELECT doc_id, chunk_id, unnest(cw) AS t FROM cch),
       |lexscore AS (
       |  SELECT q.qid, c.doc_id, CAST(c.chunk_id AS BIGINT) AS chunk_id,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM ctok c JOIN qtok q ON q.t = c.t
       |  WHERE c.doc_id <> q.qid
       |  GROUP BY 1, 2, 3),
       |lex AS (
       |  SELECT qid, doc_id, chunk_id, lrank FROM (
       |    SELECT qid, doc_id, chunk_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY tf DESC, doc_id, chunk_id) AS lrank
       |    FROM lexscore) z
       |  WHERE lrank <= $RagTopK)""".stripMargin
  private lazy val ragHybridCtesSql: String =
    s"""$ragLexCtesSql,
       |fused AS (
       |  SELECT COALESCE(v.qid, l.qid) AS qid,
       |    COALESCE(v.doc_id, l.doc_id) AS doc_id,
       |    COALESCE(v.chunk_id, l.chunk_id) AS chunk_id,
       |    CAST(COALESCE($RrfScale // ($RrfK + v.rank), 0)
       |       + COALESCE($RrfScale // ($RrfK + l.lrank), 0) AS BIGINT) AS rrf
       |  FROM ragres v FULL OUTER JOIN lex l
       |    ON v.qid = l.qid AND v.doc_id = l.doc_id AND v.chunk_id = l.chunk_id),
       |hybres AS (
       |  SELECT qid, rank, doc_id, chunk_id, rrf FROM (
       |    SELECT qid, doc_id, chunk_id, rrf,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY rrf DESC, doc_id, chunk_id) AS rank
       |    FROM fused) z
       |  WHERE rank <= $RagTopK)""".stripMargin

  /** Both legs replayed: `ragres` is [[docRagE2eSql]]'s retrieval CTE
    * chain verbatim (shared via [[ragCtesSql]]); the lexical leg reads
    * the same `cch` chunk-token CTE the embedder derives from. */
  lazy val docRagHybridSql: String =
    s"""$ragCtesSql,
       |$ragHybridCtesSql
       |SELECT qid, rank, doc_id, chunk_id, rrf FROM hybres
       |ORDER BY qid, rank""".stripMargin

  /** Expansion terms added per query by [[docRagPrf]]. */
  private[operators] val PrfExpand = 3L

  /** Pseudo-relevance-feedback retrieval (Rocchio-style query
    * expansion) — the classic two-pass IR move a serve stack runs when
    * queries are short: retrieve lexically, mine the top chunks for
    * the terms that characterize them, re-retrieve with the expanded
    * query. Pass 1 = the hybrid op's lexical leg verbatim (tf overlap,
    * top-[[RagTopK]], own-doc excluded). Expansion = the
    * [[PrfExpand]] most frequent NOVEL terms across each query's
    * feedback chunks (ties to the lexicographically lower term —
    * deterministic, no IDF float). Pass 2 re-scores every chunk with
    * original terms at weight 2, expansion terms at weight 1 (the
    * Rocchio α>β shape in exact integers). Shape: three
    * inverted-index equi-joins against the eval-sized query term set
    * (AQE broadcasts each), windows partitioned by qid — corpus-linear
    * at any scale, same discipline as [[docRagHybrid]]'s lexical
    * leg. */
  def docRagPrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (qtok, ctok, lex) = ragLexTopK(s, d) // pass 1 = the shared leg
    val fb = lex.select($"qid", $"doc_id", $"chunk_id")
    val exp = fb.join(ctok, Seq("doc_id", "chunk_id"))
      .groupBy($"qid", $"t").agg(count(lit(1)).as("ftf"))
      .join(qtok, Seq("qid", "t"), "left_anti") // novel terms only
      .withColumn("er", row_number().over(
        Window.partitionBy($"qid").orderBy($"ftf".desc, $"t")))
      .filter($"er" <= PrfExpand)
      .select($"qid", $"t")
    val terms = qtok.select($"qid", $"t", lit(2L).as("w"))
      .unionAll(exp.select($"qid", $"t", lit(1L).as("w")))
    val s3 = ctok.join(terms, Seq("t")).filter($"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id", $"chunk_id").agg(sum($"w").as("score"))
    val wf = Window.partitionBy($"qid").orderBy($"score".desc, $"doc_id", $"chunk_id")
    s3.withColumn("rank", row_number().over(wf).cast("long"))
      .filter($"rank" <= RagTopK)
      .select($"qid", $"rank", $"doc_id", $"chunk_id", $"score")
      .orderBy($"qid", $"rank")
  }
  /** The PRF replay up to CTE `prfres` — shared by the op oracle and
    * the recall oracle. */
  private lazy val ragPrfCtesSql: String =
    s"""$ragLexCtesSql,
       |pexpc AS (
       |  SELECT f.qid, c.t, CAST(count(*) AS BIGINT) AS ftf
       |  FROM lex f JOIN ctok c
       |    ON c.doc_id = f.doc_id AND CAST(c.chunk_id AS BIGINT) = f.chunk_id
       |  GROUP BY 1, 2),
       |pexp AS (
       |  SELECT qid, t FROM (
       |    SELECT e.qid, e.t, row_number() OVER (PARTITION BY e.qid
       |      ORDER BY e.ftf DESC, e.t) AS er
       |    FROM pexpc e
       |    WHERE NOT EXISTS (SELECT 1 FROM qtok q
       |                      WHERE q.qid = e.qid AND q.t = e.t)) z
       |  WHERE er <= $PrfExpand),
       |pterms AS (
       |  SELECT qid, t, CAST(2 AS BIGINT) AS w FROM qtok
       |  UNION ALL SELECT qid, t, CAST(1 AS BIGINT) AS w FROM pexp),
       |ps3 AS (
       |  SELECT tm.qid, c.doc_id, CAST(c.chunk_id AS BIGINT) AS chunk_id,
       |    CAST(sum(tm.w) AS BIGINT) AS score
       |  FROM ctok c JOIN pterms tm ON tm.t = c.t
       |  WHERE c.doc_id <> tm.qid GROUP BY 1, 2, 3),
       |prfres AS (
       |  SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, chunk_id, score FROM (
       |    SELECT qid, doc_id, chunk_id, score, row_number() OVER (
       |      PARTITION BY qid ORDER BY score DESC, doc_id, chunk_id) AS rank
       |    FROM ps3) z
       |  WHERE rank <= $RagTopK)""".stripMargin
  lazy val docRagPrfSql: String =
    s"""$ragCtesSql,
       |$ragPrfCtesSql
       |SELECT qid, rank, doc_id, chunk_id, score FROM prfres
       |ORDER BY qid, rank""".stripMargin

  /** Retrieval-quality evaluation for [[docRagE2e]] — recall@
    * [[RagTopK]] of the IVF-probed retrieval against the BRUTE-FORCE
    * chunk ground truth, per query, in integer ppm: the measurement
    * that justifies (or vetoes) the [[RagProbeLists]]-of-16-lists probe before a
    * 100 TB rollout, exactly as [[MlOps.simAnnRecall]] gates the LSH
    * index. The brute side scores every chunk per query (labeled
    * baseline — queries are eval-sized by construction, so cost is
    * |queries|·|chunks|, corpus-linear); the probed side IS
    * [[docRagE2e]] reused verbatim on both engines (the Spark
    * function; `ragres` in the oracle), so the metric can never drift
    * from what the pipeline actually retrieves. */
  def docRagRecall(s: SparkSession, d: String): DataFrame = {
    // one chunk embedding feeds both the serve it scores and the truth
    val (cvu, scored) = ragProbedScored(s, d)
    val rollup = ragRecallOf(s, d, ragTopKOf(scored), chunksOpt = Some(cvu))
    graft.Tables.materializeAndRelease(rollup, cvu)
  }

  /** Recall@[[RagTopK]] of the HYBRID retrieval ([[docRagHybrid]])
    * against the same brute-force chunk ground truth — the rollout
    * meter completing the hybrid path exactly as [[docRagRecall]]
    * gates the pure-vector probe: fusion must be justified by the
    * measurement, not assumed (a lexical leg can DILUTE dense recall
    * on paraphrase-heavy corpora — this is the meter that would catch
    * it before a 100 TB rollout). */
  def docRagHybridRecall(s: SparkSession, d: String): DataFrame =
    ragRecallOf(s, d, docRagHybrid(s, d))

  /** The recall harness shared by every retrieval variant: brute-force
    * exact-cosine chunk truth per query (queries are eval-sized, so
    * the cross is corpus-linear), left-join the candidate's top-K,
    * integer-ppm rollup. */
  private def ragRecallOf(
      s: SparkSession, d: String, retrieved: DataFrame,
      truthChunks: DataFrame => DataFrame = identity,
      chunksOpt: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rag = retrieved
      .select($"qid", $"doc_id", $"chunk_id").withColumn("hit", lit(1L))
    // chunksOpt lets a caller that already holds the (cached) unit
    // chunk frame share it with the truth pass — without it the meter
    // pays the corpus embedding twice (once in the serve it scores,
    // once here). Query vectors derive from the same frame
    // (ragQueryVecs IS this filter+projection).
    val chunks = chunksOpt.getOrElse(ragChunkUnitVecs(s, d))
    val q = chunks.filter(ragQueryPred)
      .select($"doc_id".as("qid"), $"v".as("qv"))
    // brute ground truth: all chunks scored per query — unhinted cross
    // (the query side is data-derived; AQE broadcasts it on size).
    // truthChunks narrows the truth universe for predicate-scoped
    // variants (docRagFilteredRecall); it must preserve
    // (doc_id, chunk_id, v).
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"doc_id", $"chunk_id")
    val truth = truthChunks(chunks).crossJoin(q)
      .filter($"doc_id" =!= $"qid") // same own-doc exclusion as the pipeline
      .select($"qid", $"doc_id", $"chunk_id",
        GraftFunctions.column("cosine_sim", $"qv", $"v").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= RagTopK)
      .select($"qid", $"doc_id", $"chunk_id")
    truth.join(rag, Seq("qid", "doc_id", "chunk_id"), "left")
      .groupBy($"qid")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .select($"qid", $"n_true", $"n_hit",
        expr("(1000000L * n_hit) div n_true").as("recall_ppm"))
      .orderBy($"qid")
  }

  /** Recall rollup against result CTE `res`, with `extraCtes` appended
    * to the shared retrieval chain — parameterized so every retrieval
    * variant's recall oracle is ONE definition. */
  private def ragRecallSqlAgainst(res: String, extraCtes: String): String =
    s"""$ragCtesSql${if (extraCtes.isEmpty) "" else ",\n" + extraCtes},
       |truth AS (
       |  SELECT qid, doc_id, chunk_id FROM (
       |    SELECT q.vec_id AS qid, cvu.doc_id, cvu.chunk_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, cvu.v) DESC,
       |                 cvu.doc_id, cvu.chunk_id) AS rank
       |    FROM qemb q CROSS JOIN cvu
       |    WHERE cvu.doc_id <> q.vec_id) z
       |  WHERE rank <= $RagTopK)
       |SELECT t.qid, count(*) AS n_true,
       |  CAST(sum(CASE WHEN r.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((1000000 * sum(CASE WHEN r.qid IS NOT NULL THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS recall_ppm
       |FROM truth t LEFT JOIN $res r
       |  ON r.qid = t.qid AND r.doc_id = t.doc_id AND r.chunk_id = t.chunk_id
       |GROUP BY t.qid ORDER BY t.qid""".stripMargin

  lazy val docRagRecallSql: String = ragRecallSqlAgainst("ragres", "")
  lazy val docRagHybridRecallSql: String =
    ragRecallSqlAgainst("hybres", ragHybridCtesSql)

  /** Recall@[[RagTopK]] of the PRF retrieval against the same brute
    * chunk truth — expansion must EARN its second pass on the meter,
    * same contract as every retrieval variant here. */
  def docRagPrfRecall(s: SparkSession, d: String): DataFrame =
    ragRecallOf(s, d, docRagPrf(s, d))
  lazy val docRagPrfRecallSql: String =
    ragRecallSqlAgainst("prfres", ragPrfCtesSql)

  /** CURRICULUM feed order — the easy→hard schedule (Bengio et al.
    * 2009) over [[TextOps.textPplBucket]]'s per-source fluency
    * tertiles: all `head` (most fluent / easiest) documents first,
    * then `middle`, then `tail`, with a fair per-source round-robin
    * interleave inside each bucket so no bucket phase is dominated by
    * one domain. Consumes the REGISTERED ppl-bucket op on both engines
    * (its oracle nests verbatim), so the difficulty signal cannot
    * drift from the meter that audits it. Positions come from
    * [[graft.store.Dict.denseIndex]] (range-sort + zipWithIndex, never
    * a partitionless window); the bucket → rank arithmetic is
    * catalog-free integer work on the scored corpus, one pass.
    * Documents too short to carry a bigram score (< 2 tokens) are
    * outside the schedule, matching the ppl op's domain. */
  def docCurriculum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pb = TextOps.textPplBucket(s, d)
    val base = pb
      .withColumn("bseq",
        when($"bucket" === "head", 1L)
          .when($"bucket" === "middle", 2L).otherwise(3L))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source", $"bucket").orderBy($"doc_id")).cast("long"))
    graft.store.Dict
      .denseIndex(base, Seq("bseq", "rn", "source", "doc_id"), "position", 1L)
      .select($"position", $"bucket", $"source", $"doc_id", $"ppl_milli")
      .orderBy($"position")
  }
  lazy val docCurriculumSql: String =
    s"""WITH pb AS (SELECT * FROM (
       |${TextOps.textPplBucketSql}
       |) zpb),
       |cur AS (
       |  SELECT doc_id, source, ppl_milli, bucket,
       |    CASE bucket WHEN 'head' THEN 1 WHEN 'middle' THEN 2 ELSE 3 END AS bseq,
       |    row_number() OVER (PARTITION BY source, bucket ORDER BY doc_id) AS rn
       |  FROM pb)
       |SELECT CAST(row_number() OVER (ORDER BY bseq, rn, source, doc_id)
       |    AS BIGINT) AS position,
       |  bucket, source, doc_id, ppl_milli
       |FROM cur ORDER BY position""".stripMargin

  /** The metadata predicate [[docRagFiltered]] serves under — lang
    * equality, the commonest filterable attribute a multilingual
    * corpus carries. */
  private[graft] val RagFilterLang = "en"

  /** FILTERED vector search — retrieval under a metadata predicate
    * (`lang = '[[RagFilterLang]]'`), the production pattern every
    * vector store grows next ("answer from English passages only"):
    * ONE shared index (the same frozen chunk quantizer — filters
    * change per query, indexes don't), with the predicate applied
    * PRE-ranking inside the probed lists, never post-cutting the
    * top-K (post-filtering a K-deep shortlist returns < K rows the
    * moment the filter bites — the classic filtered-ANN bug). The
    * filterable attribute is attached at index-build time (one doc_id
    * equi-join before assignment — at 100 TB the lang column is
    * WRITTEN INTO the list partitions exactly like the vectors, so
    * serve-time filtering is a scan predicate on the probed
    * partitions, zero extra joins). Ranking contract mirrors
    * [[docRagE2e]]: top-[[RagTopK]] per query, ties to lower
    * (doc_id, chunk_id). */
  def docRagFiltered(s: SparkSession, d: String): DataFrame = {
    val (out, cvu) = ragFilteredLazy(s, d)
    graft.Tables.materializeAndRelease(out, cvu)
  }

  /** [[docRagFiltered]]'s lazy plan, exposed for ScaleSpec's pins
    * (pushed lang predicate, pre-window filtering) — returns
    * (result, the cached chunk frame the caller must unpersist).
    * The retrieval chain IS [[ragProbedScored]] (the docRagE2e/MMR
    * contract), with the lang payload attached and filtered on the
    * index side. */
  private[graft] def ragFilteredLazy(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val langs = documents(s, d).select($"doc_id", $"lang")
    val (cvu, scored) = ragProbedScored(s, d, assignedTransform = a =>
      a.join(langs, "doc_id").filter($"lang" === RagFilterLang))
    val w = Window.partitionBy($"qid")
      .orderBy($"cos".desc, $"doc_id", $"chunk_id")
    val out = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= RagTopK)
      .select($"qid", $"rank", $"doc_id", $"chunk_id")
      .orderBy($"qid", $"rank")
    (out, cvu)
  }
  /** The filtered result as oracle CTEs over the shared retrieval
    * chain: `scored` carries every probed candidate's cosine, so the
    * pre-filter ranking is the rank among lang-matching candidates. */
  private lazy val ragFilteredCtesSql: String =
    s"""fres AS (
       |  SELECT qid, rank, doc_id, chunk_id FROM (
       |    SELECT s.qid, s.doc_id, s.chunk_id,
       |      CAST(row_number() OVER (PARTITION BY s.qid
       |        ORDER BY s.cos DESC, s.doc_id, s.chunk_id) AS BIGINT) AS rank
       |    FROM scored s JOIN documents dd ON dd.doc_id = s.doc_id
       |    WHERE dd.lang = '$RagFilterLang') z
       |  WHERE rank <= $RagTopK)""".stripMargin
  lazy val docRagFilteredSql: String =
    s"""$ragCtesSql,
       |$ragFilteredCtesSql
       |SELECT qid, rank, doc_id, chunk_id FROM fres ORDER BY qid, rank""".stripMargin

  /** Recall@[[RagTopK]] of [[docRagFiltered]] against the EXACT
    * filtered truth (brute cosine over lang-matching chunks only) —
    * the meter for the known filtered-ANN failure mode: a selective
    * predicate decimates the probed lists until the true filtered
    * neighbors live in lists the probe never opens, and the fix
    * (raise nprobe when filtering — [[MlOps.simAnnProbeSweep]] is the
    * dial) must be justified by this measurement. */
  def docRagFilteredRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val langs = documents(s, d).select($"doc_id", $"lang")
    val (out, cvu) = ragFilteredLazy(s, d)
    val rollup = ragRecallOf(s, d, out,
      truthChunks = cv => cv.join(langs, "doc_id")
        .filter($"lang" === RagFilterLang)
        .select($"doc_id", $"chunk_id", $"v"),
      chunksOpt = Some(cvu))
    graft.Tables.materializeAndRelease(rollup, cvu)
  }
  lazy val docRagFilteredRecallSql: String =
    s"""$ragCtesSql,
       |$ragFilteredCtesSql,
       |truth AS (
       |  SELECT qid, doc_id, chunk_id FROM (
       |    SELECT q.vec_id AS qid, cvu.doc_id, cvu.chunk_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, cvu.v) DESC,
       |                 cvu.doc_id, cvu.chunk_id) AS rank
       |    FROM qemb q CROSS JOIN cvu
       |    JOIN documents dd ON dd.doc_id = cvu.doc_id
       |    WHERE cvu.doc_id <> q.vec_id AND dd.lang = '$RagFilterLang') z
       |  WHERE rank <= $RagTopK)
       |SELECT t.qid, count(*) AS n_true,
       |  CAST(sum(CASE WHEN r.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((1000000 * sum(CASE WHEN r.qid IS NOT NULL THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS recall_ppm
       |FROM truth t LEFT JOIN fres r
       |  ON r.qid = t.qid AND r.doc_id = t.doc_id AND r.chunk_id = t.chunk_id
       |GROUP BY t.qid ORDER BY t.qid""".stripMargin

  /** Candidate pool depth for [[docRagMmr]] — the rerank works on the
    * probed top-[[RagMmrPool]], so the diversity pass costs
    * queries × pool² similarity evaluations regardless of corpus
    * size. */
  private[operators] val RagMmrPool = 8L

  /** MMR diversity rerank (Carbonell & Goldstein 1998) — the serve-side
    * pass a production RAG stack runs when the probed top-K collapses
    * onto near-duplicate chunks: a context window of three copies of
    * the same boilerplate wastes two slots. Maximal Marginal Relevance
    * re-picks the top-[[RagTopK]] from the probed top-[[RagMmrPool]]
    * pool greedily, each round taking the candidate maximizing
    * λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s) at λ = 1/2 —
    * equivalently cos(q,d) − max cos(d,s), which keeps the objective a
    * plain difference of the two exact cosines both engines already
    * agree on (no new float shapes cross the oracle). Ties go to the
    * lower (doc_id, chunk_id), rounds are unrolled ([[RagTopK]] is a
    * compile-time constant), and the first pick is the pure-relevance
    * argmax, so MMR@1 always equals the base retrieval@1.
    *
    * Shape at 100 TB: the pool is the probed retrieval's top-8 per
    * query — eval-sized by construction — so every selection round is
    * arithmetic on queries × 8 rows; the corpus is only touched by the
    * shared probe ([[ragProbedScored]], the same 4-of-16-list scan as
    * [[docRagE2e]]). The pairwise redundancy term never leaves the
    * pool, which is what makes diversity affordable at scale. */
  def docRagMmr(s: SparkSession, d: String): DataFrame = {
    val (cvu, scored) = ragProbedScored(s, d)
    graft.Tables.materializeAndRelease(mmrSelLazy(s, scored), cvu)
  }

  /** The greedy MMR selection over a probed-scored candidate frame as
    * a LAZY plan. Shared by [[docRagMmr]] and [[docRagMmrRecall]], so
    * the meter scores the exact serve plan without re-embedding the
    * corpus for a second pass.
    *
    * The pool is queries × [[RagMmrPool]] rows BY CONSTRUCTION, so the
    * greedy rounds run as ONE map-side projection over a per-query
    * candidate ARRAY (collected right off the prank window — the
    * groupBy reuses the window's qid partitioning, no second
    * exchange) instead of the former per-round anti-join + penalty
    * join + aggregate + rank-window chain, which cost ~4 exchanges
    * per unrolled round on an eval-sized frame (guide §2.4: remove
    * shuffles outright; the per-element work is the SAME cos/max
    * arithmetic, just inside array lambdas). Selection rule is
    * unchanged: round 1 takes the pure-relevance argmax (prank 1),
    * each later round takes the candidate maximizing
    * cos(q,c) − max_{s∈sel} cos(c,s), ties to the lower
    * (doc_id, chunk_id) — the exact row_number() tie order the joined
    * formulation used, replayed by the same fold both engines agree
    * on via the oracle. */
  private def mmrSelLazy(s: SparkSession, scored: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy($"qid").orderBy($"cos".desc, $"doc_id", $"chunk_id")
    // cands sorts by leading prank field, so cands[0] is the
    // relevance argmax with the window's own tie order
    var df = scored.withColumn("prank", row_number().over(wp))
      .filter($"prank" <= RagMmrPool)
      .groupBy($"qid")
      .agg(array_sort(collect_list(
        struct($"prank", $"doc_id", $"chunk_id", $"cos", $"v"))).as("cands"))
      .withColumn("sel", expr(
        """array(named_struct(
          |  'doc_id', cands[0].doc_id, 'chunk_id', cands[0].chunk_id,
          |  'v', cands[0].v))""".stripMargin))
    for (_ <- 2 to RagTopK.toInt) {
      // pick = argmax over the not-yet-selected candidates of
      // (mmr DESC, doc_id, chunk_id): a left fold with the exact
      // comparison chain row_number() ordered by — on ≤ RagMmrPool
      // elements. NULL pick (pool exhausted) appends nothing, the
      // empty-cand behaviour of the join formulation.
      val open = filter($"cands", c => !exists($"sel",
        t => t("doc_id") === c("doc_id") && t("chunk_id") === c("chunk_id")))
      val mmr = transform(open, c => named_struct(
        lit("mmr"), c("cos") - array_max(transform($"sel",
          t => GraftFunctions.column("cosine_sim", c("v"), t("v")))),
        lit("doc_id"), c("doc_id"), lit("chunk_id"), c("chunk_id"), lit("v"), c("v")))
      df = df.withColumn("pick", aggregate(mmr,
        lit(null).cast("STRUCT<mmr: DOUBLE, doc_id: BIGINT, chunk_id: BIGINT, v: ARRAY<DOUBLE>>"),
        (b, c) => when(b.isNull, c)
          .when(c("mmr") > b("mmr"), c).when(c("mmr") < b("mmr"), b)
          .when(c("doc_id") < b("doc_id"), c).when(c("doc_id") > b("doc_id"), b)
          .when(c("chunk_id") < b("chunk_id"), c).otherwise(b)))
        .withColumn("sel", expr(
          """CASE WHEN pick IS NULL THEN sel ELSE concat(sel, array(named_struct(
            |  'doc_id', pick.doc_id, 'chunk_id', pick.chunk_id, 'v', pick.v))) END""".stripMargin))
        .drop("pick")
    }
    df.select($"qid", posexplode($"sel").as(Seq("idx", "c")))
      .select($"qid", ($"idx" + 1).cast("long").as("rank"),
        $"c.doc_id".as("doc_id"), $"c.chunk_id".as("chunk_id"))
      .orderBy($"qid", $"rank")
  }
  /** The MMR CTE chain appended after [[ragCtesSql]]: probed pool cut,
    * vector join-back, and the unrolled greedy selection rounds,
    * ending in `mmrres` — shared by [[docRagMmrSql]] and
    * [[docRagMmrRecallSql]]. */
  private lazy val ragMmrCtesSql: String = {
    val rounds = (2 to RagTopK.toInt).map { r =>
      s"""mr$r AS (
         |  SELECT c.qid, c.doc_id, c.chunk_id, c.cos, c.v,
         |    c.cos - max(list_cosine_similarity(c.v, s.v)) AS mmr
         |  FROM mpv c JOIN mall${r - 1} s ON s.qid = c.qid
         |  WHERE NOT EXISTS (SELECT 1 FROM mall${r - 1} s2
         |    WHERE s2.qid = c.qid AND s2.doc_id = c.doc_id
         |      AND s2.chunk_id = c.chunk_id)
         |  GROUP BY c.qid, c.doc_id, c.chunk_id, c.cos, c.v),
         |msel$r AS (
         |  SELECT qid, doc_id, chunk_id, cos, v, CAST($r AS BIGINT) AS rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY mmr DESC, doc_id, chunk_id) AS rn FROM mr$r) z
         |  WHERE rn = 1),
         |mall$r AS (SELECT * FROM mall${r - 1} UNION ALL SELECT * FROM msel$r)""".stripMargin
    }.mkString(",\n")
    s"""mpool AS (
       |  SELECT qid, doc_id, chunk_id, cos FROM (
       |    SELECT qid, doc_id, chunk_id, cos,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY cos DESC, doc_id, chunk_id) AS prank
       |    FROM scored) z
       |  WHERE prank <= $RagMmrPool),
       |mpv AS (
       |  SELECT p.qid, p.doc_id, p.chunk_id, p.cos, e.v
       |  FROM mpool p JOIN emb e
       |    ON e.vec_id = p.doc_id * $RagKeyMul + p.chunk_id),
       |msel1 AS (
       |  SELECT qid, doc_id, chunk_id, cos, v, CAST(1 AS BIGINT) AS rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, doc_id, chunk_id) AS rn FROM mpv) z
       |  WHERE rn = 1),
       |mall1 AS (SELECT * FROM msel1),
       |$rounds,
       |mmrres AS (SELECT qid, rank, doc_id, chunk_id FROM mall${RagTopK.toInt})""".stripMargin
  }
  lazy val docRagMmrSql: String =
    s"""$ragCtesSql,
       |$ragMmrCtesSql
       |SELECT qid, rank, doc_id, chunk_id FROM mmrres
       |ORDER BY qid, rank""".stripMargin

  /** Recall@[[RagTopK]] of the MMR-reranked retrieval against the same
    * brute chunk truth — the diversity-vs-recall meter: MMR trades
    * redundancy for coverage, and this row is what says whether the
    * trade lost ground-truth hits on THIS corpus before a rollout
    * flips the serve path (the same veto-meter contract as
    * [[docRagHybridRecall]]). */
  def docRagMmrRecall(s: SparkSession, d: String): DataFrame = {
    // one chunk embedding feeds the MMR serve AND the truth pass
    val (cvu, scored) = ragProbedScored(s, d)
    val rollup = ragRecallOf(s, d, mmrSelLazy(s, scored), chunksOpt = Some(cvu))
    graft.Tables.materializeAndRelease(rollup, cvu)
  }
  lazy val docRagMmrRecallSql: String =
    ragRecallSqlAgainst("mmrres", ragMmrCtesSql)

  // ──────────────────── learned curation (NB / DSIR) ────────────────────

  /** Scale of the integer log-odds surrogate: one unit = 1e-6 nats
    * (the repo's parts-per-million convention). */
  private val NbScale = 1000000L
  /** Held-out fold — doc_id % mod == 0 is never trained on, so
    * [[docQualityNbEval]] measures generalization, not memorization. */
  private[operators] val NbHoldoutMod = 5L

  /** Integer Padé(1,1) surrogate of `Scale·ln(a/b)` for positive int64
    * a, b: `sgn(a−b) · (Scale·|a−b|) div (a+b)` — i.e. Scale·2x/(2+x)
    * at x = (a−b)/b-ish; monotone in the odds ratio a/b, symmetric
    * (w(b,a) = −w(a,b)), saturating at ±Scale, and EXACT int64
    * arithmetic end to end. This is the same move as docTfidfTopk's
    * `tf·1e6 div df`: a float `ln()` is not bit-identical across
    * engines (libm vs JVM, see FLOATS.md), so the log shape is traded
    * for a rational approximant both engines compute identically.
    * The |a−b| detour exists because integer division semantics
    * differ on NEGATIVE operands (Spark `div` truncates toward zero,
    * DuckDB `//` floors) — dividing only non-negative values makes
    * the two agree exactly.
    *
    * The weight products grow QUADRATICALLY with corpus size (max
    * count × total count), so the arithmetic runs in 128-bit integer
    * space on BOTH engines rather than int64: callers lift the `a`/`b`
    * operand products to DECIMAL(38,0) on the Spark side (decimal
    * multiply and `div` are exact — verified against BigInt) and
    * HUGEINT on the DuckDB side (decimal `//` there silently degrades
    * to DOUBLE, so HUGEINT is the only exact int128 path), and the
    * expression casts the quotient — bounded by ±Scale, always
    * int64-safe — back to BIGINT so downstream sums and the driver
    * comparator never see a wide type. Headroom: ~1e14-token counts
    * (a 100 TB corpus) give products ~1e28 and Scale·|a−b| ~1e34,
    * well inside 38 digits. */
  private def padeExpr(a: String, b: String, div: String): String =
    s"CAST(CASE WHEN $a >= $b THEN ($NbScale * ($a - $b)) $div ($a + $b) " +
      s"ELSE -(($NbScale * ($b - $a)) $div ($a + $b)) END AS BIGINT)"
  private def padeLong(a: BigInt, b: BigInt): Long =
    (if (a >= b) BigInt(NbScale) * (a - b) / (a + b)
     else -(BigInt(NbScale) * (b - a) / (a + b))).toLong

  /** The fastText-style feature bag shared by NB train and score (ONE
    * definition — train/apply drift is impossible): every word token
    * plus three engineered bucket features (length decile capped at
    * 12, stopword count capped at 5, uniqueness decile). Bucket
    * features are what let a bag-of-features classifier learn
    * length/repetition-shaped quality signals that unigrams alone
    * cannot carry; the `↑` marker is verified absent from every
    * corpus so a feature can never collide with a word token. Pure
    * map-side explode — corpus-linear. */
  private def nbFeatsOf(docs: DataFrame): DataFrame = {
    val sw = TextOps.stopwords.map("'" + _ + "'").mkString(", ")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), explode(concat(toks(col("text")), array(
        expr("'↑LEN' || CAST(least(size(split(text,' ')) div 10, 12) AS STRING)"),
        expr(s"'↑STOP' || CAST(least(size(filter(split(text,' '), w -> w IN ($sw))), 5) AS STRING)"),
        expr("'↑UNIQ' || CAST((10 * size(array_distinct(split(text,' ')))) div size(split(text,' ')) AS STRING)")
      ))).as("t"))
  }
  private def nbFeats(s: SparkSession, d: String): DataFrame =
    nbFeatsOf(documents(s, d))
  /** DuckDB replay of [[nbFeats]] (CTE `feats`). */
  private lazy val nbFeatsCte: String = {
    val sw = TextOps.stopwords.map("'" + _ + "'").mkString(", ")
    s"""feats AS (
       |  SELECT doc_id, source, unnest(
       |    string_split(text,' ') ||
       |    ['↑LEN' || CAST(least(len(string_split(text,' ')) // 10, 12) AS VARCHAR),
       |     '↑STOP' || CAST(least(len(list_filter(string_split(text,' '),
       |        w -> w IN ($sw))), 5) AS VARCHAR),
       |     '↑UNIQ' || CAST((10 * len(list_distinct(string_split(text,' '))))
       |        // len(string_split(text,' ')) AS VARCHAR)]) AS t
       |  FROM documents WHERE text IS NOT NULL)""".stripMargin
  }

  /** TRAINED quality classifier — the CCNet/fastText distillation
    * step a production pipeline runs instead of hand rules at scale:
    * rules label a seed set, a cheap linear model learns them, the
    * model scores everything (including docs the rules can't reach).
    * Multinomial Naive Bayes over [[nbFeats]] with Laplace smoothing,
    * trained on [[TextOps.textGopherRules]] pseudo-labels from the
    * doc_id % [[NbHoldoutMod]] ≠ 0 folds only. Per-feature weight =
    * Padé log-odds of the smoothed class-conditional rates (exact
    * int64, see [[padeExpr]]); doc score = class-prior term + Σ
    * feature weights (unseen features get the smoothing-only weight);
    * pred = score > 0. Measured on the held-out fold: 96% agreement
    * with the rules at sf0.01 ([[docQualityNbEval]]).
    *
    * Shape for 100 TB: fit = one corpus scan into a VOCAB-sized
    * (feature, class-count) table (map-side combine), materialized
    * once (`localCheckpoint` — it is join-input-small) and reduced to
    * two scalar "model parameters" on the driver, exactly like
    * [[TextOps.textBpeTrain]]'s per-round argmax; score = second scan
    * with a BROADCAST join against the weight table + per-doc sum. No
    * shuffle ever carries the corpus except the final doc-sized
    * rollup. */
  /** The NB FIT — one corpus scan to a vocab-sized weight table plus
    * the two scalar model parameters (unseen-feature weight, class
    * prior). Separated from scoring so the batch op and the streaming
    * scorer share ONE model definition. */
  private def nbFit(s: SparkSession, d: String): (DataFrame, Long, Long) = {
    import s.implicits._
    val tr = TextOps.textGopherRules(s, d)
      .select($"doc_id", $"keep").filter($"doc_id" % NbHoldoutMod =!= 0)
    val cnt = nbFeats(s, d).select($"doc_id", $"t").join(tr, "doc_id")
      .groupBy($"t")
      .agg(sum($"keep").as("c_hq"), sum(lit(1L) - $"keep").as("c_lq"))
      .localCheckpoint(true) // vocab-sized; feeds totals AND weights once
    val t0 = cnt.agg(sum($"c_hq"), sum($"c_lq"), count(lit(1))).head
    val (nHq, nLq, v) = (t0.getLong(0), t0.getLong(1), t0.getLong(2))
    val d0 = tr.agg(sum($"keep"), count(lit(1))).head
    val (dHq, dAll) = (d0.getLong(0), d0.getLong(1))
    // products in DECIMAL(38,0) — int128-exact past the int64 ceiling
    // the quadratic count growth would otherwise hit near sf1
    val wtab = cnt
      .withColumn("a", ($"c_hq" + 1L).cast("decimal(38,0)") * lit(nLq + v))
      .withColumn("b", ($"c_lq" + 1L).cast("decimal(38,0)") * lit(nHq + v))
      .select($"t", expr(padeExpr("a", "b", "div")).as("w"))
    (wtab, padeLong(nLq + v, nHq + v), padeLong(dHq + 1, dAll - dHq + 1))
  }
  /** The NB SCORE pass over any featurized frame — broadcast weight
    * join, per-doc sum, prior + threshold. */
  private def nbScoreOf(feats: DataFrame, wtab: DataFrame,
      w0: Long, p0: Long): DataFrame =
    feats.join(broadcast(wtab), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("w"), lit(w0))).as("sw"))
      .select(col("doc_id"), col("n_feats"),
        (col("sw") + lit(p0)).as("score"),
        when(col("sw") + lit(p0) > 0L, 1L).otherwise(0L).as("pred"))
  def docQualityNb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (wtab, w0, p0) = nbFit(s, d)
    nbScoreOf(nbFeats(s, d).select($"doc_id", $"t"), wtab, w0, p0)
      .orderBy($"doc_id")
  }
  /** The full NB fit+score replay up to CTE `nbres` — shared by the
    * classifier oracle and the eval oracle so they cannot drift. */
  private lazy val docQualityNbCtes: String = {
    val p = padeExpr(_: String, _: String, "//")
    s"""g AS (${TextOps.textGopherRulesSql}),
       |$nbFeatsCte,
       |tr AS (SELECT doc_id, keep FROM g WHERE doc_id % $NbHoldoutMod <> 0),
       |cnt AS (
       |  SELECT t, CAST(sum(keep) AS BIGINT) AS c_hq,
       |    CAST(sum(1 - keep) AS BIGINT) AS c_lq
       |  FROM feats JOIN tr USING (doc_id) GROUP BY t),
       |tot AS (
       |  SELECT CAST(sum(c_hq) AS BIGINT) AS n_hq,
       |    CAST(sum(c_lq) AS BIGINT) AS n_lq,
       |    CAST(count(*) AS BIGINT) AS v FROM cnt),
       |dtot AS (
       |  SELECT CAST(sum(keep) AS BIGINT) AS d_hq,
       |    CAST(count(*) - sum(keep) AS BIGINT) AS d_lq FROM tr),
       |wtab AS (
       |  SELECT t, ${p("(CAST(c_hq + 1 AS HUGEINT) * (n_lq + v))", "(CAST(c_lq + 1 AS HUGEINT) * (n_hq + v))")} AS w
       |  FROM cnt, tot),
       |w0t AS (SELECT ${p("(CAST(n_lq AS HUGEINT) + v)", "(n_hq + v)")} AS w0 FROM tot),
       |p0t AS (SELECT ${p("(CAST(d_hq AS HUGEINT) + 1)", "(d_lq + 1)")} AS p0 FROM dtot),
       |nbagg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |    CAST(sum(COALESCE(w, w0)) AS BIGINT) AS sw
       |  FROM feats LEFT JOIN wtab USING (t), w0t GROUP BY doc_id),
       |nbres AS (
       |  SELECT doc_id, n_feats, sw + p0 AS score,
       |    CAST(CASE WHEN sw + p0 > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
       |  FROM nbagg, p0t)""".stripMargin
  }
  lazy val docQualityNbSql: String =
    s"""WITH $docQualityNbCtes
       |SELECT doc_id, n_feats, score, pred FROM nbres ORDER BY doc_id""".stripMargin

  /** Held-out confusion matrix of [[docQualityNb]] vs the gopher
    * pseudo-labels — the eval readout that justifies replacing the
    * rule gate with the model at scale. Only the doc_id %
    * [[NbHoldoutMod]] = 0 fold (never trained on) is scored. Output
    * is 2×2-bounded regardless of corpus size. */
  def docQualityNbEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docQualityNb(s, d).filter($"doc_id" % NbHoldoutMod === 0)
      .join(TextOps.textGopherRules(s, d)
        .select($"doc_id", $"keep".as("label")), "doc_id")
      .groupBy($"label", $"pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"label", $"pred")
  }
  lazy val docQualityNbEvalSql: String =
    s"""WITH $docQualityNbCtes
       |SELECT g.keep AS label, n.pred, CAST(count(*) AS BIGINT) AS n_docs
       |FROM nbres n JOIN g USING (doc_id)
       |WHERE doc_id % $NbHoldoutMod = 0
       |GROUP BY 1, 2 ORDER BY label, pred""".stripMargin

  /** The trained classifier DEPLOYED on the live ingest stream —
    * "fit offline on yesterday's corpus, score documents as they
    * arrive", the serving half of the CCNet/fastText filtering story.
    * The model ([[nbFit]]: vocab weight table + two scalars) is fit
    * ONCE as a batch job; each micro-batch then runs the identical
    * [[nbScoreOf]] pass — featurize, broadcast stream-static weight
    * join, per-doc rollup — and lands scored rows as parquet. Docs
    * never span micro-batches, so per-batch grouping is exact and the
    * stream needs NO state store or watermark; the weight table is the
    * only cross-batch object and it is model-sized, not corpus-sized.
    * Oracle: the batch classifier's SQL verbatim — streaming must
    * admit precisely the batch scores. */
  def docStreamQualityNb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (wtab, w0, p0) = nbFit(s, d)
    // the per-batch rollup shuffle is sized to the input, not the
    // batch default
    Streams.land(s, "doc_stream_quality_nb", d, streamTable(s, d, "documents"),
        Sizing.tableParts(s, d, "documents")) { batch =>
      nbScoreOf(nbFeatsOf(batch).select(col("doc_id"), col("t")), wtab, w0, p0)
    }.orderBy($"doc_id")
  }
  lazy val docStreamQualityNbSql: String = docQualityNbSql

  /** Candidate training sequence lengths for the packing-efficiency
    * planning table. */
  private[operators] val PackLens = Seq(64L, 128L, 256L, 512L, 1024L)

  /** Context-length planning table — the padding-economics readout a
    * team consults before fixing a sequence length: for every source ×
    * candidate length L, the token waste under the two standard
    * batching schemes. PACKING (concatenate-then-chunk, what
    * [[docPackManifest]] materializes): waste = only the final
    * sequence's padding per source. TRUNCATION (one doc per sequence):
    * pad = Σ max(L−n, 0) against capacity n_docs·L, clip = Σ max(n−L,
    * 0) — tokens DISCARDED — against the corpus. All integer ppm,
    * exact. Shape: one scan to per-doc token counts, a 5-literal
    * explode (rows are 3 ints wide), and a partially-aggregated
    * groupBy whose output is sources×5 rows — catalog-sized at any
    * corpus scale. */
  def docPackEfficiency(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lens = array(PackLens.map(lit): _*)
    documents(s, d).filter($"text".isNotNull)
      .select($"source", size(toks($"text")).cast("long").as("n"))
      .select($"source", $"n", explode(lens).as("seq_len"))
      .groupBy($"source", $"seq_len")
      .agg(count(lit(1)).as("n_docs"), sum($"n").as("total_tokens"),
        sum(greatest($"seq_len" - $"n", lit(0L))).as("pad"),
        sum(greatest($"n" - $"seq_len", lit(0L))).as("clip"))
      .select($"source", $"seq_len", $"n_docs", $"total_tokens",
        expr("(total_tokens + seq_len - 1) div seq_len").as("pack_seqs"),
        expr("""(1000000 * (((total_tokens + seq_len - 1) div seq_len) * seq_len
               | - total_tokens))
               | div (((total_tokens + seq_len - 1) div seq_len) * seq_len)"""
          .stripMargin.replace("\n", "")).as("pack_waste_ppm"),
        expr("(1000000 * pad) div (n_docs * seq_len)").as("trunc_pad_ppm"),
        expr("(1000000 * clip) div total_tokens").as("trunc_clip_ppm"))
      .orderBy($"source", $"seq_len")
  }
  lazy val docPackEfficiencySql: String = {
    val lens = PackLens.mkString(", ")
    s"""WITH n AS (
       |  SELECT source, CAST(len(string_split(text,' ')) AS BIGINT) AS n
       |  FROM documents WHERE text IS NOT NULL),
       |x AS (
       |  SELECT source, n, unnest([CAST(l AS BIGINT) FOR l IN [$lens]]) AS seq_len
       |  FROM n),
       |agg AS (
       |  SELECT source, seq_len, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n) AS BIGINT) AS total_tokens,
       |    CAST(sum(greatest(seq_len - n, 0)) AS BIGINT) AS pad,
       |    CAST(sum(greatest(n - seq_len, 0)) AS BIGINT) AS clip
       |  FROM x GROUP BY source, seq_len)
       |SELECT source, seq_len, n_docs, total_tokens,
       |  (total_tokens + seq_len - 1) // seq_len AS pack_seqs,
       |  (1000000 * (((total_tokens + seq_len - 1) // seq_len) * seq_len
       |    - total_tokens))
       |    // (((total_tokens + seq_len - 1) // seq_len) * seq_len) AS pack_waste_ppm,
       |  (1000000 * pad) // (n_docs * seq_len) AS trunc_pad_ppm,
       |  (1000000 * clip) // total_tokens AS trunc_clip_ppm
       |FROM agg ORDER BY source, seq_len""".stripMargin
  }

  /** Calibration curve of [[docQualityNb]] — per source, gopher-label
    * agreement and keep-rate by SCORE DECILE: the readout that shows
    * the score is monotonically informative (low deciles mostly
    * drop-labeled, high deciles mostly keep-labeled), which is what
    * justifies using it as a tunable threshold rather than a fixed
    * binary gate. Deciles are per-source NTILE over (score, doc_id) —
    * the [[docQualityRank]] discipline: partition-bounded, never a
    * partitionless global sort. Output is sources×10 rows. */
  def docQualityNbCalibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lab = TextOps.textGopherRules(s, d)
      .select($"doc_id", $"keep".as("label"))
    val w = Window.partitionBy($"source").orderBy($"score", $"doc_id")
    docQualityNb(s, d).join(lab, "doc_id")
      .join(documents(s, d).select($"doc_id", $"source"), "doc_id")
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy($"source", $"decile")
      .agg(count(lit(1)).as("n_docs"),
        sum($"label").as("n_label_keep"),
        sum(when($"pred" === $"label", 1L).otherwise(0L)).as("n_agree"))
      .select($"source", $"decile", $"n_docs", $"n_label_keep",
        expr("(1000000 * n_agree) div n_docs").as("agree_ppm"))
      .orderBy($"source", $"decile")
  }
  lazy val docQualityNbCalibrationSql: String =
    s"""WITH $docQualityNbCtes,
       |cal AS (
       |  SELECT d.source, g.keep AS label, n.score, n.pred, n.doc_id,
       |    CAST(ntile(10) OVER (PARTITION BY d.source
       |      ORDER BY n.score, n.doc_id) AS BIGINT) AS decile
       |  FROM nbres n JOIN g ON g.doc_id = n.doc_id
       |  JOIN documents d ON d.doc_id = n.doc_id)
       |SELECT source, decile, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(label) AS BIGINT) AS n_label_keep,
       |  (1000000 * CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT))
       |    // CAST(count(*) AS BIGINT) AS agree_ppm
       |FROM cal GROUP BY source, decile
       |ORDER BY source, decile""".stripMargin

  /** DSIR target domain — the sources whose distribution the
    * selection tilts toward (a "books-like domain" stand-in). */
  private[operators] val DsirTargetSources = Seq("src0", "src1", "src2", "src3")
  /** Hashed feature space: first md5 byte, 256 buckets — the same
    * hashing trick as [[TextOps.textHashFeatures]] (memory is
    * O(buckets) at ANY corpus size, no vocabulary table at all). */
  private val DsirBuckets = 256L

  /** Data Selection via Importance Resampling (Xie et al. 2023) — the
    * domain-upsampling step between raw crawl and training mix:
    * estimate target vs raw hashed-unigram LMs, weight every doc by
    * its importance ratio, keep the best per source. Bucket weight =
    * Padé log-odds of the Laplace-smoothed target/raw bucket rates
    * (exact int64); doc weight = Σ bucket weights over its tokens;
    * selection = top-20% per source (rank ≤ ⌈n/5⌉, ties to lower
    * doc_id — deterministic, unlike sampling, so a recomputed 100 TB
    * stage keeps its rows). Per-source windows keep the ranking
    * partition-bounded — no global sort at any scale — and double as
    * mixture balancing. Fit = one scan into a 256-row table; score =
    * one scan + broadcast join; bigram features swap in at the one
    * md5 expression. */
  def docDsirSelect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val tok = nbFeats(s, d).filter(!$"t".startsWith("↑")) // word tokens only
      .withColumn("bucket", conv(substring(md5($"t"), 1, 2), 16, 10).cast("long"))
    val cnt = tok.groupBy($"bucket")
      .agg(sum(when($"source".isInCollection(DsirTargetSources), 1L)
          .otherwise(0L)).as("n_tgt"),
        count(lit(1)).as("n_raw"))
      .localCheckpoint(true) // ≤256 rows
    val t0 = cnt.agg(sum($"n_tgt"), sum($"n_raw")).head
    val (nT, nR) = (t0.getLong(0), t0.getLong(1))
    // DECIMAL(38,0) products — same int128 lift as nbFit (padeExpr)
    val wtab = cnt
      .withColumn("a", ($"n_tgt" + 1L).cast("decimal(38,0)") * lit(nR + DsirBuckets))
      .withColumn("b", ($"n_raw" + 1L).cast("decimal(38,0)") * lit(nT + DsirBuckets))
      .select($"bucket", expr(padeExpr("a", "b", "div")).as("w"))
    val dw = tok.join(broadcast(wtab), "bucket") // raw ⊇ every bucket → inner is total
      .groupBy($"doc_id", $"source").agg(sum($"w").as("dsir_w"))
    val wn = Window.partitionBy($"source")
    dw.withColumn("rank",
        row_number().over(wn.orderBy($"dsir_w".desc, $"doc_id")).cast("long"))
      .withColumn("n_src", count(lit(1)).over(wn))
      .filter(expr("rank <= (n_src + 4) div 5"))
      .select($"doc_id", $"source", $"dsir_w", $"rank")
      .orderBy($"source", $"rank")
  }
  lazy val docDsirSelectSql: String = {
    val tgt = DsirTargetSources.map("'" + _ + "'").mkString(", ")
    val p = padeExpr(_: String, _: String, "//")
    s"""WITH $nbFeatsCte,
       |tok AS (
       |  SELECT doc_id, source,
       |    (16*(strpos('0123456789abcdef', substr(md5(t),1,1))-1)
       |      + (strpos('0123456789abcdef', substr(md5(t),2,1))-1)) AS bucket
       |  FROM feats WHERE NOT starts_with(t, '↑')),
       |cnt AS (
       |  SELECT bucket,
       |    CAST(sum(CASE WHEN source IN ($tgt) THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt,
       |    CAST(count(*) AS BIGINT) AS n_raw
       |  FROM tok GROUP BY bucket),
       |tot AS (SELECT CAST(sum(n_tgt) AS BIGINT) AS n_t,
       |  CAST(sum(n_raw) AS BIGINT) AS n_r FROM cnt),
       |wtab AS (
       |  SELECT bucket, ${p("(CAST(n_tgt + 1 AS HUGEINT) * (n_r + DSIRB))", "(CAST(n_raw + 1 AS HUGEINT) * (n_t + DSIRB))")} AS w
       |  FROM cnt, tot),
       |dw AS (
       |  SELECT doc_id, source, CAST(sum(w) AS BIGINT) AS dsir_w
       |  FROM tok JOIN wtab USING (bucket) GROUP BY 1, 2),
       |rk AS (
       |  SELECT doc_id, source, dsir_w,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY dsir_w DESC, doc_id) AS BIGINT) AS rank,
       |    count(*) OVER (PARTITION BY source) AS n_src
       |  FROM dw)
       |SELECT doc_id, source, dsir_w, rank FROM rk
       |WHERE rank <= (n_src + 4) // 5
       |ORDER BY source, rank""".stripMargin
      .replace("DSIRB", DsirBuckets.toString)
  }
}
