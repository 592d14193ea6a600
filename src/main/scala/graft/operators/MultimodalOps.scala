package graft.operators

import graft.{Sizing, Streams}
import graft.Tables._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media (image/audio/video) modeled as an
  * opaque `binary` payload plus typed metadata, processed per
  * partition in batches — the Scala equivalent of a Pandas-UDF
  * `mapInPandas` pipeline.
  *
  * The actual media DECODE IS A STUB (this container ships no
  * image/audio codecs): `fakeDecode` derives deterministic
  * "pixels"/"frames" from the payload bytes. Everything around it —
  * binary schema, metadata struct, partition-wise batching, frame
  * explode shape — is real and tested, so swapping in a real codec
  * changes one function.
  */
object MultimodalOps {

  /** Payload + typed metadata (the oracle-checkable plumbing): binary
    * column, byte length, content hash, base64 transport prefix, and
    * fake-decoded dimensions derived only from metadata. */
  def mmMetadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", $"text".cast("binary").as("payload"), $"n_chars")
      .select($"doc_id",
        octet_length($"payload").cast("long").as("n_bytes"),
        sha2($"payload", 256).as("content_sha"),
        substring(base64($"payload"), 1, 24).as("b64_pfx"),
        (lit(64) + $"n_chars" % 512).cast("long").as("width"),
        (lit(64) + ($"n_chars" * 7) % 512).cast("long").as("height"))
      .orderBy($"doc_id")
  }
  val mmMetadataSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  sha256(text) AS content_sha,
      |  substr(base64(encode(text)), 1, 24) AS b64_pfx,
      |  CAST(64 + n_chars % 512 AS BIGINT) AS width,
      |  CAST(64 + (n_chars * 7) % 512 AS BIGINT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  /** One decoded "frame": stub decode = a strided byte slice. A real
    * codec would replace `fakeDecode` only. */
  final case class Frame(doc_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  private def fakeDecode(docId: Long, payload: Array[Byte], stride: Int): Iterator[Frame] = {
    val n = math.max(1, payload.length / stride)
    (0 until math.min(n, 4)).iterator.map { i =>
      val from = i * stride
      val until = math.min(from + 16, payload.length)
      Frame(docId, i, java.util.Arrays.copyOfRange(payload, from, until))
    }
  }

  /** Frame sampling via mapPartitions: batch-shaped like a Pandas-UDF
    * pipeline — one iterator pass per partition, constant memory.
    * Output: (doc_id, frame_idx, frame fingerprint). rows-only check;
    * MultimodalSpec pins the exact frame bytes. */
  def mmFrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frames = documents(s, d)
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) => fakeDecode(id, payload, 64) })
    frames.toDF()
      .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"),
        md5($"frame_bytes").as("frame_md5"))
      .orderBy($"doc_id", $"frame_idx")
  }
  val mmFrameSampleSql: String =
    """WITH f AS (
      |  SELECT doc_id, unnest(range(greatest(1, least(octet_length(encode(text)) // 64, 4)))) AS frame_idx
      |  FROM documents)
      |SELECT f.doc_id AS doc_id, CAST(f.frame_idx AS BIGINT) AS frame_idx,
      |  md5(substr(d.text, CAST(f.frame_idx * 64 + 1 AS BIGINT), 16)) AS frame_md5
      |FROM f JOIN documents d ON f.doc_id = d.doc_id
      |ORDER BY 1, 2""".stripMargin

  /** Feature extraction over the binary payload: a byte-class
    * histogram (the stub stand-in for an image-embedding model) via
    * the same mapPartitions batch shape. The four emitted buckets are
    * ASCII ranges, so DuckDB can oracle them with regexp counts over
    * the text — the FEATURE VALUES are checkable, not just row counts.
    * A real model swaps the histogram for an ONNX/JNI call; schema,
    * batching and partitioning stay. */
  final case class Feat(doc_id: Long, n_bytes: Long,
      h_punct: Long, h_digit: Long, h_upper: Long, h_lower: Long)

  def mmFeature(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        var punct = 0L; var digit = 0L; var upper = 0L; var lower = 0L
        var i = 0
        while (i < p.length) {
          val b = p(i) & 0xFF
          if (b >= 0x20 && b <= 0x2F) punct += 1
          else if (b >= 0x30 && b <= 0x39) digit += 1
          else if (b >= 0x41 && b <= 0x5A) upper += 1
          else if (b >= 0x61 && b <= 0x7A) lower += 1
          i += 1
        }
        Feat(id, p.length.toLong, punct, digit, upper, lower)
      })
      .toDF()
      .orderBy($"doc_id")
  }
  val mmFeatureSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(len(regexp_extract_all(text, '[\x20-\x2f]')) AS BIGINT) AS h_punct,
      |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS h_digit,
      |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS h_upper,
      |  CAST(len(regexp_extract_all(text, '[a-z]')) AS BIGINT) AS h_lower
      |FROM documents ORDER BY doc_id""".stripMargin

  /** CODEPOINT-based strided sample — the unit shared with the DuckDB
    * oracle. SQL `substr`/`length` index Unicode codepoints, so the
    * Scala side must too: sampling UTF-16 chars (or raw bytes, as a
    * pre-round-4 version did) agrees only on pure-ASCII corpora and
    * silently diverges on the first multi-byte doc. Pinned against a
    * non-ASCII doc in PipelineSpec. */
  private[operators] def thumbChars(t: String): String = {
    val nCp = t.codePointCount(0, t.length)
    val stride = math.max(1, nCp / 64)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    var off = 0 // UTF-16 offset of codepoint i*stride, advanced incrementally
    while (i < 64 && i.toLong * stride < nCp) {
      if (i > 0) off = t.offsetByCodePoints(off, stride)
      sb.appendCodePoint(t.codePointAt(off))
      i += 1
    }
    sb.toString
  }

  /** Resize stub: a fixed 64-"pixel" thumbnail sampled at a stride
    * derived from payload length (a real resize kernel replaces the
    * sampling loop; the fixed output shape is the contract). Output is
    * the thumbnail fingerprint, oracled by rebuilding the same strided
    * sample in SQL. */
  def mmResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, 8L, 8L, thumbChars(t)) })
      .toDF("doc_id", "thumb_w", "thumb_h", "thumb")
      .select($"doc_id", $"thumb_w", $"thumb_h", md5($"thumb").as("thumb_md5"))
      .orderBy($"doc_id")
  }
  val mmResizeSql: String =
    """WITH t AS (
      |  SELECT doc_id, text, greatest(1, length(text) // 64) AS stride
      |  FROM documents)
      |SELECT doc_id, CAST(8 AS BIGINT) AS thumb_w, CAST(8 AS BIGINT) AS thumb_h,
      |  md5(array_to_string(
      |    [substr(text, CAST(1 + i*stride AS BIGINT), 1) for i in range(64)], '')) AS thumb_md5
      |FROM t ORDER BY doc_id""".stripMargin

  /** Exact content-hash dedup of binary payloads — the first pass of
    * any media pipeline (identical bytes = identical asset, no decode
    * needed). Group by sha256 of the payload, keep the smallest doc_id
    * per hash: one shuffle on a fixed-width digest regardless of
    * payload size, the shape that holds when payloads are megapixel
    * images instead of kilobyte stubs. */
  def mmDedupExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .withColumn("content_sha", sha2($"payload", 256))
      .groupBy($"content_sha")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"content_sha", $"n_copies")
      .orderBy($"keep_id")
  }
  val mmDedupExactSql: String =
    """SELECT min(doc_id) AS keep_id, sha256(text) AS content_sha,
      |  count(*) AS n_copies
      |FROM documents GROUP BY sha256(text)
      |ORDER BY keep_id""".stripMargin

  /** Byte-budget shard assignment for binary payloads — the multimodal
    * analogue of [[CurationOps.docShardPack]]: media shards are sized
    * by BYTES, not tokens (a training loader streams fixed-size
    * tar/parquet shards of images, and a 4 MB image is not one
    * "document" of budget). Same per-source windowed cumulative shape
    * (no global ordering anywhere), same integer `div` — cumulative
    * byte offsets cross 2^53 long before a 100 TB media corpus ends,
    * so the float path is wrong at scale, not just inelegant. */
  def mmShardPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      .select($"doc_id", $"source", $"text".cast("binary").as("payload"))
      .withColumn("n_bytes", octet_length($"payload").cast("long"))
      .withColumn("cum_before", coalesce(sum($"n_bytes").over(w), lit(0L)))
      .withColumn("shard", expr("cum_before div 4096"))
      .select($"doc_id", $"source", $"n_bytes", $"shard")
      .orderBy($"doc_id")
  }
  val mmShardPackSql: String =
    """SELECT doc_id, source,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(COALESCE(sum(octet_length(encode(text)))
      |    OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096
      |    AS BIGINT) AS shard
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Bucket-population cap for [[mmDedupNear]] — the same anti-join
    * discipline as every text pair generator
    * ([[DedupOps.PrefixDfCap]] et al.): a perceptual bucket shared by
    * more media than this is a degenerate key (solid-color thumbnails,
    * tracking pixels) emitting quadratic pairs with no dedup signal. */
  val MmNearDfCap = 64L

  /** Perceptual near-dup PAIR generator for media — the first-class
    * auditable pair table [[mmPipelineE2e]] buries inside its keep-one
    * stage. Key = the stub perceptual-hash bucket (width, height,
    * n_bytes div 64) per this file's stub contract — a real pHash
    * swaps in at the key expression and nothing else moves. Same
    * capped inverted-index shape as [[DedupOps.dedupPrefix]]: one
    * shuffle on the bucket key, the over-cap key set (small by
    * construction — at most rows/cap keys) applied as a LeftAnti, so
    * candidate output is corpus-LINEAR (≤ rows·cap) on any skew, the
    * property ScaleSpec pins family-wide. Gives the media side the
    * same reviewable dedup surface text has: pairs first, keep-one as
    * a downstream consumer. */
  def mmDedupNear(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keyed = documents(s, d)
      .filter($"text".isNotNull) // family-wide NULL-payload guard
      .select($"doc_id",
        md5(concat_ws("x",
          lit(64) + $"n_chars" % 512,
          lit(64) + ($"n_chars" * 7) % 512,
          expr("CAST(octet_length(CAST(text AS BINARY)) AS BIGINT) div 64")))
          .as("pk"))
    val drop = keyed.groupBy($"pk").agg(count(lit(1)).as("n"))
      .filter($"n" > MmNearDfCap).select($"pk")
    val kept = keyed.join(drop, keyed("pk") === drop("pk"), "left_anti")
    kept.toDF("da", "pk").join(kept.toDF("db", "pk"), "pk")
      .filter($"da" < $"db")
      .select($"da", $"db", $"pk")
      .orderBy($"da", $"db")
  }
  val mmDedupNearSql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |    md5((64 + n_chars % 512) || 'x' || (64 + (n_chars * 7) % 512) || 'x' ||
       |        (octet_length(encode(text)) // 64)) AS pk
       |  FROM documents WHERE text IS NOT NULL),
       |kept AS (SELECT * FROM keyed
       |         WHERE pk IN (SELECT pk FROM keyed GROUP BY pk
       |                      HAVING count(*) <= $MmNearDfCap))
       |SELECT a.doc_id AS da, b.doc_id AS db, a.pk
       |FROM kept a JOIN kept b ON a.pk = b.pk AND a.doc_id < b.doc_id
       |ORDER BY da, db""".stripMargin

  /** The composed MEDIA curation pipeline — size gate → perceptual-
    * bucket keep-one → per-source byte-budget shard pack — as ONE
    * query, the multimodal sibling of
    * [[CurationOps.docPipelineE2e]]. The "perceptual" key is the stub
    * analogue of a perceptual-hash (pHash) near-dup key: (width,
    * height, n_bytes div 64) — derived deterministically from the
    * fake-decode dimensions per this file's stub contract, so the
    * keep-one stage is ACTIVE on the test corpus (distinct payloads
    * share buckets) and a real pHash swaps in at one expression.
    *
    * Every stage keeps its standalone op's scale shape: the gate is
    * map-side, keep-one is one shuffle on the bucket key (min_by —
    * constant aggregation buffers), and packing windows per source
    * over survivors (no global ordering). */
  def mmPipelineE2e(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val meta = documents(s, d)
      .select($"doc_id", $"source",
        octet_length($"text".cast("binary")).cast("long").as("n_bytes"),
        (lit(64) + $"n_chars" % 512).cast("long").as("width"),
        (lit(64) + ($"n_chars" * 7) % 512).cast("long").as("height"))
      .filter($"n_bytes" >= 64L)
    val kept = meta
      .groupBy($"width", $"height", expr("n_bytes div 64").as("size_bucket"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val survivors = meta.join(kept, "doc_id")
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    survivors
      .withColumn("cum_before", coalesce(sum($"n_bytes").over(w), lit(0L)))
      .withColumn("shard", expr("cum_before div 4096"))
      .select($"doc_id", $"source", $"n_bytes", $"width", $"height", $"shard")
      .orderBy($"doc_id")
  }
  val mmPipelineE2eSql: String =
    """WITH meta AS (
      |  SELECT doc_id, source,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |    CAST(64 + n_chars % 512 AS BIGINT) AS width,
      |    CAST(64 + (n_chars * 7) % 512 AS BIGINT) AS height
      |  FROM documents
      |  WHERE octet_length(encode(text)) >= 64),
      |kept AS (
      |  SELECT min(doc_id) AS doc_id
      |  FROM meta GROUP BY width, height, n_bytes // 64),
      |survivors AS (SELECT m.* FROM meta m JOIN kept USING (doc_id))
      |SELECT doc_id, source, n_bytes, width, height,
      |  CAST(COALESCE(sum(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096
      |    AS BIGINT) AS shard
      |FROM survivors ORDER BY doc_id""".stripMargin

  /** Live media INGEST — the streaming front door of the multimodal
    * pipeline (every mm_* op above assumes the media already landed;
    * this is how it lands). Arriving media (the
    * [[DedupOps.IncrementalBatchSources]] batch-vs-corpus split, same
    * as every `*_incremental` op) stream in and each is admitted
    * exactly once: a map-side content digest + byte metadata per
    * micro-batch, an anti-join against the STATIC already-ingested
    * corpus digest set (stream-static — nothing corpus-sized enters
    * streaming state), and a stateful (sha -> keeper) aggregate that
    * collapses copies arriving in DIFFERENT micro-batches. State is
    * one row per NOVEL digest — bounded by the admitted volume, not
    * the arrival volume. Payloads never shuffle: the digest is
    * computed in the scan projection and only (digest, id, bytes)
    * rows move. Oracle: batch parity — arrival mode must not change
    * what gets admitted. */
  def mmStreamIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val corpus = documents(s, d)
      .filter($"text".isNotNull)
      .filter($"source".isNull ||
        !$"source".isInCollection(DedupOps.IncrementalBatchSources))
      .select(sha2($"text".cast("binary"), 256).as("content_sha")).distinct()
    val incoming = graft.Tables.streamTable(s, d, "documents")
      .filter($"text".isNotNull)
      .filter($"source".isInCollection(DedupOps.IncrementalBatchSources))
      .select($"doc_id", sha2($"text".cast("binary"), 256).as("content_sha"),
        octet_length($"text".cast("binary")).cast("long").as("n_bytes"))
    val admitted = incoming.join(corpus, Seq("content_sha"), "left_anti")
      .groupBy($"content_sha")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        min($"n_bytes").as("n_bytes"))
    val t = Streams.toTable(s, admitted,
      "graft_mmingest_" + math.abs(d.hashCode), "complete",
      Sizing.tableParts(s, d, "documents"))
    t.select($"content_sha", $"keep_id", $"n_copies", $"n_bytes")
      .orderBy($"keep_id")
  }
  lazy val mmStreamIngestSql: String = {
    val batch = DedupOps.IncrementalBatchSources.map("'" + _ + "'").mkString(", ")
    s"""WITH hashed AS (
       |  SELECT doc_id, source, sha256(text) AS content_sha,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       |  FROM documents WHERE text IS NOT NULL),
       |corpus AS (SELECT DISTINCT content_sha FROM hashed
       |           WHERE source IS NULL OR source NOT IN ($batch))
       |SELECT content_sha, min(doc_id) AS keep_id, count(*) AS n_copies,
       |  min(n_bytes) AS n_bytes
       |FROM hashed h
       |WHERE source IN ($batch)
       |  AND NOT EXISTS (SELECT 1 FROM corpus c
       |                  WHERE c.content_sha = h.content_sha)
       |GROUP BY content_sha ORDER BY keep_id""".stripMargin
  }
}
