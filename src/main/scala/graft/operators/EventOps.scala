package graft.operators

import graft.{Sizing, Streams}
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream operators over the `events` table: tumbling-window
  * aggregation, JSON property extraction, gap-based sessionization,
  * and the same window aggregation executed as a Structured Streaming
  * query (file source → watermark → windowed agg → memory sink).
  *
  * Batch and streaming share semantics, so one DuckDB oracle checks
  * both: the streaming variant must produce exactly the batch answer
  * once the source is exhausted.
  */
object EventOps {

  /** Tumbling 1-hour window: count + decimal-exact sum per type. */
  def evWindowAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .select($"w.start".as("w_start"), $"event_type", $"n", $"sum_value")
      .orderBy($"w_start", $"event_type")
  }
  val evWindowAggSql: String =
    """SELECT date_trunc('hour', ts) AS w_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY w_start, event_type""".stripMargin

  /** JSON prop extraction (props is a JSON string column). */
  def evJson(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .select($"event_id",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"k").agg(count(lit(1)).as("n"))
      .orderBy($"k")
  }
  val evJsonSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY k""".stripMargin

  /** Gap-based sessionization (new session after >30 min idle):
    * classic lag + running-sum-of-boundaries, one shuffle on user_id. */
  def evSessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val flagged = events(s, d)
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
          $"ts".cast("double") - $"prev_ts".cast("double") > 1800d, 1L).otherwise(0L))
    flagged.groupBy($"user_id")
      .agg(sum($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }
  val evSessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events)
      |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Session windows via Spark's native session_window (gap-merged,
    * end-exclusive: an event exactly `gap` after the previous one
    * starts a NEW session — hence >= in the oracle, where the lag
    * sessionizer above uses >). Emits one row per session. */
  def evSessionWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("sess_start"), $"n_events")
      .orderBy($"user_id", $"sess_start")
  }
  val evSessionWindowSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM flagged)
      |SELECT user_id, min(ts) AS sess_start, count(*) AS n_events
      |FROM sess GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_start""".stripMargin

  /** The same session-window aggregation as a Structured Streaming
    * query — session_window + watermark is the canonical streaming
    * sessionization; state merges windows as events arrive. */
  def evStreamSessionWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, d)
      .withWatermark("ts", "2 hours")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    val t = Streams.toTable(s, agg, "graft_sw_" + math.abs(d.hashCode), "complete",
      Sizing.tableParts(s, d, "events"))
    t.select($"user_id", $"w.start".as("sess_start"), $"n_events")
      .orderBy($"user_id", $"sess_start")
  }

  /** Streaming → parquet (the production sink shape: each micro-batch
    * lands as parquet files by its batch id, [[graft.Streams.land]]).
    * The comparable output re-reads what was WRITTEN and aggregates —
    * proving the landed files carry the full stream.
    * Oracle: the same aggregate over the source table. */
  def evStreamToParquet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stream = eventsStream(s, d)
      .select($"event_id", $"user_id", $"event_type", $"value")
    Streams.land(s, "ev_stream_to_parquet", d, stream,
        Sizing.tableParts(s, d, "events"))(identity)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 4))).cast("double").as("sum_value"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }
  val evStreamToParquetSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** THE event stream reader — every `ev_stream_*` op reads through
    * here (round-15 hoist: the nanosAsLong conf-set and the
    * schema/glob/normalizeTs plumbing live in this ONE site, mirroring
    * batch [[graft.Tables.events]]). */
  private def eventsStream(s: SparkSession, d: String) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.streamTable(s, d, "events")
      .transform(graft.Tables.normalizeTs)
  }

  /** Stream-static join: the event stream enriched against the static
    * customer dimension (broadcast per micro-batch — no stream state),
    * then aggregated by segment. Oracle: the equivalent batch join. */
  def evStreamEnrich(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = customer(s, d).select($"c_custkey", $"c_mktsegment")
    val joined = eventsStream(s, d)
      .join(broadcast(cust), $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 4))).cast("double").as("sum_value"))
    val t = Streams.toTable(s, joined, "graft_enrich_" + math.abs(d.hashCode), "complete",
      Sizing.tableParts(s, d, "events"))
    t.orderBy($"c_mktsegment")
  }
  val evStreamEnrichSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Stream-stream self-join with an event-time interval constraint:
    * pairs of DIFFERENT events from the same user within 10 minutes.
    * Both sides watermarked so the join state is bounded. Oracle: the
    * same interval join in batch SQL. */
  def evStreamStreamJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = eventsStream(s, d)
      .select($"event_id".as("ea"), $"user_id".as("ua"), $"ts".as("tsa"))
      .withWatermark("tsa", "30 minutes")
    val b = eventsStream(s, d)
      .select($"event_id".as("eb"), $"user_id".as("ub"), $"ts".as("tsb"))
      .withWatermark("tsb", "30 minutes")
    val joined = a.join(b,
      $"ua" === $"ub" && $"ea" < $"eb" &&
        $"tsb" >= $"tsa" && $"tsb" <= $"tsa" + expr("INTERVAL 10 MINUTES"))
      .select($"ua".as("user_id"), $"ea", $"eb")
    // join state is per ROW on both sides, so CPU dominates and the
    // partitions are far smaller than keyed state's (measured on 100k
    // rows: 1 part 7.0s, 8 parts 3.3s, 32 parts 9.3s — 256 KB lands
    // near that optimum at any scale)
    val t = Streams.toTable(s, joined, "graft_ssj_" + math.abs(d.hashCode), "append",
      Sizing.tableParts(s, d, "events", bytesPerPart = 256L << 10))
    t.orderBy($"user_id", $"ea", $"eb")
  }
  val evStreamStreamJoinSql: String =
    """SELECT a.user_id AS user_id, a.event_id AS ea, b.event_id AS eb
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
      |ORDER BY 1, 2, 3""".stripMargin

  /** Streaming deduplication with watermarked state: one event per
    * (user, hour) survives. dropDuplicates keeps whichever duplicate
    * arrives first, which depends on partitioning — so the comparable
    * output is the surviving KEY SET only (deterministic under any
    * input order), not the surviving event_id. */
  def evStreamDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dedup = eventsStream(s, d)
      .withColumn("hour", date_trunc("hour", $"ts"))
      .withWatermark("hour", "2 hours")
      .dropDuplicates("user_id", "hour")
      .select($"user_id", $"hour")
    val t = Streams.toTable(s, dedup, "graft_dedup_" + math.abs(d.hashCode), "append",
      Sizing.tableParts(s, d, "events"))
    t.orderBy($"user_id", $"hour")
  }
  val evStreamDedupSql: String =
    """SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour
      |FROM events ORDER BY user_id, hour""".stripMargin

  /** One event row for typed stateful processing. */
  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long)

  /** Stateful streaming sessionization via flatMapGroupsWithState —
    * the KeyValueGroupedDataset custom-state path. Each micro-batch
    * sorts a user's events and counts >30-min gaps; state carries the
    * last seen timestamp + running count across batches, so the logic
    * is correct under any batch slicing (the file source happens to
    * deliver one batch, which makes the output comparable to the batch
    * sessionizer's oracle). */
  def evStreamSessionize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    val name = "graft_sess_" + math.abs(d.hashCode).toString
    val evs = eventsStream(s, d)
      .select($"event_id", $"ts", $"user_id")
      .as[Ev]

    def fn(userId: Long, rows: Iterator[Ev], state: GroupState[(Long, Long, Long)])
        : Iterator[(Long, Long, Long)] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var (sessions, events, lastMs) = state.getOption.getOrElse((0L, 0L, Long.MinValue))
      sorted.foreach { e =>
        if (lastMs == Long.MinValue || e.ts.getTime - lastMs > 1800L * 1000L) sessions += 1
        events += 1
        lastMs = e.ts.getTime
      }
      state.update((sessions, events, lastMs))
      Iterator.single((userId, sessions, events))
    }

    val sessionized = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
      .toDF("user_id", "n_sessions", "n_events")
    Streams.toTable(s, sessionized, name, "update", Sizing.tableParts(s, d, "events"))
      .orderBy($"user_id")
  }

  /** The SAME tumbling-window agg as a Structured Streaming query:
    * file source replays the parquet as a stream; watermark bounds
    * state; memory sink in complete mode captures the final answer.
    * Matches evWindowAgg's oracle exactly — proving batch/stream
    * semantic parity. */
  def evStreamWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val name = "graft_stream_" + math.abs(d.hashCode).toString
    val stream = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 4))).cast("double").as("sum_value"))
    Streams.toTable(s, stream, name, "complete", Sizing.tableParts(s, d, "events"))
      .select($"w.start".as("w_start"), $"event_type", $"n", $"sum_value")
      .orderBy($"w_start", $"event_type")
  }

  /** Cohort retention matrix: users grouped by their FIRST activity
    * week (integer weeks since a Monday epoch — tz-free like
    * q_range_join), counted per later week they return in. Two
    * shuffles total (first-week per user, then the distinct
    * user-week rollup); the matrix is |cohorts|×|offsets| —
    * catalog-sized output from data-sized input. */
  def evRetention(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d).select($"user_id",
      expr("datediff(cast(ts as date), DATE'1970-01-05') div 7").as("wk"))
    val cohorts = ev.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    ev.join(cohorts, "user_id")
      .select($"user_id", $"cohort_wk", ($"wk" - $"cohort_wk").as("offset_wk"))
      .distinct()
      .groupBy($"cohort_wk", $"offset_wk")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_wk", $"offset_wk")
  }
  val evRetentionSql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS wk
      |  FROM events),
      |cohorts AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id),
      |uw AS (SELECT DISTINCT ev.user_id, c.cohort_wk, ev.wk - c.cohort_wk AS offset_wk
      |       FROM ev JOIN cohorts c ON c.user_id = ev.user_id)
      |SELECT CAST(cohort_wk AS BIGINT) AS cohort_wk,
      |  CAST(offset_wk AS BIGINT) AS offset_wk, count(*) AS n_users
      |FROM uw GROUP BY cohort_wk, offset_wk
      |ORDER BY cohort_wk, offset_wk""".stripMargin

  /** Ordered conversion funnel signup → view → purchase: a user counts
    * for a stage only if its FIRST qualifying event follows the
    * previous stage's. Three chained per-user aggregations — each
    * stage filters its event slice, joins the prior stage's timestamp
    * on user_id, and takes one min. Every join/agg shuffles on
    * user_id, so AQE co-partitions the whole chain; no window over the
    * global event stream, no per-user collect. */
  def evFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d).select($"user_id", $"event_type", $"ts")
    val s1 = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("t_s1"))
    val s2 = ev.filter($"event_type" === "view")
      .join(s1.select($"user_id", $"t_s1".as("t_v_prev")), "user_id")
      .filter($"ts" >= $"t_v_prev")
      .groupBy($"user_id").agg(min($"ts").as("t_s2"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2.select($"user_id", $"t_s2".as("t_p_prev")), "user_id")
      .filter($"ts" >= $"t_p_prev")
      .groupBy($"user_id").agg(min($"ts").as("t_s3"))
    val counts = Seq(
      ("1_signup", s1), ("2_view_after_signup", s2), ("3_purchase_after_view", s3))
    counts.map { case (n, df) =>
      df.agg(count(lit(1)).as("users")).select(lit(n).as("stage"), $"users")
    }.reduce(_ unionByName _).orderBy($"stage")
  }
  val evFunnelSql: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'view' AND e.ts >= s1.t1 GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY e.user_id)
      |SELECT stage, users FROM (
      |  SELECT '1_signup' AS stage, count(*) AS users FROM s1
      |  UNION ALL SELECT '2_view_after_signup', count(*) FROM s2
      |  UNION ALL SELECT '3_purchase_after_view', count(*) FROM s3)
      |ORDER BY stage""".stripMargin

  /** SCD Type-2 dimension build from the event stream: per user, each
    * change of event_type opens a validity interval [valid_from,
    * valid_to) closed by the next change (NULL = current row). Two
    * window passes over the SAME (user_id) partitioning — lag to
    * detect the change, lead over the change rows to close the
    * interval — so the whole build is ONE hash shuffle; the filter
    * between them preserves partitioning and Catalyst elides the
    * second exchange. This is the standard warehouse history-table
    * shape: at 100 TB it shuffles each event once and never widens
    * beyond the change rows. Tie-break on event_id keeps same-ts
    * events deterministic across engines. */
  def evScd2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val changes = events(s, d)
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
    val w2 = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    changes
      .withColumn("valid_to", lead($"ts", 1).over(w2))
      .select($"user_id", $"event_id", $"event_type",
        $"ts".as("valid_from"), $"valid_to",
        when($"valid_to".isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy($"user_id", $"valid_from", $"event_id")
  }
  val evScd2Sql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |changes AS (
      |  SELECT user_id, event_id, event_type, ts AS valid_from FROM ordered
      |  WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id, event_id, event_type, valid_from,
      |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
      |  CAST(CASE WHEN lead(valid_from) OVER
      |    (PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL
      |    THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM changes
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  /** [[evScd2]] maintained INCREMENTALLY from a live stream — the
    * streaming dimension-maintenance op (what a Delta `MERGE` per
    * micro-batch does in production CDC pipelines). The event history
    * is replayed as event-time-ordered file slices (10-day groups,
    * written in ascending order so the file source delivers them as
    * separate ts-ordered micro-batches — a REAL multi-batch merge, not
    * single-batch streaming theater), and the dimension lives as two
    * on-disk sets with very different write disciplines:
    *
    *  - `closed/` — APPEND-ONLY: a version row whose valid_to is set
    *    is immutable forever after; at 100 TB this is a partitioned
    *    fact-sized append, never rewritten.
    *  - `open/`  — the real state: ONE row per user (the current
    *    version), rewritten per batch. User-sized, not history-sized —
    *    this is exactly what a state store would hold, kept as plain
    *    parquet so serving reads need no streaming runtime.
    *
    * Per batch: the touched users' open rows join the batch slice as
    * pseudo-events (their TYPE is by construction the type of the last
    * event seen, so lag-based change detection over [state ∪ batch]
    * decides identically to lag over the full history); rows whose
    * lead exists close (append), the rest become the new open set
    * together with the untouched users' rows (anti-join). Per-batch
    * cost is batch + touched-state sized, never history-sized.
    * Oracle: [[evScd2Sql]] verbatim — arrival mode must not change
    * the dimension. */
  def evStreamScd2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = scratch(s, "scd2", d)
    val rootP = new org.apache.hadoop.fs.Path(root)
    rootP.getFileSystem(s.sparkContext.hadoopConfiguration).delete(rootP, true)
    val in = s"$root/in"; val closedDir = s"$root/closed"; val openDir = s"$root/open"
    val ev = events(s, d).select($"user_id", $"event_id", $"event_type", $"ts")
    // replay slices: absolute-epoch 10-day buckets, one file each,
    // written in ascending event-time order (cached: one source scan
    // feeds all slice writes)
    val sliced = ev.withColumn("g", floor(unix_timestamp($"ts") / (10L * 86400)))
      .cache()
    val gs = sliced.select($"g").distinct().orderBy($"g").collect().map(_.getLong(0))
    gs.zipWithIndex.foreach { case (g, i) =>
      sliced.filter($"g" === g).drop("g").repartition(1)
        .write.mode("overwrite").parquet(f"$in/g$i%02d")
    }
    // an empty log replays as one empty slice: its batch lands both
    // (empty) state sets, and the stream still fires
    if (gs.isEmpty) ev.repartition(1).write.mode("overwrite").parquet(s"$in/g00")
    sliced.unpersist()
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).option("pathGlobFilter", "*.parquet")
      .parquet(s"$in/g*")
    // the open set PING-PONGS between two directories: batch i reads
    // open_(i%2) and overwrites open_((i+1)%2), so no batch ever
    // overwrites the files it is reading — which is the only thing the
    // former per-batch open localCheckpoint (one eager job per batch)
    // existed to make safe. Batch 0 starts from an in-plan empty
    // relation, so the two setup writes of empty open/closed dirs are
    // gone too (guide §1.2: the empty-state jobs carried no data).
    val emptyOpen = ev.filter(lit(false))
      .select($"user_id", $"event_id", $"event_type", $"ts".as("valid_from"))
    val openRef = new java.util.concurrent.atomic.AtomicReference[String](null)
    // the per-batch merge windows shuffle state-sized frames, sized to
    // the input like every other streaming op
    Streams.drain(s, "ev_stream_scd2", stream, Sizing.tableParts(s, d, "events")) {
      (batch, _) =>
        val users = batch.select($"user_id").distinct()
        // schema passed explicitly — no footer-inference job per batch
        val open = Option(openRef.get()).map(p => s.read.schema(
          "user_id LONG, event_id LONG, event_type STRING, valid_from TIMESTAMP")
          .parquet(p)).getOrElse(emptyOpen)
        val slice = open.join(users, Seq("user_id"), "left_semi")
          .select($"user_id", $"event_id", $"event_type", $"valid_from".as("ts"))
          .unionAll(batch.select($"user_id", $"event_id", $"event_type", $"ts"))
        val kept = slice
          .withColumn("prev_type", lag($"event_type", 1).over(w))
          .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
        val withTo = kept.withColumn("valid_to", lead($"ts", 1).over(w))
          .localCheckpoint(true) // two sinks, one computation
        // closed is append-only and immutable: write it at the plan's
        // own partitioning (Sizing.tableParts-sized) — at 100 TB this is a
        // partitioned fact append, and a burst batch closing many
        // users must not serialize through one task (r18 verdict)
        withTo.filter($"valid_to".isNotNull)
          .select($"user_id", $"event_id", $"event_type",
            $"ts".as("valid_from"), $"valid_to")
          .write.mode("append").parquet(closedDir)
        // the open STATE stays single-file: user-sized, re-read and
        // rewritten every batch — small-file sprawl is pure cost
        val nextOpen =
          if (openRef.get() == s"$openDir/v0") s"$openDir/v1" else s"$openDir/v0"
        withTo.filter($"valid_to".isNull)
          .select($"user_id", $"event_id", $"event_type", $"ts".as("valid_from"))
          .unionAll(open.join(users, Seq("user_id"), "left_anti"))
          .coalesce(1).write.mode("overwrite").parquet(nextOpen)
        openRef.set(nextOpen)
        withTo.unpersist()
    }
    s.read.parquet(closedDir).withColumn("is_current", lit(0L))
      .unionByName(s.read.parquet(openRef.get())
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("is_current", lit(1L)))
      .select($"user_id", $"event_id", $"event_type",
        $"valid_from", $"valid_to", $"is_current")
      .orderBy($"user_id", $"valid_from", $"event_id")
  }
  /** Arrival mode must not change the dimension — batch parity. */
  lazy val evStreamScd2Sql: String = evScd2Sql

  /** Sliding (hopping) 30-minute window, 15-minute hop, via Spark's
    * native `window(ts, size, slide)` — the generator expands each
    * event into its size/slide = 2 windows BEFORE the shuffle, so the
    * exchange moves (window, type)-partial rows, not raw events, and
    * the expansion factor is a plan constant independent of data
    * volume. The oracle mirrors the window arithmetic with integer
    * epoch-µs division — no float touches a boundary. */
  def evHopWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy(window($"ts", "30 minutes", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
      .select($"w.start".as("w_start"), $"event_type", $"n", $"n_users")
      .orderBy($"w_start", $"event_type")
  }
  val evHopWindowSql: String =
    """WITH hopped AS (
      |  SELECT make_timestamp(((epoch_us(ts) // 900000000) - t.i) * 900000000) AS w_start,
      |    event_type, user_id
      |  FROM events CROSS JOIN generate_series(0, 1) t(i))
      |SELECT w_start, event_type, count(*) AS n,
      |  count(DISTINCT user_id) AS n_users
      |FROM hopped GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  /** [[evHopWindow]] as a Structured Streaming query — Spark's window
    * generator accepts a slide duration in streaming too, so the hop
    * expansion happens per micro-batch before the stateful agg and
    * state is keyed by (window, type): bounded by the window catalog,
    * not the event volume. countDistinct is not a streaming-legal
    * aggregate, so the streaming contract (and its oracle) is the
    * count-only projection of the batch op. */
  def evStreamHopWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val name = "graft_stream_hop_" + math.abs(d.hashCode).toString
    val stream = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "30 minutes", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
    Streams.toTable(s, stream, name, "complete", Sizing.tableParts(s, d, "events"))
      .select($"w.start".as("w_start"), $"event_type", $"n")
      .orderBy($"w_start", $"event_type")
  }
  val evStreamHopWindowSql: String =
    """WITH hopped AS (
      |  SELECT make_timestamp(((epoch_us(ts) // 900000000) - t.i) * 900000000) AS w_start,
      |    event_type
      |  FROM events CROSS JOIN generate_series(0, 1) t(i))
      |SELECT w_start, event_type, count(*) AS n
      |FROM hopped GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  /** Inter-event gap distribution per user: lag over (user_id, ts),
    * gaps in integer µs, then min/max/sum/count per user. The groupBy
    * key equals the window's partitionBy key, so the aggregation
    * reuses the window's hash partitioning — the whole op is ONE
    * shuffle of raw events and map-side partials above it. Gap stats
    * at 100 TB are the standard sessionization-health signal; integer
    * µs keeps every value exact cross-engine. */
  def evGapStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events(s, d)
      .withColumn("gap_us", unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), count($"gap_us").as("n_gaps"),
        min($"gap_us").as("min_gap_us"), max($"gap_us").as("max_gap_us"),
        sum($"gap_us").as("sum_gap_us"))
      .orderBy($"user_id")
  }
  val evGapStatsSql: String =
    """WITH gaps AS (
      |  SELECT user_id,
      |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      |  FROM events)
      |SELECT user_id, count(*) AS n_events, count(gap_us) AS n_gaps,
      |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
      |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
      |FROM gaps GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Watermark delays [[evLatenessProfile]] measures, in µs: 0, 1 min,
    * 5 min, 15 min — the range a streaming deployment actually tunes
    * over. */
  val LatenessDelaysUs: Seq[Long] = Seq(0L, 60000000L, 300000000L, 900000000L)
  /** The profile's arrival model: each client uploads with a
    * DETERMINISTIC per-user uplink lag of (user_id·7919 mod 600)
    * seconds — the straggling-device phenomenon that CAUSES late data
    * (the testdata's event_id order carries zero disorder: measured
    * max lateness −4.7 s, so a profile on raw ingest order would be
    * inert). Modular over a prime keeps the lag family
    * reproducible in ANSI SQL, so the whole replay is oracle-exact. */
  val LatenessMaxLagS = 600L
  /** Arrival micro-batch = arrival MINUTE: the watermark advances at
    * batch boundaries only — Structured Streaming updates it between
    * micro-batches, never mid-batch — and batch count is time-bounded
    * (minutes of retention), not corpus-bound. */
  val LatenessBatchUs = 60000000L

  /** WATERMARK TUNING PROFILE — the one-table answer to "what
    * withWatermark delay do we deploy": for each candidate delay, how
    * many events the watermark would have dropped as too-late, under
    * the deterministic straggler arrival model ([[LatenessMaxLagS]]):
    * arrival = event time + per-user uplink lag, watermark per arrival
    * batch = max ARRIVED event time over all PRIOR batches (the exact
    * Structured Streaming advance rule), an event dropped iff its
    * event time < watermark − delay. Every `ev_stream_*` op in this
    * registry carries a watermark; this is the meter that says what
    * that watermark costs in data loss before the stream is deployed —
    * drop_ppm at the deployed delay is the standing data-loss SLO, and
    * the curve's zero point (here: delay ≥ the lag spread) is the
    * smallest safe setting. Shape: one partial-aggregated scan →
    * batch-max catalog, a prefix-max window over that catalog, one
    * unhinted equi-join back (AQE broadcasts the catalog side); the
    * delay levels multiply only the rollup. Integer µs end to end. */
  def evLatenessProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
      .select($"event_id", $"user_id", unix_micros($"ts").as("us"))
      .withColumn("arr_us",
        $"us" + ($"user_id" * 7919L % LatenessMaxLagS) * 1000000L)
      .withColumn("b", expr(s"arr_us div $LatenessBatchUs"))
    val bmax = ev.groupBy($"b").agg(max($"us").as("bm"))
    val wm = bmax
      .withColumn("wm_us", max($"bm").over(
        Window.orderBy($"b").rowsBetween(Window.unboundedPreceding, -1)))
      .select($"b", $"wm_us")
    // ONE corpus-width pass: each delay level is a conditional
    // aggregate over the same rows (a cross-join against the level
    // table would push every event through the aggregation 4×); the
    // per-level explode runs on the single rolled-up row
    val aggs = LatenessDelaysUs.map(dl =>
      sum(when($"wm_us".isNotNull && $"us" < $"wm_us" - dl, 1L)
        .otherwise(0L)).as(s"d_$dl"))
    ev.join(wm, "b")
      .agg(count(lit(1)).as("n_total"), aggs: _*)
      .select(
        explode(map(LatenessDelaysUs.flatMap(dl =>
          Seq(lit(dl), col(s"d_$dl"))): _*)).as(Seq("delay_us", "n_dropped")),
        $"n_total")
      .select($"delay_us", $"n_dropped",
        ($"n_total" - $"n_dropped").as("n_kept"),
        expr("(1000000L * n_dropped) div n_total").as("drop_ppm"))
      .orderBy($"delay_us")
  }
  val evLatenessProfileSql: String =
    s"""WITH ev0 AS (SELECT event_id, epoch_us(ts) AS us,
       |               epoch_us(ts) + (user_id * 7919 % $LatenessMaxLagS) * 1000000
       |                 AS arr_us
       |             FROM events),
       |ev AS (SELECT event_id, us, arr_us // $LatenessBatchUs AS b FROM ev0),
       |bmax AS (SELECT b, max(us) AS bm FROM ev GROUP BY b),
       |wm AS (SELECT b, max(bm) OVER (ORDER BY b
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_us
       |       FROM bmax),
       |lv AS (SELECT unnest([${LatenessDelaysUs.mkString(", ")}]) AS delay_us),
       |j AS (SELECT l.delay_us,
       |        CASE WHEN w.wm_us IS NOT NULL AND e.us < w.wm_us - l.delay_us
       |             THEN 1 ELSE 0 END AS dropped
       |      FROM ev e JOIN wm w USING (b) CROSS JOIN lv l)
       |SELECT CAST(delay_us AS BIGINT) AS delay_us,
       |  CAST(sum(dropped) AS BIGINT) AS n_dropped,
       |  CAST(count(*) - sum(dropped) AS BIGINT) AS n_kept,
       |  CAST((1000000 * sum(dropped)) // count(*) AS BIGINT) AS drop_ppm
       |FROM j GROUP BY delay_us ORDER BY delay_us""".stripMargin

  /** Rank-based anomaly flagging: the top 1% of events per event_type
    * by value — distribution-free (no mean/stddev float model, so no
    * float crosses the oracle boundary; the repo's float-free
    * contract) and robust to heavy tails where a z-score isn't.
    *
    * The window's (value DESC, event_id) order is total, so the flag
    * set is deterministic on both engines; output is integer/string
    * only. Scale note: a per-type row_number sorts each event_type
    * partition in one task — with few types that partition is
    * corpus-sized, so at 100 TB the production form is two-pass
    * threshold selection (approx_percentile cutoff per type —
    * catalog-sized — then one map-only scan-filter); the exact
    * window here is the oracle-checkable correctness form of the
    * same semantics, and the two-pass form is exactly how
    * [[graft.operators.RelationalOps.qSaltedAgg]]-style skew guards
    * restructure hot keys. */
  def evAnomaly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value".desc, $"event_id")
    val n = Window.partitionBy($"event_type")
    events(s, d)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(n))
      .filter(lit(100L) * $"rank" <= $"n")
      .select($"event_type", $"rank", $"event_id", $"user_id")
      .orderBy($"event_type", $"rank")
  }
  val evAnomalySql: String =
    """WITH r AS (
      |  SELECT event_type, event_id, user_id,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |           ORDER BY value DESC, event_id) AS BIGINT) AS rank,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, rank, event_id, user_id
      |FROM r WHERE 100 * rank <= n ORDER BY event_type, rank""".stripMargin

  /** [[evAnomaly]]'s documented two-pass production shape made
    * literal, as a STREAM: pass 1 (batch, index-build side) computes
    * the per-type cutoff — the (value, event_id) of the LAST flagged
    * row in the rank order, one row per event_type, catalog-scale at
    * any corpus size; pass 2 filters the live stream against that
    * table. The stream side is STATELESS (an inner stream-static join
    * + filter — no watermark, no state store): each arriving event is
    * flagged by comparing against the bounded threshold table, which
    * is how a production detector runs (thresholds refreshed
    * periodically from batch, applied in-stream at wire rate).
    *
    * The cutoff comparison reproduces the batch flag set EXACTLY —
    * flagged ⇔ (value, −event_id) ≥ the cutoff pair lexicographically
    * — so the same DuckDB oracle checks both forms (types with
    * n < 100 have no cutoff row and are dropped by the inner join,
    * matching floor(n/100) = 0). Both engines compare doubles each
    * parsed from the same parquet, so no cross-engine float boundary
    * exists; output is integer/string only. */
  def evStreamAnomaly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value".desc, $"event_id")
    val n = Window.partitionBy($"event_type")
    // threshold table: unhinted (data-derived — the ScaleSpec rule);
    // one row per event_type, so any planner broadcasts it on size
    val thr = events(s, d)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(n))
      .filter(lit(100L) * $"rank" <= $"n")
      .groupBy($"event_type".as("t_type"))
      .agg(max_by($"value", $"rank").as("thr_value"),
        max_by($"event_id", $"rank").as("thr_eid"))
    val flagged = eventsStream(s, d)
      .join(thr, $"event_type" === $"t_type" &&
        ($"value" > $"thr_value" ||
          ($"value" === $"thr_value" && $"event_id" <= $"thr_eid")))
      .select($"event_type", $"event_id", $"user_id")
    val t = Streams.toTable(s, flagged, "graft_anom_" + math.abs(d.hashCode),
      "append", Sizing.tableParts(s, d, "events"))
    t.orderBy($"event_type", $"event_id")
  }
  val evStreamAnomalySql: String =
    """WITH r AS (
      |  SELECT event_type, event_id, user_id,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |           ORDER BY value DESC, event_id) AS BIGINT) AS rank,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, event_id, user_id
      |FROM r WHERE 100 * rank <= n ORDER BY event_type, event_id""".stripMargin

  /** Top-k event types per 15-minute tumbling window — the "what's
    * trending in each window" leaderboard. Counts aggregate with
    * map-side partials on (window, type) — one shuffle of partial
    * counts — then the rank window repartitions to window-sized groups
    * (≤ |types| rows each): both exchanges move aggregate-sized data,
    * never raw events, so the op is corpus-linear with a catalog-sized
    * tail. (n DESC, event_type) is a total order per window, so the
    * k-cut is deterministic cross-engine. */
  def evTopKPerWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = events(s, d)
      .groupBy(window($"ts", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w_start"), $"event_type", $"n")
    val w = Window.partitionBy($"w_start").orderBy($"n".desc, $"event_type")
    counts.withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 2)
      .orderBy($"w_start", $"rnk")
  }
  val evTopKPerWindowSql: String =
    """WITH c AS (
      |  SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS w_start,
      |    event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT w_start, event_type, n,
      |    CAST(row_number() OVER (PARTITION BY w_start
      |           ORDER BY n DESC, event_type) AS BIGINT) AS rnk
      |  FROM c)
      |SELECT w_start, event_type, n, rnk
      |FROM r WHERE rnk <= 2 ORDER BY w_start, rnk""".stripMargin

  /** Zero-filled hourly event rates: the monitoring-grade rate series
    * where an hour with NO events must surface as an explicit 0 row,
    * not a gap (a gap is invisible to a threshold alert — the silent
    * failure mode this op exists to prevent). The dense (hour × type)
    * grid is generated from the corpus's own time bounds: its size is
    * time-range × |event types| — bounded by the CALENDAR, not the
    * corpus, so the grid build and the left join against hourly
    * partial counts stay catalog-scale at any event volume; raw events
    * are touched exactly once by the counting aggregate. */
  def evRateFill(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bounds = events(s, d)
      .agg(date_trunc("hour", min($"ts")).as("h0"),
        date_trunc("hour", max($"ts")).as("h1"))
    val grid = bounds
      .select(explode(sequence($"h0", $"h1", expr("interval 1 hour"))).as("w_start"))
    val types = events(s, d).select($"event_type").distinct()
    val counts = events(s, d)
      .groupBy(date_trunc("hour", $"ts").as("w_start"), $"event_type")
      .agg(count(lit(1)).as("n0"))
    grid.crossJoin(types) // calendar × catalog — tiny by construction
      .join(counts, Seq("w_start", "event_type"), "left")
      .select($"w_start", $"event_type", coalesce($"n0", lit(0L)).as("n"))
      .orderBy($"w_start", $"event_type")
  }
  val evRateFillSql: String =
    """WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
      |             date_trunc('hour', max(ts)) AS h1 FROM events),
      |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS w_start FROM b),
      |ty AS (SELECT DISTINCT event_type FROM events),
      |c AS (SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n0
      |      FROM events GROUP BY 1, 2)
      |SELECT g.w_start, t.event_type, CAST(COALESCE(c.n0, 0) AS BIGINT) AS n
      |FROM grid g CROSS JOIN ty t
      |LEFT JOIN c ON c.w_start = g.w_start AND c.event_type = t.event_type
      |ORDER BY g.w_start, t.event_type""".stripMargin

  /** Per-user lifetime rollup — the user-dimension build every event
    * warehouse materializes (first/last seen, volume, breadth,
    * lifetime span). ONE partial-aggregated groupBy on user_id; the
    * distinct-type count rewrites to a two-phase aggregate under the
    * same exchange. Output is user-catalog-sized at any event volume,
    * and every derived column is integer/timestamp — nothing for a
    * comparator to wobble on. */
  def evUserLifetime(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy($"user_id")
      .agg(min($"ts").as("first_ts"), max($"ts").as("last_ts"),
        count(lit(1)).as("n_events"),
        countDistinct($"event_type").as("n_types"))
      .withColumn("lifetime_days",
        datediff($"last_ts".cast("date"), $"first_ts".cast("date")).cast("long"))
      .orderBy($"user_id")
  }
  val evUserLifetimeSql: String =
    """SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
      |  count(*) AS n_events, count(DISTINCT event_type) AS n_types,
      |  CAST(date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
      |    AS BIGINT) AS lifetime_days
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Burst detection: each user's peak 15-minute window — the
    * bot/abuse screening signal (a human's peak rate is bounded; a
    * scraper's is not). Counts aggregate on (user, window) with
    * map-side partials; the per-user argmax is a rank window over
    * user-sized groups with a total (n DESC, w_start) order, so the
    * peak is deterministic even when two windows tie. Both shuffles
    * move aggregate rows only. */
  def evBurstDetect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = events(s, d)
      .groupBy($"user_id", window($"ts", "15 minutes"))
      .agg(count(lit(1)).as("peak_n"))
      .select($"user_id", $"window.start".as("peak_w_start"), $"peak_n")
    val w = Window.partitionBy($"user_id").orderBy($"peak_n".desc, $"peak_w_start")
    counts.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"peak_w_start", $"peak_n")
      .orderBy($"user_id")
  }
  val evBurstDetectSql: String =
    """WITH c AS (
      |  SELECT user_id,
      |    make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS peak_w_start,
      |    count(*) AS peak_n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, peak_w_start, peak_n,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY peak_n DESC, peak_w_start) AS rn
      |  FROM c)
      |SELECT user_id, peak_w_start, peak_n
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Streaming leaderboard: the [[evTopKPerWindow]] aggregation run as
    * a Structured Streaming query (complete-mode windowed counts into
    * a result table) with the rank cut applied to the materialized
    * table — the standard split for rank-after-aggregate in streaming,
    * where ranking inside the stream would need complete-mode state
    * over every window anyway. Oracle: identical to the batch op, the
    * stream/batch parity contract every ev_stream_* op carries. */
  def evStreamTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val name = "graft_stream_topk_" + math.abs(d.hashCode).toString
    val stream = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val t = Streams.toTable(s, stream, name, "complete", Sizing.tableParts(s, d, "events"))
      .select($"w.start".as("w_start"), $"event_type", $"n")
    val w = Window.partitionBy($"w_start").orderBy($"n".desc, $"event_type")
    t.withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 2)
      .orderBy($"w_start", $"rnk")
  }

  /** Event-type co-occurrence graph build (the bipartite projection:
    * user × type → type × type): for each unordered type pair, how
    * many users emit both — the edge-weight table behind "users who do
    * X also do Y". Shape: the distinct (user, type) reduction comes
    * first (one map-side-combined shuffle — the corpus touch), then
    * the per-user pair expansion is |types-per-user|² with the type
    * CATALOG as its ceiling, so the projection is corpus-linear with a
    * catalog-bounded blowup; output ≤ |types|² rows. The same shape at
    * 100 TB projects user×item graphs with a per-user degree cap. */
  def evCooccurrence(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ut = events(s, d).select($"user_id", $"event_type").distinct()
    ut.toDF("u", "ta").join(ut.toDF("u", "tb"), "u")
      .filter($"ta" < $"tb")
      .groupBy($"ta".as("type_a"), $"tb".as("type_b"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"type_a", $"type_b")
  }
  val evCooccurrenceSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  count(*) AS n_users
      |FROM ut a JOIN ut b
      |  ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin

  /** First-order event-type transition counts (the Markov-chain /
    * clickstream-mining table): per user, consecutive event pairs in
    * (ts, event_id) order, rolled up to (from_type, to_type, n). One
    * shuffle on user_id for the lead window, then a catalog-sized
    * (|types|²) aggregate with map-side partials — the canonical
    * sequence-mining shape at any event volume. */
  def evTransitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events(s, d)
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"from_type", $"to_type")
  }
  val evTransitionsSql: String =
    """WITH nx AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events)
      |SELECT from_type, to_type, count(*) AS n
      |FROM nx WHERE to_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

  /** Time-to-convert: per user, the integer-µs gap from their FIRST
    * 'view' to the first 'purchase' AT OR AFTER it (a purchase in the
    * same µs counts, gap 0) — the attribution-window primitive. Both
    * anchors are min-aggregates per user (map-side partials, one
    * user_id shuffle shared by construction), the "at or after"
    * constraint is a conditional min, and everything is integer µs
    * so the oracle compare is exact. Users who never view or never
    * convert after viewing are excluded identically on both engines. */
  def evTimeToConvert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d).select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val firstView = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("view_us"))
    ev.filter($"event_type" === "purchase")
      .join(firstView, "user_id")
      .filter($"us" >= $"view_us")
      .groupBy($"user_id")
      .agg(min($"us").as("purchase_us"), min($"view_us").as("view_us2"))
      .select($"user_id", ($"purchase_us" - $"view_us2").as("convert_us"))
      .orderBy($"user_id")
  }
  val evTimeToConvertSql: String =
    """WITH fv AS (
      |  SELECT user_id, min(epoch_us(ts)) AS view_us
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |cv AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us, min(fv.view_us) AS view_us
      |  FROM events e JOIN fv ON fv.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fv.view_us
      |  GROUP BY e.user_id)
      |SELECT user_id, CAST(purchase_us - view_us AS BIGINT) AS convert_us
      |FROM cv ORDER BY user_id""".stripMargin

  /** Cohort churn table: per signup-DAY cohort (first event's day —
    * this corpus's signups concentrate in days, so a week grid would
    * collapse to one cohort), how many users went silent — last
    * event more than 7 days before the corpus's end — in integer ppm.
    * The per-user rollup is one partial-aggregated shuffle; the corpus
    * end is a 1-row scalar (the documented scalar-totals crossJoin
    * exception) and the cohort rollup is week-catalog-sized. The churn
    * horizon anchors to the DATA's end, not wall-clock, so the op is
    * deterministic and re-runnable. */
  def evChurnCohort(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ul = events(s, d).groupBy($"user_id")
      .agg(min($"ts").as("first_ts"), max($"ts").as("last_ts"))
      .select($"user_id",
        datediff($"first_ts".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("cohort_day"),
        unix_micros($"last_ts").as("last_us"))
    val end = events(s, d).agg(max(unix_micros($"ts")).as("end_us"))
    ul.crossJoin(end) // 1-row scalar total — the documented exception
      .withColumn("churned",
        when($"last_us" < $"end_us" - lit(7L * 86400L * 1000000L), 1L).otherwise(0L))
      .groupBy($"cohort_day")
      .agg(count(lit(1)).as("n_users"), sum($"churned").as("n_churned"))
      .select($"cohort_day", $"n_users", $"n_churned",
        expr("(1000000L * n_churned) div n_users").as("churn_ppm"))
      .orderBy($"cohort_day")
  }
  val evChurnCohortSql: String =
    """WITH ul AS (
      |  SELECT user_id,
      |    date_diff('day', DATE '1970-01-01', CAST(min(ts) AS DATE)) AS cohort_day,
      |    max(epoch_us(ts)) AS last_us
      |  FROM events GROUP BY user_id),
      |e AS (SELECT max(epoch_us(ts)) AS end_us FROM events)
      |SELECT CAST(cohort_day AS BIGINT) AS cohort_day, count(*) AS n_users,
      |  CAST(sum(CASE WHEN last_us < end_us - 604800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
      |  CAST((1000000 * sum(CASE WHEN last_us < end_us - 604800000000 THEN 1 ELSE 0 END))
      |    // count(*) AS BIGINT) AS churn_ppm
      |FROM ul, e GROUP BY cohort_day ORDER BY cohort_day""".stripMargin

  /** Daily + rolling-7-day active users (the DAU/WAU table): exact
    * distinct users per day and per trailing week. Distinct-over-a-
    * sliding-window doesn't decompose into window-function partials,
    * so the standard exact shape is: (1) reduce the corpus to the
    * DISTINCT (day, user) set — the only corpus-sized step, one
    * map-side-combined shuffle; (2) expand each such row to the ≤7
    * calendar days whose trailing window contains it (map-side
    * sequence explode, calendar-bounded blowup); (3) count distinct
    * users per day. At 100 TB step 1 dominates and steps 2–3 are
    * (days × weekly-active) sized. Approximate variants (HLL partial
    * merge) trade this exactness for one pass — [[RelationalOps]]'s
    * q_approx_distinct documents that path. */
  def evActiveUsers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val du = events(s, d)
      .select(datediff($"ts".cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"), $"user_id")
      .distinct()
    val dau = du.groupBy($"day").agg(countDistinct($"user_id").as("dau"))
    val wau = du
      .select(explode(expr("sequence(day, day + 6)")).as("day"), $"user_id")
      .groupBy($"day").agg(countDistinct($"user_id").as("wau"))
    // trailing windows that start before the corpus have partial data;
    // keep only days that themselves have events (inner join on dau)
    dau.join(wau, "day")
      .select($"day", $"dau", $"wau")
      .orderBy($"day")
  }
  val evActiveUsersSql: String =
    """WITH du AS (
      |  SELECT DISTINCT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |    user_id
      |  FROM events),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY day),
      |ex AS (SELECT unnest([day + i for i in range(0, 7)]) AS day, user_id FROM du),
      |wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM ex GROUP BY day)
      |SELECT CAST(d.day AS BIGINT) AS day, d.dau, w.wau
      |FROM dau d JOIN wau w USING (day)
      |ORDER BY day""".stripMargin
}
