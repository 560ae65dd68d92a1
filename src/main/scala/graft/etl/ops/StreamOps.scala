package graft.etl.ops

import graft.etl.{QueryDef, Tables}
import graft.etl.Dets._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.J streaming operators, declared in batch-equivalent form (Verify
  * writes Parquet). The aggregation cores (`tumblingAgg`/`slidingAgg`/
  * `sessionAgg`) are shared verbatim with the Structured Streaming suite
  * (StreamingSpec) which runs them under MemoryStream + watermark — the
  * same code, micro-batched, proving watermark/state semantics.
  *
  * D6: window bounds are emitted as epoch seconds/micros BIGINT, never raw
  * timestamps (events.ts is ns in Parquet, µs in Spark, ns in DuckDB).
  * Spark tumbling/sliding windows align to the epoch origin — the DuckDB
  * oracle replicates alignment with time_bucket / double-bucket unnest,
  * and session bounds with a gaps-and-islands rewrite (a gap STRICTLY
  * greater than 30 min opens a new session — Spark's session_window merges
  * an event landing exactly on the previous session's end).
  */
object StreamOps {

  /** Shared with StreamingSpec: count/sum per (1h tumbling window, type). */
  def tumblingAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(d124(col("value"))).cast(DecimalType(38, 4)).as("sum_value"))

  private val qstreamTumbling = QueryDef(
    "qstream_tumbling",
    build = (spark, sfDir) =>
      tumblingAgg(Tables.events(spark, sfDir))
        .select(col("window.start").cast(LongType).as("ws"), col("event_type"),
          col("n"), decStr(col("sum_value")).as("sum_value"))
        .orderBy(col("ws"), col("event_type")),
    oracle = Some(
      "WITH e AS (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w, " +
        "event_type, CAST(value AS DECIMAL(12,4)) AS v FROM events) " +
        "SELECT CAST(epoch_us(w) // 1000000 AS BIGINT) AS ws, event_type, " +
        "count(*) AS n, CAST(CAST(sum(v) AS DECIMAL(38,4)) AS STRING) AS sum_value " +
        "FROM e GROUP BY w, event_type ORDER BY ws, event_type"))

  /** Shared with StreamingSpec: 1h windows sliding 30min (2 per event). */
  def slidingAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(d124(col("value"))).cast(DecimalType(38, 4)).as("sum_value"))

  private val qstreamSliding = QueryDef(
    "qstream_sliding",
    build = (spark, sfDir) =>
      slidingAgg(Tables.events(spark, sfDir))
        .select(col("window.start").cast(LongType).as("ws"), col("n"), decStr(col("sum_value")).as("sum_value"))
        .orderBy(col("ws")),
    oracle = Some(
      "WITH e AS (SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS b, " +
        "CAST(value AS DECIMAL(12,4)) AS v FROM events), " +
        "x AS (SELECT unnest([b, b - INTERVAL '30 minutes']) AS w, v FROM e) " +
        "SELECT CAST(epoch_us(w) // 1000000 AS BIGINT) AS ws, count(*) AS n, " +
        "CAST(CAST(sum(v) AS DECIMAL(38,4)) AS STRING) AS sum_value " +
        "FROM x GROUP BY w ORDER BY ws"))

  /** Shared with StreamingSpec: per-user 30-min-gap session windows. */
  def sessionAgg(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  private val qstreamSession = QueryDef(
    "qstream_session",
    build = (spark, sfDir) =>
      sessionAgg(Tables.events(spark, sfDir))
        .select(
          col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          col("n_events"),
          (unix_micros(col("session_window.end")) - unix_micros(col("session_window.start"))
            - lit(30L * 60 * 1000000)).as("dur_us"))
        .orderBy(col("user_id"), col("start_us")),
    oracle = Some(
      "WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        // strictly greater: Spark merges an event at exactly last+gap
        // (verified in StreamingSpec "session gap semantics")
        "g AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
        "OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "s AS (SELECT user_id, ts, sum(new_s) OVER " +
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
        "SELECT user_id, epoch_us(min(ts)) AS start_us, count(*) AS n_events, " +
        "epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, start_us"))

  /** Batch analogue of streaming dropDuplicatesWithinWatermark: exact dedup
    * on (user_id, event_type, ts) keeping min event_id (D8 — never an
    * arbitrary keeper). */
  private val qstreamDedup = QueryDef(
    "qstream_dedup",
    build = (spark, sfDir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"), col("ts"))
        .orderBy(col("event_id"))
      Tables.events(spark, sfDir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .orderBy(col("event_id"))
    },
    oracle = Some(
      "WITH d AS (SELECT event_id, user_id, event_type, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, " +
        "row_number() OVER (PARTITION BY user_id, event_type, ts ORDER BY event_id) AS rn " +
        "FROM events) " +
        "SELECT event_id, user_id, event_type, ts_us FROM d WHERE rn = 1 ORDER BY event_id"))

  /** Per-user click→purchase funnel in pure relational shape: for each
    * user with at least one purchase, the first purchase timestamp and the
    * number of clicks STRICTLY before it (strict inequality makes the
    * result independent of same-timestamp ordering, D8).
    *
    * Deliberately NOT a per-key stateful fold: a min-aggregate plus one
    * equi-join plus a conditional count keeps executor memory O(1) per
    * key — a bot-grade user with 10⁸ clicks costs rows, never a buffered
    * per-key vector. The stateful form (bounded, watermark-compacted)
    * lives in [[funnelStream]] where incremental emission actually
    * requires state. Both shuffles key on `user_id`, so at 100 TB this is
    * two key-partitioned passes over the (click, purchase) projection. */
  def funnel(events: DataFrame): DataFrame = {
    val e = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val firstPurchase = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("first_purchase_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"))
    firstPurchase.join(clicks, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("first_purchase_us"))
      .agg(count(when(col("ts_us") < col("first_purchase_us"), 1)).as("n_clicks_before"))
  }

  /** Incremental funnel under Structured Streaming with BOUNDED per-key
    * state. Events later than the watermark are ignored (the same contract
    * watermarked aggregations give), which makes the state compactable:
    * [[FunnelState.compact]] folds every click that can no longer change
    * classification into a plain counter, so the retained vector holds
    * only clicks inside the watermark horizon — O(arrival rate × delay),
    * not O(events-per-key). Idle keys are evicted by an event-time
    * timeout: after `idleEvict` of watermark progress with no traffic the
    * state is emitted (if a purchase exists) and removed.
    */
  def funnelStream(events: DataFrame, watermarkDelay: String,
      idleEvict: java.time.Duration): org.apache.spark.sql.Dataset[FunnelResult] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    events
      .filter(col("event_type").isin("click", "purchase"))
      .withWatermark("ts", watermarkDelay)
      // the watermarked `ts` must survive into the stateful operator's
      // input (the analyzer rejects event-time timeout otherwise), so the
      // typed row carries both it and the µs long the state machine uses
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .as[FunnelStreamEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[FunnelStreamEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val res = state.get.result(uid)
            state.remove() // evict: no-purchase keys leave nothing behind
            res.iterator
          } else {
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val evs = it.filter(_.ts_us >= wmUs).toVector // late beyond watermark: dropped
            val st = FunnelState.compact(
              evs.map(e => FunnelEvent(e.user_id, e.ts_us, e.event_type))
                .foldLeft(state.getOption.getOrElse(FunnelState.empty))(FunnelState.update),
              wmUs)
            state.update(st)
            // idle timeout anchored to the newest EVENT time for this key
            // (never the bare watermark: pre-first-watermark that is 0 and
            // the timeout would land decades in the past, evicting the key
            // the moment the watermark first advances)
            val lastSeenMs = math.max(
              state.getCurrentWatermarkMs(),
              if (evs.isEmpty) 0L else evs.map(_.ts_us).max / 1000L)
            state.setTimeoutTimestamp(lastSeenMs + idleEvict.toMillis)
            st.result(uid).iterator
          }
      }
  }

  private val qstreamFunnel = QueryDef(
    "qstream_funnel",
    build = (spark, sfDir) =>
      funnel(Tables.events(spark, sfDir))
        .orderBy(col("user_id")),
    oracle = Some(
      "WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type " +
        "FROM events WHERE event_type IN ('click', 'purchase')), " +
        "p AS (SELECT user_id, min(us) AS fp FROM e WHERE event_type = 'purchase' GROUP BY user_id) " +
        "SELECT p.user_id, p.fp AS first_purchase_us, " +
        "count(CASE WHEN e.event_type = 'click' AND e.us < p.fp THEN 1 END) AS n_clicks_before " +
        "FROM p JOIN e ON e.user_id = p.user_id " +
        "GROUP BY p.user_id, p.fp ORDER BY p.user_id"))

  /** Stream-stream interval join, batch-equivalent form: for each
    * purchase, the clicks by the same user inside the trailing 24 h
    * window `(p.ts − 24h, p.ts]` — exactly the bounded-liveness condition
    * a Structured Streaming stream-stream join needs to GC state (the
    * range bound IS the watermark retention bound; StreamingSpec runs the
    * same join shape under MemoryStream + watermark). Batch plan: equi
    * key user_id + range residual → one key-partitioned shuffle join, no
    * nested loop; -1 marks purchases with no prior click (BIGINT-stable,
    * D15). */
  private val qstreamJoin = QueryDef(
    "qstream_join",
    build = (spark, sfDir) => {
      val ev = Tables.events(spark, sfDir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("p_user"),
          unix_micros(col("ts")).as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_us"))
      p.join(c, col("c_user") === col("p_user")
          && col("c_us") > col("p_us") - 86400000000L && col("c_us") <= col("p_us"), "left")
        .groupBy(col("event_id"), col("p_user"))
        .agg(count(col("c_us")).as("n_clicks_24h"),
          coalesce(min(col("c_us")), lit(-1L)).as("first_click_us"))
        .select(col("event_id"), col("p_user").as("user_id"),
          col("n_clicks_24h"), col("first_click_us"))
        .orderBy(col("event_id"))
    },
    oracle = Some(
      "WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events WHERE event_type = 'click') " +
        "SELECT p.event_id, p.user_id, count(c.ts_us) AS n_clicks_24h, " +
        "coalesce(min(c.ts_us), -1) AS first_click_us " +
        "FROM p LEFT JOIN c ON p.user_id = c.user_id " +
        "AND c.ts_us > p.ts_us - 86400000000 AND c.ts_us <= p.ts_us " +
        "GROUP BY p.event_id, p.user_id ORDER BY p.event_id"))

  /** Shared with StreamingSpec: stream-static enrichment — events joined
    * to a broadcast dimension (user → market segment via the
    * `c_custkey − 1 = user_id` fixture mapping), then the tumbling
    * count/sum per (window, segment). The static side needs NO watermark
    * or state in Structured Streaming — a broadcast hash join per
    * micro-batch, the canonical dimension-enrichment shape; the windowed
    * aggregate after it carries the usual event-time state. The broadcast
    * hint assumes a dimension that fits executor memory (segments,
    * catalogs); for a billion-row user dim drop the hint — stream-static
    * joins also run as per-micro-batch shuffle joins. */
  def enrichAgg(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), "user_id")
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("n"), sum(d124(col("value"))).cast(DecimalType(38, 4)).as("sum_value"))

  /** The broadcast dimension for [[enrichAgg]]. */
  def userSegments(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select((col("c_custkey") - 1).cast(LongType).as("user_id"),
        col("c_mktsegment").as("segment"))

  private val qstreamEnrich = QueryDef(
    "qstream_enrich",
    build = (spark, sfDir) =>
      enrichAgg(Tables.events(spark, sfDir), userSegments(spark, sfDir))
        .select(col("window.start").cast(LongType).as("ws"), col("segment"),
          col("n"), decStr(col("sum_value")).as("sum_value"))
        .orderBy(col("ws"), col("segment")),
    oracle = Some(
      "WITH d AS (SELECT c_custkey - 1 AS user_id, c_mktsegment AS segment FROM customer), " +
        "e AS (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w, user_id, " +
        "CAST(value AS DECIMAL(12,4)) AS v FROM events) " +
        "SELECT CAST(epoch_us(w) // 1000000 AS BIGINT) AS ws, segment, count(*) AS n, " +
        "CAST(CAST(sum(v) AS DECIMAL(38,4)) AS STRING) AS sum_value " +
        "FROM e JOIN d USING (user_id) GROUP BY w, segment ORDER BY ws, segment"))

  /** Windowed top-k: the 2 busiest event types per tumbling hour (count
    * desc, type asc tiebreak — D8/D9 deterministic). In Structured
    * Streaming the rank cannot ride inside the streaming query (window
    * functions over an aggregate aren't supported on streaming frames);
    * the standard pattern — which this batch form mirrors — ranks the
    * complete-mode sink table per trigger, downstream of the stateful
    * aggregation. Scale: the rank window partitions by the hour bucket
    * over the ALREADY-AGGREGATED (window × type) frame — |types| rows per
    * partition, never raw events. */
  private val qstreamTopk = QueryDef(
    "qstream_topk",
    build = (spark, sfDir) => {
      val w = Window.partitionBy(col("ws")).orderBy(col("n").desc, col("event_type"))
      tumblingAgg(Tables.events(spark, sfDir))
        .select(col("window.start").cast(LongType).as("ws"), col("event_type"), col("n"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .orderBy(col("ws"), col("rnk"))
    },
    oracle = Some(
      "WITH e AS (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w, " +
        "event_type FROM events), " +
        "a AS (SELECT CAST(epoch_us(w) // 1000000 AS BIGINT) AS ws, event_type, count(*) AS n " +
        "FROM e GROUP BY 1, 2), " +
        "r AS (SELECT ws, event_type, n, CAST(row_number() OVER " +
        "(PARTITION BY ws ORDER BY n DESC, event_type) AS BIGINT) AS rnk FROM a) " +
        "SELECT ws, event_type, n, rnk FROM r WHERE rnk <= 2 ORDER BY ws, rnk"))

  /** Watermark LATE-ARRIVAL accounting — the capacity-planning question
    * every watermarked pipeline must answer BEFORE picking its allowed
    * lateness ("how much data would a 2 h watermark drop?"). Arrival is
    * simulated with a deterministic per-event transport delay (0–3 h,
    * md5-derived on both engines — no RNG); an event is LATE iff its event
    * time sits more than 2 h behind the maximum event time among STRICTLY
    * EARLIER arrivals — exactly Structured Streaming's global-watermark
    * drop rule. Output: per event-time day, total/late counts + one
    * IEEE-division rate.
    *
    * Scale: the naive form is a running max over the GLOBAL arrival order
    * — a single-partition window sort, one task for the whole stream. Here
    * the prefix-max is two-pass (per-bucket offsets, as in
    * [[graft.api.Graft.globalRanks]]): arrival time buckets
    * to 6 h ranges (order-preserving by construction), per-bucket event-
    * time maxima form a metadata-scale frame whose EXCLUSIVE prefix max
    * comes from a triangular self-join; within-bucket exclusive running
    * max runs partitioned by bucket. watermark_before(i) = greatest(prior
    * buckets' max, same-bucket earlier max) — no global sort anywhere.
    * All comparisons are BIGINT µs. */
  private val qstreamLate = QueryDef(
    "qstream_late",
    build = (spark, sfDir) => {
      val lateUs = 7200000000L // 2 h allowed lateness; arrival buckets are 6 h
      val x = Tables.events(spark, sfDir)
        .withColumn("tu", unix_micros(col("ts")))
        .withColumn("arr",
          col("tu") + (conv(substring(md5(concat(lit("arr:"), col("event_id").cast(StringType))), 1, 4), 16, 10)
            .cast(LongType) % 10800L) * 1000000L)
        .withColumn("bucket", expr("arr div 21600000000"))
      val bmax = x.groupBy(col("bucket")).agg(max(col("tu")).as("bm"))
      val prior = bmax.select(col("bucket").as("b1"))
        .join(bmax.select(col("bucket").as("b2"), col("bm")), col("b2") < col("b1"))
        .groupBy(col("b1")).agg(max(col("bm")).as("prior_max"))
      val win = Window.partitionBy(col("bucket")).orderBy(col("arr"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val flagged = x
        .withColumn("in_bucket_max", max(col("tu")).over(win))
        .join(broadcast(prior.withColumnRenamed("b1", "bucket")), Seq("bucket"), "left")
        .withColumn("wm_base", greatest(
          coalesce(col("prior_max"), lit(Long.MinValue)),
          coalesce(col("in_bucket_max"), lit(Long.MinValue))))
        .withColumn("late",
          col("wm_base") =!= Long.MinValue && col("tu") < col("wm_base") - lateUs)
      flagged
        .groupBy(expr("tu div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
        .select(col("day"), col("n_total"), col("n_late"),
          (col("n_late").cast(DoubleType) / col("n_total").cast(DoubleType)).as("late_rate"))
        .orderBy(col("day"))
    },
    oracle = Some(
      // the oracle uses the straightforward global window — correct at
      // oracle scale; the Spark side must match it with the bucketed form
      "WITH x AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tu, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) + (" +
        "((instr('0123456789abcdef', substring(md5('arr:' || CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 4096 + " +
        "(instr('0123456789abcdef', substring(md5('arr:' || CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 256 + " +
        "(instr('0123456789abcdef', substring(md5('arr:' || CAST(event_id AS VARCHAR)), 3, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substring(md5('arr:' || CAST(event_id AS VARCHAR)), 4, 1)) - 1)) % 10800) " +
        "* 1000000 AS arr FROM events), " +
        "p AS (SELECT *, max(tu) OVER (ORDER BY arr, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM x), " +
        "f AS (SELECT tu // 86400000000 AS day, " +
        "CASE WHEN pm IS NOT NULL AND tu < pm - 7200000000 THEN 1 ELSE 0 END AS late FROM p) " +
        "SELECT day, CAST(count(*) AS BIGINT) AS n_total, CAST(sum(late) AS BIGINT) AS n_late, " +
        "CAST(sum(late) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS late_rate " +
        "FROM f GROUP BY day ORDER BY day"))

  /** CDC latest-state materialization — the "compact a change stream into
    * its current snapshot" op (Kafka-topic → table, upsert-log → serving
    * view): per user, the single latest event by (ts, event_id). Batch
    * semantics pinned here with a row_number window (one partitioned
    * sort, filter rn = 1 map-side after it — the WindowGroupLimit path
    * turns this into a per-key top-1, no full sort retained); the
    * STREAMING twin — `mapGroupsWithState` holding one (ts_us, event_id,
    * type, value) struct per key, emitting updates — runs in
    * StreamingSpec over a MemoryStream and must agree with this batch
    * result on the same rows. Per-key state is ONE fixed-width record —
    * bounded however long the stream runs.
    *
    * Tie-break on event_id makes the "latest" row total-ordered (D8);
    * value rides as the exact DECIMAL(12,4) string (D15). */
  private val qstreamCdc = QueryDef(
    "qstream_cdc",
    build = (spark, sfDir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      Tables.events(spark, sfDir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"),
          graft.etl.Dets.decStr(graft.etl.Dets.d124(col("value"))).as("value"))
        .orderBy(col("user_id"))
    },
    oracle = Some(
      "WITH v AS (SELECT user_id, event_id, event_type, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, " +
        "CAST(CAST(value AS DECIMAL(12,4)) AS STRING) AS value, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY " +
        "epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) AS rn FROM events) " +
        "SELECT user_id, event_id, event_type, ts_us, value FROM v " +
        "WHERE rn = 1 ORDER BY user_id"))

  /** Streaming twin of [[qstreamCdc]]: latest-per-key snapshot held as ONE
    * fixed-width record per key in `mapGroupsWithState` (update-mode
    * emission). Input needs (user_id, ts_us, event_id, event_type, value);
    * the "latest" rule — max (ts_us, event_id) — matches the batch
    * row_number window exactly, so StreamingSpec pins stream ≡ batch.
    * State never grows with stream length: upserts replace in place. */
  def cdcSnapshot(events: DataFrame): org.apache.spark.sql.Dataset[CdcSnap] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val sp = events.sparkSession
    import sp.implicits._
    events
      .select(col("user_id").cast(LongType), col("ts_us").cast(LongType),
        col("event_id").cast(LongType), col("event_type"),
        col("value").cast(StringType))
      .as[CdcEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[CdcEvent], state: GroupState[CdcSnap]) =>
          var cur = state.getOption.orNull
          it.foreach { e =>
            if (cur == null || e.ts_us > cur.ts_us ||
              (e.ts_us == cur.ts_us && e.event_id > cur.event_id))
              cur = CdcSnap(uid, e.ts_us, e.event_id, e.event_type, e.value)
          }
          state.update(cur)
          cur
      }
  }

  def defs: Seq[QueryDef] = Seq(
    qstreamTumbling, qstreamSliding, qstreamSession, qstreamDedup,
    qstreamFunnel, qstreamJoin, qstreamEnrich, qstreamTopk, qstreamLate,
    qstreamCdc)
}

/** Typed rows for [[StreamOps.cdcSnapshot]] (top-level for Encoder
  * derivation, the FunnelEvent note). */
case class CdcEvent(user_id: Long, ts_us: Long, event_id: Long,
    event_type: String, value: String)
case class CdcSnap(user_id: Long, ts_us: Long, event_id: Long,
    event_type: String, value: String)

/** Typed event row for [[FunnelState.update]] (top-level — Spark Encoders
  * cannot derive nested case classes). */
case class FunnelEvent(user_id: Long, ts_us: Long, event_type: String)

/** Streaming variant that also carries the watermarked TimestampType
  * column (the analyzer requires it in the stateful operator's input). */
case class FunnelStreamEvent(
    user_id: Long, ts: java.sql.Timestamp, ts_us: Long, event_type: String)

/** Funnel result row: users with ≥1 purchase only. */
case class FunnelResult(user_id: Long, first_purchase_us: Long, n_clicks_before: Long)

/** Bounded, order-insensitive funnel state for [[StreamOps.funnelStream]].
  *
  * Invariant the bound rests on: events with `ts_us` below the watermark
  * are rejected before [[FunnelState.update]], so any future purchase has
  * `ts ≥ watermark`. [[FunnelState.compact]] then classifies clicks
  * definitively:
  *   - a click `< min(firstPurchaseUs, watermark)` stays before the first
  *     purchase no matter what arrives later → fold into `confirmed`;
  *   - a click `≥ firstPurchaseUs` can never move before it (the first
  *     purchase timestamp only decreases) → drop;
  *   - only clicks in `[watermark, firstPurchaseUs)` stay pending — a
  *     later purchase could still land under them. That window is bounded
  *     by arrival rate × watermark delay, independent of key history.
  */
case class FunnelState(
    firstPurchaseUs: Option[Long], confirmed: Long, pending: Vector[Long]) {
  def result(uid: Long): Option[FunnelResult] =
    firstPurchaseUs.map(fp =>
      FunnelResult(uid, fp, confirmed + pending.count(_ < fp)))
}

object FunnelState {
  val empty: FunnelState = FunnelState(None, 0L, Vector.empty)

  def update(st: FunnelState, e: FunnelEvent): FunnelState =
    if (e.event_type == "purchase")
      st.copy(firstPurchaseUs = Some(st.firstPurchaseUs.fold(e.ts_us)(math.min(_, e.ts_us))))
    else st.copy(pending = st.pending :+ e.ts_us)

  /** Fold definitively-classified clicks out of the pending vector; see
    * the class invariant. Clicks with no purchase seen yet but below the
    * watermark are also confirmable: any future purchase arrives at
    * `ts ≥ watermark`, which is already greater. */
  def compact(st: FunnelState, watermarkUs: Long): FunnelState = {
    val horizon = st.firstPurchaseUs.fold(watermarkUs)(math.min(_, watermarkUs))
    val (done, keep) = st.pending.partition(_ < horizon)
    val stillPossible = st.firstPurchaseUs.fold(keep)(fp => keep.filter(_ < fp))
    st.copy(confirmed = st.confirmed + done.size, pending = stillPossible)
  }
}
