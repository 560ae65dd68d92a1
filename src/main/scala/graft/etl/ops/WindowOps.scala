package graft.etl.ops

import graft.etl.{Ckpt, QueryDef, Tables, TableStats}
import graft.etl.Dets._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.E window functions. Every window ORDER BY carries a unique tiebreak
  * (D9); rank/dense_rank windows order by the value only (their *values*
  * are tie-stable) while row_number gets the tiebreak.
  *
  * Scale: one `Window.partitionBy` spec per query = one shuffle + one sort.
  * `qwin_ntile_dist` is a deliberately global (unpartitioned) window —
  * fine for a dimension table, a documented anti-pattern for facts.
  */
object WindowOps {

  /** row_number / rank / dense_rank per priority — deliberately NOT three
    * raw-row windows over the 5-value `o_orderpriority` key (1/5 of all
    * orders sorted in one partition at 100 TB). All three decompose over
    * the VALUE-aggregated (priority, price) frame: a tie group's
    * `rank` = cum − cnt + 1 and `dense_rank` = its row index there (the
    * domain-bounded window), and `row_number` adds the position within
    * the tie group — a window partitioned by (priority, price), i.e.
    * many tiny partitions, never a fifth of the table. Identical answers
    * to the window form, which is exactly what the oracle runs. */
  private val qwinRank = QueryDef(
    "qwin_rank",
    build = (spark, sfDir) => {
      val o = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val vc = o.groupBy(col("o_orderpriority"), col("o_totalprice"))
        .agg(count(lit(1)).as("cnt"))
      val vw = Window.partitionBy(col("o_orderpriority")).orderBy(desc("o_totalprice"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranks = vc
        .withColumn("cum", sum(col("cnt")).over(vw))
        .withColumn("drnk", row_number().over(
          Window.partitionBy(col("o_orderpriority")).orderBy(desc("o_totalprice"))))
        .select(col("o_orderpriority"), col("o_totalprice"),
          (col("cum") - col("cnt") + 1).cast(IntegerType).as("rnk"), col("drnk"))
      val tw = Window.partitionBy(col("o_orderpriority"), col("o_totalprice"))
        .orderBy(asc("o_orderkey"))
      // Three shapes measured slower at sf30, do not retry:
      // (1) SHUFFLE_HASH on the census side removed the SMJ's fact-side
      // sort and its 3.4 GB spill but cost MORE CPU overall (262 → 350 s
      // in the doubled stage) — the tie window's own sort had been
      // riding the SMJ's sorted runs, and over hash-shuffled input it
      // pays full price; (2) a serialized localCheckpoint before the
      // global sort (to stop the range exchange's boundary-sampling pass
      // re-running the join + window subtree, which Bench --isolate shows as
      // two byte-identical stages) cost more than the re-execution it
      // saved (probe 16.5 → 24.5 s — 45 M-row serialization isn't free);
      // (3) repartitioning the census aggregate on its key (the pagerank
      // rule) removed a 4.6 GB map-side spill but the raw-row exchange
      // cost as much as the spill had (probe 18.7 → 20.6 s on adjacent
      // runs). The SMJ shape below is the measured optimum.
      o.join(ranks, Seq("o_orderpriority", "o_totalprice"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          (col("rnk") + row_number().over(tw) - 1).as("rn"),
          col("rnk"), col("drnk"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },
    oracle = Some(
      "SELECT o_orderkey, o_orderpriority, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn, " +
        "rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk, " +
        "dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS drnk " +
        "FROM orders ORDER BY o_orderpriority, rn"))

  private val qwinTopkGroup = QueryDef(
    "qwin_topk_group",
    build = (spark, sfDir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(spark, sfDir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("o_custkey"), col("rn"))
    },
    oracle = Some(
      "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"))

  private val qwinLagLead = QueryDef(
    "qwin_lag_lead",
    build = (spark, sfDir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(spark, sfDir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(
          col("user_id"), col("event_id"), col("ts_us"),
          (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_prev_us"),
          (lead(col("ts_us"), 1).over(w) - col("ts_us")).as("gap_next_us"))
        .orderBy(col("event_id"))
    },
    oracle = Some(
      "WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events) " +
        "SELECT user_id, event_id, ts_us, " +
        "ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_prev_us, " +
        "lead(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us AS gap_next_us " +
        "FROM e ORDER BY event_id"))

  private val qwinRunning = QueryDef(
    "qwin_running",
    build = (spark, sfDir) => {
      // The qwin_gapfill prefix shape: ONE exchange total.
      // RangePartitioning(o_custkey) clusters the window (so its
      // (custkey, date, orderkey) sort is local) and is an ordering
      // PREFIX of the closing (custkey, orderkey) sort, which therefore
      // also plans LOCAL — the old plan paid a second fact-scale range
      // exchange for the output sort whose boundary sampler re-ran the
      // whole scan+window subtree (probed sf30: the orderBy stage alone
      // was 182 s CPU + 1.08 GB shuffle of the 45 M output rows).
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(spark, sfDir)
        .repartitionByRange(col("o_custkey"))
        .select(
          col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("order_date"),
          decStr(sum(d124(col("o_totalprice"))).over(w).cast(DecimalType(38, 4))).as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    oracle = Some(
      "SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date, " +
        "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS STRING) AS running_total " +
        "FROM orders ORDER BY o_custkey, o_orderkey"))

  /** Fractional RANGE frames need SQL text in Spark (the Scala
    * Window.rangeBetween API is Long-only); the frame SEMANTICS are
    * identical on both engines. Peers at equal `value` are frame-included,
    * so counts are tie-stable (D9). */
  private def rangeFrameSql(table: String): String =
    "SELECT event_id, event_type, value, " +
      "count(*) OVER (PARTITION BY event_type ORDER BY value " +
      "RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW) AS n_in_range " +
      s"FROM $table ORDER BY event_id"

  /** Deliberately NOT the raw-row window the oracle runs: Spark's sliding
    * frame cannot retract, so every lower-bound advance rebuilds the
    * aggregate from the whole frame — O(rows × frame) per partition, and
    * with ~5 event types the partitions are 1/5 of ALL events: at sf30
    * one such task runs 55+ CPU-minutes (6 M rows × ~1 M-row avg frame;
    * invisible under `.count()`, which prunes the window). `n_in_range`
    * is a pure function of (type, VALUE), so it comes from
    * [[graft.api.Graft.rangeCountPreceding]]'s census algebra —
    * F(v) − F(<v−100) off ONE retraction-free running sum, linear in the
    * census (a sliding RANGE frame over the census would still be
    * O(census × frame), a constant ~65 s once the 0.01 value grid
    * saturates at sf ≥ 1).
    * Boundary arithmetic and ordering are the identical IEEE doubles the
    * raw-row window compares, so results stay bit-identical to the
    * oracle (EdgeCaseSpec pins equality, null peers included). */
  private val qwinRangeFrame = QueryDef(
    "qwin_range_frame",
    build = (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"), col("value"))
      // NULL-SAFE join-back: `value` is declared nullable, and the census
      // carries a null row whose frame is exactly its null peer group —
      // the rewrite stays exact for null rows too, but only if the
      // join-back doesn't drop them (null-unsafe `=` would). The fixture
      // never emits null values; this keeps the rewrite's exactness a
      // property of the operator, not of the data.
      val m = graft.api.Graft
        .rangeCountPreceding(e, col("event_type"), col("value"), 100.0)
        .select(col("__p").as("__mt"), col("__v").as("__mv"), col("n_in_range"))
      e.join(broadcast(m),
          col("event_type") <=> col("__mt") && col("value") <=> col("__mv"))
        .select(col("event_id"), col("event_type"), col("value"), col("n_in_range"))
        .orderBy(col("event_id"))
    },
    oracle = Some(rangeFrameSql("events")))

  /** percent_rank/cume_dist are integer-ratio doubles — bit-identical
    * across engines given the same unique ordering; no rounding needed.
    *
    * Deliberately NOT `Window.orderBy` with no partition (that funnels
    * every row through one partition's sort, one task for the whole
    * table): [[graft.api.Graft.globalRanks]] computes the exact global
    * rank from sampled-quantile buckets + broadcast cumulative offsets,
    * and ntile/percent_rank/cume_dist over a UNIQUE ordering are pure
    * functions of (rank, n): ntile via integer sizing, pr = (r-1)/(n-1),
    * cd = r/n — single integer-ratio double divisions, so the values are
    * bit-identical to the oracle's own window functions. PlanSpec pins
    * the executed plan to partitioned windows only. */
  private val qwinNtileDist = QueryDef(
    "qwin_ntile_dist",
    build = (spark, sfDir) => {
      val ranked = graft.api.Graft.globalRanks(
        Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_acctbal")),
        Seq("__rank" -> col("c_acctbal")), Seq(col("c_custkey")))
      ranked.select(
        col("c_custkey"), col("c_acctbal"),
        graft.api.Graft.ntileFromRank(col("__rank"), col("__n"), 4).as("quartile"),
        when(col("__n") === 1, lit(0.0)).otherwise(
          (col("__rank") - 1).cast(DoubleType) / (col("__n") - 1).cast(DoubleType)).as("pr"),
        (col("__rank").cast(DoubleType) / col("__n").cast(DoubleType)).as("cd"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some(
      "SELECT c_custkey, c_acctbal, " +
        "ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile, " +
        "percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS pr, " +
        "cume_dist() OVER (ORDER BY c_acctbal, c_custkey) AS cd " +
        "FROM customer ORDER BY c_custkey"))

  private val qwinFirstLast = QueryDef(
    "qwin_first_last",
    build = (spark, sfDir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(spark, sfDir)
        .select(
          col("o_orderkey"), col("o_custkey"),
          first_value(col("o_totalprice")).over(w).as("first_price"),
          last_value(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy(col("o_orderkey"))
    },
    oracle = Some(
      "SELECT o_orderkey, o_custkey, " +
        "first_value(o_totalprice) OVER w AS first_price, " +
        "last_value(o_totalprice) OVER w AS last_price, " +
        "nth_value(o_totalprice, 2) OVER w AS second_price " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY o_orderkey"))

  /** Slowly-changing-dimension (type 2) history build: each customer's
    * orders become effective-dated versions — `valid_from` = the order
    * date, `valid_to` = the next version's date (null while current),
    * `is_current` flagging the open row. One per-key window (`lead`),
    * epochs as BIGINT (D6), flags as INT 0/1. The standard ETL
    * dimension-history shape: one shuffle on the dimension key. */
  private val qwinScd2 = QueryDef(
    "qwin_scd2",
    build = (spark, sfDir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(spark, sfDir)
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          unix_micros(col("o_orderdate")).as("valid_from_us"),
          unix_micros(lead(col("o_orderdate"), 1).over(w)).as("valid_to_us"),
          when(lead(col("o_orderdate"), 1).over(w).isNull, 1).otherwise(0)
            .cast(IntegerType).as("is_current"))
        .orderBy(col("o_custkey"), col("valid_from_us"), col("o_orderkey"))
    },
    oracle = Some(
      "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "epoch_us(o_orderdate) AS valid_from_us, " +
        "epoch_us(lead(o_orderdate, 1) OVER w) AS valid_to_us, " +
        "CAST(CASE WHEN lead(o_orderdate, 1) OVER w IS NULL THEN 1 ELSE 0 END AS INT) AS is_current " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY o_custkey, valid_from_us, o_orderkey"))

  /** Time-series resample + forward fill: per user, hourly value sums
    * over a COMPLETE hour grid (missing hours generated via `sequence`,
    * exploded, left-joined) with gaps forward-filled by
    * `last(..., ignoreNulls)` — the gap-filling shape a feature pipeline
    * runs before windowed training. The grid is per-key min→max (never a
    * global calendar cross join), so grid size is Σ per-key spans and the
    * fill is one per-key window. */
  private val qwinGapfill = QueryDef(
    "qwin_gapfill",
    build = (spark, sfDir) => {
      // Segment form, ONE exchange total: each hourly observation emits
      // its own gap segment [h, next_h) via lead + sequence-explode, so
      // the dense grid never exists as a join input and the forward fill
      // is the segment's own value — no grid⋈hourly join and no
      // last-ignoreNulls window over the filled rows.
      // The one exchange is repartitionByRange(user): RangePartitioning
      // (user) clusters both the hourly aggregate and the lead window
      // (ordering ⊆ clustering), and is a PREFIX of the final (user, hs)
      // sort's required ordering, so the closing orderBy plans as a LOCAL
      // sort — no output-scale range exchange, no boundary-sampling
      // re-execution of the subtree. Every grid hour ≥ the user's first
      // observation, so the fill is always the segment head's v —
      // value-identical to the window form.
      // The range partition count is sized from the exact event count
      // (the footer row count, no Spark job) for the OUTPUT sort, not the
      // input: the filled grid fans each observation out ~10× (a user's
      // span in hours vs their event count), and the closing local sort
      // holds a whole task's grid in memory. So the budget here is a
      // spillable sort's, not a hash state's: ~250 k events ≈ 2.5 M grid
      // rows a task keeps the sort in memory.
      val nparts = TableStats.sizedPartitions(spark,
        TableStats.rows(spark, Tables.path(sfDir, "events")),
        rowsPerTask = 250000L, margin = 1.25)
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          col("value"))
      val hourly = nparts.fold(ev.repartitionByRange(col("user_id")))(
          n => ev.repartitionByRange(n, col("user_id")))
        .groupBy(col("user_id"), col("h"))
        .agg(sum(d124(col("value"))).cast(DecimalType(38, 4)).as("v"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
      hourly
        .withColumn("hn", lead(col("h"), 1).over(w))
        .select(col("user_id"), col("h"), col("v"),
          explode(expr(
            "sequence(h, coalesce(hn - interval 1 hour, h), interval 1 hour)"))
            .as("hg"))
        .select(col("user_id"), col("hg").cast(LongType).as("hs"),
          when(col("hg") === col("h"), 1).otherwise(0).as("observed"),
          decStr(col("v")).as("value"))
        .orderBy(col("user_id"), col("hs"))
    },
    oracle = Some(
      "WITH hourly AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, " +
        "CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1), " +
        "grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM spans), " +
        "j AS (SELECT g.user_id, g.h, hourly.v FROM grid g " +
        "LEFT JOIN hourly ON hourly.user_id = g.user_id AND hourly.h = g.h) " +
        "SELECT user_id, CAST(epoch_us(h) // 1000000 AS BIGINT) AS hs, " +
        "CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed, " +
        "CAST(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h " +
        "ROWS UNBOUNDED PRECEDING) AS STRING) AS value " +
        "FROM j ORDER BY user_id, hs"))

  /** Batch sessionization (gaps-and-islands): per user, events split into
    * sessions wherever the gap to the previous event STRICTLY exceeds 6 h,
    * then per-session stats. Two windows over ONE per-user partitioning =
    * one shuffle + one sort; the session id is a running sum of break
    * flags, so no per-key state ever exceeds a long. The strict `>` split
    * matches the documented session_window merge rule (SURVEY §2.1 D12:
    * an event landing exactly at last+gap stays in the session). */
  private val qwinSessionize = QueryDef(
    "qwin_sessionize",
    build = (spark, sfDir) => {
      val gapUs = 21600000000L // 6 h
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .withColumn("__brk",
          when(lag(col("ts_us"), 1).over(w).isNull
            || col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("__brk")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"),
          (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
        .orderBy(col("user_id"), col("session_id"))
    },
    oracle = Some(
      "WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id FROM events), " +
        "g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 21600000000 " +
        "THEN 1 ELSE 0 END AS brk FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS session_id FROM g) " +
        "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events, " +
        "min(ts_us) AS start_us, max(ts_us) AS end_us, max(ts_us) - min(ts_us) AS duration_us " +
        "FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"))

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands sibling of [[qwinSessionize]] at day grain: distinct
    * active days, island id = day-number − row_number (constant within a
    * consecutive run), longest island per user with earliest-start
    * tiebreak (D8). One per-user window over DISTINCT days (bounded by
    * the date span, not event volume), one aggregate, one top-1 pick. */
  private val qwinStreak = QueryDef(
    "qwin_streak",
    build = (spark, sfDir) => {
      val d = Tables.events(spark, sfDir)
        .select(col("user_id"),
          date_trunc("day", col("ts")).cast(DateType).as("day"))
        .distinct()
      val wDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val grp = d.withColumn("grp",
        datediff(col("day"), to_date(lit("2024-01-01"))) - row_number().over(wDay))
      val streaks = grp.groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("streak_days"), min(col("day")).as("streak_start"))
      val wBest = Window.partitionBy(col("user_id"))
        .orderBy(desc("streak_days"), col("streak_start"))
      streaks.withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("streak_days"), col("streak_start"))
        .orderBy(col("user_id"))
    },
    oracle = Some(
      "WITH d AS (SELECT DISTINCT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day FROM events), " +
        "g AS (SELECT user_id, day, date_diff('day', DATE '2024-01-01', day) - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM d), " +
        "s AS (SELECT user_id, grp, count(*) AS len, min(day) AS streak_start FROM g GROUP BY user_id, grp), " +
        "b AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY len DESC, streak_start) AS rn FROM s) " +
        "SELECT user_id, CAST(len AS BIGINT) AS streak_days, streak_start FROM b WHERE rn = 1 ORDER BY user_id"))

  /** Per-group z-score anomaly flags — standardize each event's value
    * against ITS USER's distribution, keep the |z| > 2 outliers. The flag
    * is decided in EXACT integer arithmetic: with decimal moments
    * (n, Σx, Σx²), |z| > 2 ⇔ (n·x − Σx)² > 4·(n·Σx² − (Σx)²) — every term
    * an exact decimal product (19-precision operands force DuckDB's int128
    * multiply; Spark stays ≤ DECIMAL(38,8)), so the flagged SET cannot be
    * perturbed by double rounding; only the reported z itself is a double
    * (one correctly-rounded conversion per factor, 6 dp — VARCHAR route on
    * the oracle side). Single-event and constant-valued users yield
    * dev = d = 0, which the strict inequality excludes before any sqrt —
    * no 0/0 path.
    *
    * Delegates to [[graft.api.Graft.anomalyZ]]: the boundary decision
    * (n·v − Σv)² > 4·(n·Σv² − (Σv)²) runs entirely in SCALED-INTEGER
    * units (value·10⁴), DECIMAL(38,0) on the Spark side vs INT128
    * (HUGEINT) on the oracle side — exact for partitions up to ~5·10¹⁰
    * rows, an ANSI error (never a wrong answer) beyond. The earlier
    * DECIMAL(18,4)/(22,8) formulation overflowed at ~10⁶ large values
    * per key; the integer-unit form removes that bound while KEEPING the
    * comparison bit-exact in both engines (the 10⁻⁴/10⁻⁸ scales cancel
    * in z = devi/√di). EdgeCaseSpec pins a 1.2M-row partition. */
  private val qwinAnomaly = QueryDef(
    "qwin_anomaly",
    build = (spark, sfDir) => {
      graft.api.Graft.anomalyZ(Tables.events(spark, sfDir),
          col("event_id"), col("user_id"), col("value"))
        .select(col("id").as("event_id"), col("key").as("user_id"),
          col("val").cast(StringType).as("value"), col("z"))
        .orderBy(col("event_id"))
    },
    oracle = Some(
      "WITH v AS (SELECT event_id, user_id, CAST(value AS DECIMAL(12,4)) AS val, " +
        "CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT) AS vi FROM events), " +
        "m AS (SELECT event_id, user_id, val, vi, " +
        "CAST(count(*) OVER w AS HUGEINT) AS n, " +
        "CAST(sum(vi) OVER w AS HUGEINT) AS svi, " +
        "CAST(sum(vi * vi) OVER w AS HUGEINT) AS svvi " +
        "FROM v WINDOW w AS (PARTITION BY user_id)), " +
        "j AS (SELECT *, n * vi - svi AS devi, n * svvi - svi * svi AS di FROM m) " +
        "SELECT event_id, user_id, CAST(val AS STRING) AS value, " +
        "round(CAST(CAST(devi AS VARCHAR) AS DOUBLE) / sqrt(CAST(CAST(di AS VARCHAR) AS DOUBLE)), 6) AS z " +
        "FROM j WHERE devi * devi > 4 * di ORDER BY event_id"))

  /** Exponentially-weighted moving average (10-tap, α = ½) — time-series
    * smoothing as a FIR filter over lags, renormalized while the window
    * fills: ema = Σ_{k<m} 2^{-(k+1)}·x_{t-k} / (1 − 2^{-m}), m = min(rn, 10).
    * The true EMA recursion isn't window-expressible; the truncated form
    * is (tail weight past 10 taps is 2^{-10} < 0.1%). Chosen so doubles
    * are BIT-IDENTICAL cross-engine with no rounding step: every weight
    * is a power of two (multiplication only shifts the exponent — exact),
    * the tap sum is written left-associated identically in both engines,
    * and the renormalizer 1 − 2^{-m} is exact — so the only roundings are
    * the additions and one division, performed on identical operands in
    * identical order. Ordering is on µs epochs + event_id (D6/D9: the
    * oracle's TIMESTAMP_NS cast truncates to the same µs Spark reads).
    * Scale: one partitioned, sorted window; 10 lags share the single
    * sort — no joins, no extra shuffles. */
  private val qwinEma = QueryDef(
    "qwin_ema",
    build = (spark, sfDir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val taps = (0 until 10).map { k =>
        coalesce(lag(col("value"), k).over(w), lit(0.0)) * lit(math.pow(0.5, k + 1))
      }
      val m = least(row_number().over(w), lit(10)).cast(DoubleType)
      Tables.events(spark, sfDir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
          (taps.reduce(_ + _) / (lit(1.0) - pow(lit(0.5), m))).as("ema"))
        .orderBy(col("event_id"))
    },
    oracle = Some {
      val taps = (0 until 10).map { k =>
        s"coalesce(lag(value, $k) OVER w, 0.0) * power(0.5, ${k + 1})"
      }.mkString(" + ")
      "WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events) " +
        s"SELECT event_id, user_id, ts_us, value, ($taps) " +
        "/ (1.0 - power(0.5, CAST(least(row_number() OVER w, 10) AS DOUBLE))) AS ema " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id) ORDER BY event_id"
    })

  /** Distribution metrics per partition: `percent_rank` and `cume_dist`
    * over the per-type value ordering. Both are single IEEE divisions of
    * exact integer rank counts — (rank−1)/(n−1) and cum/n — so the doubles
    * are bit-identical cross-engine with no rounding fallback; ties share
    * a rank and therefore share both metrics. The value column is emitted
    * as the RAW parquet double (never decimal→double round-tripped — the
    * 1-ulp-unround trap).
    *
    * Deliberately NOT `percent_rank().over(partitionBy(type))`: with ~5
    * event types that window sorts 1/5 of ALL events in one partition —
    * the giant-partition shape the qjoin_theta_range rewrite killed.
    * Because ties share both metrics, each row's pr/cd is a function of
    * its (type, VALUE): pr = (#rows < v)/(n−1) = (cum−cnt)/(n−1),
    * cd = cum/n, both read off the VALUE-aggregated cumulative frame
    * (window sorts distinct values — domain-bounded), then joined back on
    * (type, value) — a keyed join, no raw-row sort anywhere. Identical
    * results to the window form, which is exactly what the oracle runs. */
  private val qwinDist = QueryDef(
    "qwin_dist",
    build = (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"), col("value"))
      val vc = e.groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("cnt"))
      val n = vc.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
      val cw = Window.partitionBy(col("event_type")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val metrics = vc.withColumn("cum", sum(col("cnt")).over(cw))
        .join(broadcast(n), "event_type")
        .select(col("event_type"), col("value"),
          when(col("n") === 1, lit(0.0))
            .otherwise((col("cum") - col("cnt")).cast(DoubleType) /
              (col("n") - 1).cast(DoubleType)).as("pr"),
          (col("cum").cast(DoubleType) / col("n").cast(DoubleType)).as("cd"))
      e.join(metrics, Seq("event_type", "value"))
        .select(col("event_id"), col("event_type"), col("value"), col("pr"), col("cd"))
        .orderBy(col("event_id"))
    },
    oracle = Some(
      "SELECT event_id, event_type, value, " +
        "percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pr, " +
        "cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd " +
        "FROM events ORDER BY event_id"))

  /** Rolling OLS regression slope (trailing 10 events) — the local-trend
    * feature of a time-series pipeline. x = per-user event index
    * (row_number), y = value in exact scale-4 integer units (the
    * qwin_anomaly trick); the five moments n, Σx, Σy, Σxy, Σx² are INTEGER
    * sums over the 10-row frame, so slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) is
    * ONE IEEE division of exact integers → bit-identical doubles, no
    * rounding step. The denominator is positive whenever n ≥ 2 (x values
    * are distinct by construction); single-row windows emit NULL.
    *
    * Cross-engine exactness bound: every moment product must stay below
    * 2^53 so the BIGINT→DOUBLE casts are exact on both engines — holds
    * through x ~ 10^5 per key at scale-4 units ≤ 10^7; beyond that, carry
    * the moments as DECIMAL(38,0) and route the division through VARCHAR
    * (the qagg_corr pattern). Scale: ONE partitioned sorted window — the
    * row_number and all five frame sums share a single sort, no joins. */
  private val qwinSlope = QueryDef(
    "qwin_slope",
    build = (spark, sfDir) => {
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val frame = Window.partitionBy(col("user_id")).orderBy(col("rn"))
        .rowsBetween(-9, Window.currentRow)
      Tables.events(spark, sfDir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("vi", (d124(col("value")) * lit(10000)).cast(LongType))
        .withColumn("rn", row_number().over(ord))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          count(lit(1)).over(frame).as("n"),
          sum(col("rn")).over(frame).as("sx"),
          sum(col("vi")).over(frame).as("sy"),
          sum(col("rn") * col("vi")).over(frame).as("sxy"),
          sum(col("rn") * col("rn")).over(frame).as("sxx"))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("n"),
          when(col("n") >= 2,
            (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
            .as("slope"))
        .orderBy(col("event_id"))
    },
    oracle = Some(
      "WITH b AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, " +
        "CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT) AS vi FROM events), " +
        "x AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn FROM b), " +
        "m AS (SELECT event_id, user_id, ts_us, " +
        "CAST(count(*) OVER w AS BIGINT) AS n, " +
        "CAST(sum(rn) OVER w AS BIGINT) AS sx, " +
        "CAST(sum(vi) OVER w AS BIGINT) AS sy, " +
        "CAST(sum(rn * vi) OVER w AS BIGINT) AS sxy, " +
        "CAST(sum(rn * rn) OVER w AS BIGINT) AS sxx " +
        "FROM x WINDOW w AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, user_id, ts_us, n, " +
        "CASE WHEN n >= 2 THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope " +
        "FROM m ORDER BY event_id"))

  /** One-sided CUSUM change-point detection per user (drift K=60.00,
    * threshold H=300.00): the classic S_i = max(0, S_{i-1} + (x_i − K))
    * recursion looks inherently sequential, but has the closed form
    * S_i = P_i − min(0, min_{j≤i} P_j) over the drift-adjusted prefix sum
    * P — two stacked running windows on ONE per-user sort, no recursion,
    * no UDF. Values go through the scale-4 integer trick (exact: fixture
    * values carry ≤ 2 decimals), so prefix sums, running mins and the
    * alarm predicate S > H are all BIGINT arithmetic — bit-identical
    * cross-engine, no fp drift over arbitrarily long histories.
    *
    * Output is a per-user summary (alarm count, peak statistic, first
    * alarm position), so result size is |users| however long the event
    * history. Scale: the window partitions by user — bounded by per-user
    * event count, the same contract every per-entity timeline op here
    * carries; the final aggregate is partial-aggregable. Long-range
    * bound: |P| grows ≤ 5·10⁶/event, so 10¹¹ events per user fit long. */
  private val qwinCusum = QueryDef(
    "qwin_cusum",
    build = (spark, sfDir) => {
      val kDrift = 600000L  // 60.00 in scale-4 units
      val hAlarm = 3000000L // 300.00 in scale-4 units
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val run = Window.partitionBy(col("user_id")).orderBy(col("rn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, sfDir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("vi", (d124(col("value")) * lit(10000)).cast(LongType))
        .withColumn("rn", row_number().over(ord))
        .withColumn("pre", sum(col("vi") - lit(kDrift)).over(run))
        .withColumn("cusum", col("pre") - least(lit(0L), min(col("pre")).over(run)))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("cusum") > hAlarm, 1L).otherwise(0L)).as("n_alarms"),
          max(col("cusum")).as("max_cusum"),
          min(when(col("cusum") > hAlarm, col("rn"))).as("first_alarm_rn"))
        .orderBy(col("user_id"))
    },
    oracle = Some(
      "WITH b AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, " +
        "CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT) AS vi FROM events), " +
        "x AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn FROM b), " +
        "p AS (SELECT *, CAST(sum(vi - 600000) OVER w AS BIGINT) AS pre FROM x " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "s AS (SELECT *, pre - least(0, min(pre) OVER w) AS cusum FROM p " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(count(*) FILTER (WHERE cusum > 3000000) AS BIGINT) AS n_alarms, " +
        "max(cusum) AS max_cusum, min(rn) FILTER (WHERE cusum > 3000000) AS first_alarm_rn " +
        "FROM s GROUP BY user_id ORDER BY user_id"))

  /** Rolling median (trailing-10 frame) — the robust alternative to the
    * rolling mean for spike-resistant smoothing (the Hampel-filter core).
    * No engine exposes a median window function over arbitrary frames, so
    * the frame is materialized as a BOUNDED array (`collect_list` /
    * `list()` over ROWS BETWEEN 9 PRECEDING AND CURRENT ROW — ≤ 10
    * elements of per-row state, constant memory however large the
    * partition), sorted, and the lower median picked by 1-based index
    * ⌈n/2⌉. Values ride as scale-4 integers (the qwin_anomaly trick), so
    * the sort, the pick, and the equality of picks are exact; the emitted
    * double is ONE IEEE division of an exact integer by 10⁴ — identical
    * operands, identical rounding on both engines.
    *
    * Scale: one partitioned sorted window; the array is frame-local
    * (never a per-PARTITION collect) — memory is O(frame), not O(rows). */
  private val qwinMedian = QueryDef(
    "qwin_median",
    build = (spark, sfDir) => {
      graft.api.Graft.rollingMedian(
          Tables.events(spark, sfDir).withColumn("ts_us", unix_micros(col("ts"))),
          col("event_id"), col("user_id"), col("ts_us"), col("value"), frame = 10)
        .select(col("id").as("event_id"), col("key").as("user_id"),
          col("ts").as("ts_us"), col("n_frame"), col("med_i"),
          (col("med_i").cast(DoubleType) / lit(10000.0)).as("med"))
        .orderBy(col("event_id"))
    },
    oracle = Some(
      "WITH v AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, " +
        "CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT) AS vi FROM events), " +
        "f AS (SELECT event_id, user_id, ts_us, list(vi) OVER w AS fr FROM v " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, user_id, ts_us, CAST(len(fr) AS BIGINT) AS n_frame, " +
        "list_sort(fr)[(len(fr) + 1) // 2] AS med_i, " +
        "CAST(list_sort(fr)[(len(fr) + 1) // 2] AS DOUBLE) / 10000.0 AS med " +
        "FROM f ORDER BY event_id"))

  /** Hampel filter (trailing-10 frame): flag x as an outlier when
    * |x − med| > 3·MAD, med = frame rolling median, MAD = median absolute
    * deviation within the same frame — the robust despiking rule that
    * replaces the ±kσ rule wherever spikes would poison the σ itself.
    * Entirely integer-exact: values ride as scale-4 integers, both median
    * picks are 1-based ⌈n/2⌉ indexes into sorted BOUNDED arrays (the
    * qwin_median frame-array technique — O(frame) state), deviations are
    * |integer − integer|, and the decision |x−med|·2 > MAD·6 compares
    * integers (×2 keeps the halves exact: 3·MAD needs no scaling, but the
    * symmetric form keeps both engines in BIGINT). The per-user outlier
    * census (n_events, n_outliers, max |dev| in value units) keeps output
    * at |users| rows.
    *
    * Scale: ONE partitioned sorted window; the frame array is built once
    * per row and both medians read it — no second sort, no join. */
  private val qwinHampel = QueryDef(
    "qwin_hampel",
    build = (spark, sfDir) => {
      graft.api.Graft.hampel(
          Tables.events(spark, sfDir).withColumn("ts_us", unix_micros(col("ts"))),
          col("event_id"), col("user_id"), col("ts_us"), col("value"),
          frame = 10, k = 3)
        .groupBy(col("key").as("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("outlier"), 1L).otherwise(0L)).as("n_outliers"),
          (max(abs(col("vi") - col("med_i"))).cast(DoubleType) / lit(10000.0)).as("max_dev"))
        .orderBy(col("user_id"))
    },
    oracle = Some(
      "WITH v AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, " +
        "CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT) AS vi FROM events), " +
        "f AS (SELECT user_id, vi, list(vi) OVER w AS fr FROM v " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)), " +
        "m AS (SELECT user_id, vi, list_sort(fr)[(len(fr) + 1) // 2] AS med, fr FROM f), " +
        "d AS (SELECT user_id, vi, med, " +
        "list_sort(list_transform(fr, x -> abs(x - med)))[(len(fr) + 1) // 2] AS mad FROM m) " +
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(count(CASE WHEN abs(vi - med) * 2 > mad * 6 THEN 1 END) AS BIGINT) AS n_outliers, " +
        "CAST(max(abs(vi - med)) AS DOUBLE) / 10000.0 AS max_dev " +
        "FROM d GROUP BY user_id ORDER BY user_id"))

  /** Pareto / revenue-concentration curve ("do 20% of customers carry
    * 80% of revenue?"): customers ranked by revenue desc via the
    * sampled-quantile BUCKETED global rank ([[graft.api.Graft.globalRanks]]
    * — never a single-partition window over all customers), cut into
    * rank-deciles, each decile reporting its customer count, exact
    * decimal revenue, and share of total. The share is ONE IEEE division
    * of exactly-representable decimal totals (scale-4 integers < 2⁵³).
    * The concentration diagnostic behind every mix/budget decision —
    * same shape at 100 TB, ~|customers|/bucket per partition. */
  private val qwinPareto = QueryDef(
    "qwin_pareto",
    build = (spark, sfDir) => {
      // the per-customer frame is consumed FOUR times (globalRanks'
      // sample + boundary pass, its per-bucket count pass and its rank
      // pass, and the grand total), and each would re-run the fact aggregate
      // (three final-aggregate stages off one shuffle); the frame is 10×
      // smaller than its input, so materializing it is the cheap side
      val rev = Ckpt(Tables.orders(spark, sfDir)
        .groupBy(col("o_custkey"))
        .agg(sum(d124(col("o_totalprice"))).cast(DecimalType(38, 4)).as("rev")))
      val ranked = graft.api.Graft.globalRanks(
        rev, Seq("__rank" -> col("rev") * lit(-1)), Seq(col("o_custkey")))
      val tot = rev.agg(sum(col("rev")).cast(DecimalType(38, 4)).as("tot"))
      ranked
        .withColumn("decile", expr("(__rank - 1) * 10 div __n"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).cast(DecimalType(38, 4)).as("__dr"))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n_customers"),
          decStr(col("__dr")).as("decile_revenue"),
          (col("__dr").cast(DoubleType) / col("tot").cast(DoubleType)).as("revenue_share"))
        .orderBy(col("decile"))
    },
    oracle = Some(
      "WITH rev AS (SELECT o_custkey, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS rev " +
        "FROM orders GROUP BY o_custkey), " +
        "r AS (SELECT o_custkey, rev, " +
        "row_number() OVER (ORDER BY rev DESC, o_custkey) AS rnk, " +
        "count(*) OVER () AS n FROM rev), " +
        "t AS (SELECT CAST(sum(rev) AS DECIMAL(38,4)) AS tot FROM rev), " +
        "d AS (SELECT (rnk - 1) * 10 // n AS decile, rev FROM r) " +
        "SELECT decile, CAST(count(*) AS BIGINT) AS n_customers, " +
        "CAST(CAST(sum(rev) AS DECIMAL(38,4)) AS STRING) AS decile_revenue, " +
        "CAST(CAST(sum(rev) AS DECIMAL(38,4)) AS DOUBLE) / CAST(tot AS DOUBLE) AS revenue_share " +
        "FROM d CROSS JOIN t GROUP BY decile, tot ORDER BY decile"))

  /** Max-drawdown per user over the event value stream — the risk/equity
    * metric: running balance (exact scale-4 cumulative sum in (ts,
    * event_id) order), running peak, drawdown = peak − balance, reduced
    * to a per-user summary (final balance, peak, max drawdown). Every
    * step is exact decimal arithmetic over explicit ROWS frames — the
    * two engines sort and sum identically.
    *
    * Scale: both windows share ONE partition spec keyed on the
    * high-cardinality user_id (one shuffle + one sort serves cum AND
    * peak), then a keyed aggregate — no global window anywhere. */
  private val qwinDrawdown = QueryDef(
    "qwin_drawdown",
    build = (spark, sfDir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"), d124(col("value")).as("v"))
        .withColumn("cum", sum(col("v")).over(w).cast(DecimalType(38, 4)))
        .withColumn("peak", max(col("cum")).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("v")).cast(DecimalType(38, 4)).as("__fin"),
          max(col("peak")).as("__peak"),
          max(col("peak") - col("cum")).as("__dd"))
        .select(col("user_id"), col("n_events"),
          decStr(col("__fin")).as("final_value"),
          decStr(col("__peak")).as("peak_value"),
          decStr(col("__dd")).as("max_drawdown"))
        .orderBy(col("user_id"))
    },
    oracle = Some(
      "WITH e AS (SELECT user_id, ts, event_id, CAST(value AS DECIMAL(12,4)) AS v FROM events), " +
        "c AS (SELECT user_id, ts, event_id, v, " +
        "CAST(sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS cum FROM e), " +
        "c2 AS (SELECT user_id, v, cum, " +
        "max(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM c) " +
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(CAST(sum(v) AS DECIMAL(38,4)) AS VARCHAR) AS final_value, " +
        "CAST(max(peak) AS VARCHAR) AS peak_value, " +
        "CAST(max(peak - cum) AS VARCHAR) AS max_drawdown " +
        "FROM c2 GROUP BY user_id ORDER BY user_id"))

  /** Corpus-wide Gini coefficient of part retail prices — the inequality
    * summary behind qwin_pareto's decile curve, via the rank identity
    * G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) over an ascending exact global
    * rank (p_partkey tiebreak; ties contribute x·Σrank, which is
    * tie-order invariant, so the tiebreak can't change G). Both Σ terms
    * are exact decimals — rank·price at (20,0)×(12,4) stays inside
    * DECIMAL(38,4)/int128 on both engines — cast once to double
    * (VARCHAR-routed in DuckDB) into one fixed-shape expression.
    *
    * Scale: [[graft.api.Graft.globalRanks]]' sampled-quantile bucketed
    * rank (no single-partition sort) + one global partial+final aggregate. */
  private val qwinGini = QueryDef(
    "qwin_gini",
    build = (spark, sfDir) => {
      val p = Tables.part(spark, sfDir)
        .select(col("p_partkey"), d124(col("p_retailprice")).as("price"))
      val ranked = graft.api.Graft.globalRanks(p, Seq("__rank" -> col("price")),
        Seq(col("p_partkey")))
      val s = ranked.agg(
        count(lit(1)).as("n_parts"),
        sum(col("price")).cast(DecimalType(38, 4)).as("__sx"),
        sum(col("__rank").cast(DecimalType(20, 0)) * col("price"))
          .cast(DecimalType(38, 4)).as("__srx"))
      val nD = col("n_parts").cast(DoubleType)
      val sxD = col("__sx").cast(DoubleType)
      val srxD = col("__srx").cast(DoubleType)
      s.select(col("n_parts"), decStr(col("__sx")).as("total_price"),
        ((lit(2.0) * srxD - (nD + 1.0) * sxD) / (nD * sxD)).as("gini"))
    },
    oracle = Some(
      "WITH p AS (SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,4)) AS price FROM part), " +
        "r AS (SELECT price, CAST(row_number() OVER (ORDER BY price, p_partkey) AS DECIMAL(20,0)) AS rnk FROM p), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n_parts, " +
        "CAST(sum(price) AS DECIMAL(38,4)) AS sx, " +
        "CAST(sum(rnk * price) AS DECIMAL(38,4)) AS srx FROM r) " +
        "SELECT n_parts, CAST(sx AS VARCHAR) AS total_price, " +
        "(2.0 * CAST(CAST(srx AS VARCHAR) AS DOUBLE) - (CAST(n_parts AS DOUBLE) + 1.0) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) / " +
        "(CAST(n_parts AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS gini " +
        "FROM s"))

  /** Lag-1 autocorrelation of the daily value total per event type — the
    * time-series persistence probe (is today's volume predicted by
    * yesterday's?). Daily totals are exact scale-4 sums; consecutive-day
    * pairs come from a lag window over the DAY-aggregated frame (365
    * rows per type, never raw events); the Pearson moments over
    * (prev, cur) pairs are exact decimal sums at the qagg_corr widths,
    * cast once to double (VARCHAR-routed in DuckDB) through the
    * identical closed-form tree. Width bound: a daily total < 10¹⁴
    * scale-4 units — six orders above the fixture's daily mass, and at
    * real scale the cap is per (type, day), not global. Note "adjacent
    * ROW", not "adjacent day": gap days pair across the gap, the
    * standard series treatment (qwin_gapfill is the densifier when
    * calendar adjacency matters).
    *
    * Scale: one keyed aggregate to days, one tiny keyed window, one
    * domain-bounded final aggregate. */
  private val qwinAcf = QueryDef(
    "qwin_acf",
    build = (spark, sfDir) => {
      val daily = Tables.events(spark, sfDir)
        .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(d124(col("value"))).as("x"))
        .select(col("event_type"), col("day"),
          col("x").cast(DecimalType(18, 4)).as("x18"),
          col("x").cast(DecimalType(19, 4)).as("x19"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val pairs = daily
        .withColumn("p18", lag(col("x18"), 1).over(w))
        .withColumn("p19", lag(col("x19"), 1).over(w))
        .filter(col("p18").isNotNull)
      val s = pairs.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_pairs"),
        sum(col("p18")).cast(DoubleType).as("sx"),
        sum(col("x18")).cast(DoubleType).as("sy"),
        sum(col("p19") * col("p18")).cast(DoubleType).as("sxx"),
        sum(col("x19") * col("x18")).cast(DoubleType).as("syy"),
        sum(col("p19") * col("x18")).cast(DoubleType).as("sxy"))
      val (_, _, _, corr) = graft.etl.Dets.olsClose(col("n_pairs"),
        col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))
      s.select(col("event_type"), col("n_pairs"), corr.as("acf1"))
        .orderBy(col("event_type"))
    },
    oracle = Some(
      "WITH daily AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, " +
        "CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(18,4)) AS x18, " +
        "CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(19,4)) AS x19 " +
        "FROM events GROUP BY event_type, day), " +
        "p AS (SELECT event_type, x18, x19, " +
        "lag(x18, 1) OVER (PARTITION BY event_type ORDER BY day) AS p18, " +
        "lag(x19, 1) OVER (PARTITION BY event_type ORDER BY day) AS p19 FROM daily), " +
        "s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(CAST(sum(p18) AS VARCHAR) AS DOUBLE) AS sx, " +
        "CAST(CAST(sum(x18) AS VARCHAR) AS DOUBLE) AS sy, " +
        "CAST(CAST(sum(p19 * p18) AS VARCHAR) AS DOUBLE) AS sxx, " +
        "CAST(CAST(sum(x19 * x18) AS VARCHAR) AS DOUBLE) AS syy, " +
        "CAST(CAST(sum(p19 * x18) AS VARCHAR) AS DOUBLE) AS sxy " +
        "FROM p WHERE p18 IS NOT NULL GROUP BY event_type) " +
        "SELECT event_type, n_pairs, " +
        "(CAST(n_pairs AS DOUBLE) * sxy - sx * sy) / " +
        "(sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) AS acf1 " +
        "FROM s ORDER BY event_type"))

  /** Bollinger bands over the per-type daily value series — rolling
    * 7-row mean with a 2σ breach flag, the qwin_anomaly integer-moment
    * trick moved onto a sliding frame: daily masses become scale-4
    * integer units (vi = 10⁴·Σvalue, exact), the window keeps (n, Σvi,
    * Σvi²) with the square summed as DECIMAL(19,0)² → (38,0)
    * (int128-exact in DuckDB as HUGEINT), and the breach test is the
    * PURE INTEGER predicate (n·vi − Σvi)² > 4·(n·Σvi² − (Σvi)²) — i.e.
    * z² > 4 in population-variance units with zero floating point in
    * the decision. Only the reported midline is IEEE (one division of
    * exact-in-double operands). Width bound: vi < 2⁵³/7 per day —
    * ~10¹¹ in value mass, documented like qwin_anomaly's.
    *
    * Scale: one keyed daily aggregate then one partitioned sorted
    * window whose frame is calendar-bounded — the raw scan never sorts. */
  /** Shared by the three daily-indicator queries (bollinger / rsi /
    * smacross): per-type daily value mass as (event_type, day, x, vi) —
    * x the exact DECIMAL(18,4) daily sum (the (38,4)→(18,4) pin is the
    * load-bearing width discipline: Spark nulls and DuckDB errors on a
    * genuine overflow, and vi = 10⁴·x must stay < 2⁵³/14 for the widest
    * window's integer sums — ~10¹¹ in daily value mass), vi the scale-4
    * integer units all three indicators window over. ONE definition so
    * a width change cannot silently reach only some of them. */
  private def dailyVi(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(d124(col("value"))).cast(DecimalType(38, 4))
        .cast(DecimalType(18, 4)).as("x"))
      .select(col("event_type"), col("day"), col("x"),
        (col("x") * 10000).cast(LongType).as("vi"))

  private val qwinBollinger = QueryDef(
    "qwin_bollinger",
    build = (spark, sfDir) => {
      val daily = dailyVi(spark, sfDir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, 0)
      val vi19 = col("vi").cast(DecimalType(19, 0))
      val m = daily
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("svi", sum(col("vi")).over(w))
        .withColumn("svvi", sum(vi19 * vi19).over(w).cast(DecimalType(38, 0)))
      val devi = (col("n") * col("vi") - col("svi")).cast(DecimalType(19, 0))
      val svi19 = col("svi").cast(DecimalType(19, 0))
      val di = (col("n").cast(DecimalType(19, 0)) * col("svvi") -
        (svi19 * svi19).cast(DecimalType(38, 0))).cast(DecimalType(38, 0))
      m.select(col("event_type"), col("day"), decStr(col("x")).as("x"),
          (col("svi").cast(DoubleType) / (col("n").cast(DoubleType) * 10000.0)).as("mid"),
          when((devi * devi).cast(DecimalType(38, 0)) > di * 4, 1).otherwise(0)
            .cast(IntegerType).as("breach"))
        .orderBy(col("event_type"), col("day"))
    },
    oracle = Some(
      "WITH daily AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, " +
        "CAST(CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DECIMAL(18,4)) AS x FROM events GROUP BY 1, 2), " +
        "v AS (SELECT event_type, day, x, CAST(x * 10000 AS BIGINT) AS vi FROM daily), " +
        "m AS (SELECT event_type, day, x, vi, " +
        "CAST(count(*) OVER w AS HUGEINT) AS n, " +
        "CAST(sum(vi) OVER w AS HUGEINT) AS svi, " +
        "CAST(sum(vi * vi) OVER w AS HUGEINT) AS svvi " +
        "FROM v WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) " +
        "SELECT event_type, day, CAST(x AS VARCHAR) AS x, " +
        "CAST(svi AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0) AS mid, " +
        "CAST(CASE WHEN (n * vi - svi) * (n * vi - svi) > 4 * (n * svvi - svi * svi) " +
        "THEN 1 ELSE 0 END AS INT) AS breach " +
        "FROM m ORDER BY event_type, day"))

  /** Relative-strength index (Wilder's RSI, simple-average form) over
    * the per-type daily series — the momentum oscillator, computed with
    * ZERO floating point until the final readout: daily deltas in exact
    * scale-4 integer units, gains/losses split by integer sign, 14-row
    * rolling gain/loss masses as integer window sums, and
    * RSI = 100·Σgain/(Σgain+Σloss) as ONE IEEE expression over
    * exact-in-double operands (NULL while the series is flat). First
    * row per type (no delta) is excluded by the lag, not a sentinel.
    * Same shape discipline as qwin_bollinger: keyed daily aggregate,
    * then one partitioned sorted window — never a raw-row sort. */
  private val qwinRsi = QueryDef(
    "qwin_rsi",
    build = (spark, sfDir) => {
      val daily = dailyVi(spark, sfDir).drop("x")
      val wo = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val d = daily.withColumn("diff", col("vi") - lag(col("vi"), 1).over(wo))
        .filter(col("diff").isNotNull)
      val wr = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-13, 0)
      val g = d
        .withColumn("sg", sum(greatest(col("diff"), lit(0L))).over(wr))
        .withColumn("sl", sum(greatest(-col("diff"), lit(0L))).over(wr))
      g.select(col("event_type"), col("day"), col("diff"),
          (lit(100.0) * col("sg").cast(DoubleType) /
            nullif(col("sg") + col("sl"), lit(0L)).cast(DoubleType)).as("rsi"))
        .orderBy(col("event_type"), col("day"))
    },
    oracle = Some(
      "WITH daily AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, " +
        "CAST(CAST(CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vi " +
        "FROM events GROUP BY 1, 2), " +
        "d AS (SELECT event_type, day, vi - lag(vi, 1) OVER (PARTITION BY event_type ORDER BY day) AS diff " +
        "FROM daily), " +
        "g AS (SELECT event_type, day, diff, " +
        "sum(greatest(diff, 0)) OVER w AS sg, sum(greatest(-diff, 0)) OVER w AS sl " +
        "FROM d WHERE diff IS NOT NULL " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
        "SELECT event_type, day, diff, " +
        "100.0 * CAST(sg AS DOUBLE) / CAST(nullif(sg + sl, 0) AS DOUBLE) AS rsi " +
        "FROM g ORDER BY event_type, day"))

  /** Running volume-weighted average price per part — the execution-
    * quality benchmark, as cumulative exact-decimal notional over
    * cumulative exact-decimal volume in strict (shipdate, orderkey,
    * linenumber) order: notional per fill is the int128-exact
    * (12,4)×(12,4) product, both running sums are unbounded-preceding
    * window sums pinned to DECIMAL(38,·) (non-narrowing on both
    * engines), and VWAP is ONE IEEE division of the two VARCHAR-routed
    * masses. A 1-in-20 part-key slice keeps the demo output bounded
    * while preserving the plan (the filter is a pushed-down scan
    * predicate, not a sample).
    *
    * Scale: ONE window partitioned by the high-cardinality part key —
    * each partition sorts its own fills; no global sort, no join. */
  private val qwinVwap = QueryDef(
    "qwin_vwap",
    build = (spark, sfDir) => {
      val li = Tables.lineitem(spark, sfDir)
        .filter(col("l_partkey") % 20 === 0)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast(DateType).as("ship_date"),
          d124(col("l_quantity")).as("q"),
          (d124(col("l_extendedprice")) * d124(col("l_quantity")))
            .cast(DecimalType(28, 8)).as("notional"))
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("ship_date"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, 0)
      li.withColumn("cum_qty", sum(col("q")).over(w).cast(DecimalType(38, 4)))
        .withColumn("cum_notional", sum(col("notional")).over(w).cast(DecimalType(38, 8)))
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"), col("ship_date"),
          decStr(col("cum_qty")).as("cum_qty"),
          decStr(col("cum_notional")).as("cum_notional"),
          (col("cum_notional").cast(DoubleType) / col("cum_qty").cast(DoubleType))
            .as("vwap"))
        .orderBy(col("l_partkey"), col("ship_date"), col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some(
      "WITH li AS (SELECT l_partkey, l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date, " +
        "CAST(l_quantity AS DECIMAL(12,4)) AS q, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_quantity AS DECIMAL(12,4)) AS DECIMAL(28,8)) AS notional " +
        "FROM lineitem WHERE l_partkey % 20 = 0), " +
        "c AS (SELECT l_partkey, l_orderkey, l_linenumber, ship_date, " +
        "CAST(sum(q) OVER w AS DECIMAL(38,4)) AS cum_qty, " +
        "CAST(sum(notional) OVER w AS DECIMAL(38,8)) AS cum_notional " +
        "FROM li WINDOW w AS (PARTITION BY l_partkey ORDER BY ship_date, l_orderkey, l_linenumber " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT l_partkey, l_orderkey, l_linenumber, ship_date, " +
        "CAST(cum_qty AS VARCHAR) AS cum_qty, CAST(cum_notional AS VARCHAR) AS cum_notional, " +
        "CAST(CAST(cum_notional AS VARCHAR) AS DOUBLE) / CAST(CAST(cum_qty AS VARCHAR) AS DOUBLE) AS vwap " +
        "FROM c ORDER BY l_partkey, ship_date, l_orderkey, l_linenumber"))

  /** Inter-order gap analysis per customer — the reorder-cadence /
    * at-risk signal: consecutive-order day gaps from ONE lag window in
    * strict (orderdate, orderkey) order, reduced to per-customer
    * (n_orders, span, max gap, mean gap). The mean needs no gap column
    * at all — consecutive gaps telescope, so mean = span/(n−1), one
    * IEEE division of exact integers (NULL for single-order customers,
    * not a sentinel). Everything else is integer day arithmetic.
    *
    * Scale: the window partitions on the high-cardinality customer key
    * and the follow-up groupBy reuses the SAME partitioning — one
    * shuffle serves both. */
  private val qwinOrdergap = QueryDef(
    "qwin_ordergap",
    build = (spark, sfDir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("d"), col("o_orderkey"))
      val o = Tables.orders(spark, sfDir)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("d"))
        .withColumn("gap", datediff(col("d"), lag(col("d"), 1).over(w)).cast(LongType))
      o.groupBy(col("o_custkey")).agg(
          count(lit(1)).as("n_orders"),
          datediff(max(col("d")), min(col("d"))).cast(LongType).as("span_days"),
          max(col("gap")).as("max_gap_days"))
        .select(col("o_custkey"), col("n_orders"), col("span_days"), col("max_gap_days"),
          (col("span_days").cast(DoubleType) /
            nullif(col("n_orders") - 1L, lit(0L)).cast(DoubleType)).as("mean_gap_days"))
        .orderBy(col("o_custkey"))
    },
    oracle = Some(
      "WITH o AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(date_diff('day', lag(CAST(o_orderdate AS DATE), 1) OVER " +
        "(PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey), " +
        "CAST(o_orderdate AS DATE)) AS BIGINT) AS gap FROM orders), " +
        "g AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(date_diff('day', min(d), max(d)) AS BIGINT) AS span_days, " +
        "max(gap) AS max_gap_days FROM o GROUP BY 1) " +
        "SELECT o_custkey, n_orders, span_days, max_gap_days, " +
        "CAST(span_days AS DOUBLE) / CAST(nullif(n_orders - 1, 0) AS DOUBLE) AS mean_gap_days " +
        "FROM g ORDER BY o_custkey"))

  /** Moving-average crossover detector (the \"golden cross\" signal) —
    * SMA(3) vs SMA(10) over the per-type daily series with ZERO floating
    * point anywhere: the comparison s3/c3 vs s10/c10 cross-multiplies to
    * the integer predicate s3·c10 vs s10·c3 (window counts ≤ 10 keep the
    * products in int64), the regime is its sign, and a cross fires when
    * two consecutive FULL (c10 = 10) windows flip sign strictly
    * (−1 ↔ +1; a flat tie day parks the regime at 0 and fires nothing).
    * Bit-exactness is structural, not managed — every column is integer.
    *
    * Scale: same discipline as qwin_bollinger — keyed daily aggregate,
    * then one calendar-bounded sorted window serving both frames and
    * both lags. */
  private val qwinSmacross = QueryDef(
    "qwin_smacross",
    build = (spark, sfDir) => {
      val daily = dailyVi(spark, sfDir).drop("x")
      val wo = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val w3 = wo.rowsBetween(-2, 0)
      val w10 = wo.rowsBetween(-9, 0)
      val m = daily
        .withColumn("s3", sum(col("vi")).over(w3))
        .withColumn("c3", count(lit(1)).over(w3))
        .withColumn("s10", sum(col("vi")).over(w10))
        .withColumn("c10", count(lit(1)).over(w10))
      val sgn = when(col("s3") * col("c10") > col("s10") * col("c3"), 1)
        .when(col("s3") * col("c10") < col("s10") * col("c3"), -1)
        .otherwise(0).cast(IntegerType)
      val s = m.withColumn("sign", sgn)
        .withColumn("full_win", when(col("c10") === 10, 1).otherwise(0).cast(IntegerType))
        .withColumn("prev_sign", lag(col("sign"), 1).over(wo))
        .withColumn("prev_full", lag(col("full_win"), 1).over(wo))
      s.select(col("event_type"), col("day"), col("sign"), col("full_win"),
          when(col("full_win") === 1 && col("prev_full") === 1 &&
            col("sign") * col("prev_sign") === -1, 1).otherwise(0)
            .cast(IntegerType).as("crossed"))
        .orderBy(col("event_type"), col("day"))
    },
    oracle = Some(
      "WITH daily AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, " +
        "CAST(CAST(CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vi " +
        "FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, day, " +
        "sum(vi) OVER w3 AS s3, count(*) OVER w3 AS c3, " +
        "sum(vi) OVER w10 AS s10, count(*) OVER w10 AS c10 " +
        "FROM daily WINDOW " +
        "w3 AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), " +
        "w10 AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)), " +
        "sg AS (SELECT event_type, day, " +
        "CAST(CASE WHEN s3 * c10 > s10 * c3 THEN 1 WHEN s3 * c10 < s10 * c3 THEN -1 ELSE 0 END AS INT) AS sign, " +
        "CAST(CASE WHEN c10 = 10 THEN 1 ELSE 0 END AS INT) AS full_win FROM m), " +
        "p AS (SELECT event_type, day, sign, full_win, " +
        "lag(sign, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_sign, " +
        "lag(full_win, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_full FROM sg) " +
        "SELECT event_type, day, sign, full_win, " +
        "CAST(CASE WHEN full_win = 1 AND prev_full = 1 AND sign * prev_sign = -1 THEN 1 ELSE 0 END AS INT) AS crossed " +
        "FROM p ORDER BY event_type, day"))

  /** Expanding-window z-score outliers — qwin_anomaly's leak-free twin:
    * each event is scored against the moments of STRICTLY PRIOR events
    * only (`ROWS UNBOUNDED PRECEDING TO 1 PRECEDING`), the contract a
    * feature pipeline needs to avoid lookahead leakage (the
    * full-partition variant uses the event's own future — fine for
    * monitoring, wrong for training features). Same integer-moment
    * machinery: scale-4 integer units, prior-window (n, Σvi, Σvi²),
    * and the outlier verdict is the PURE INTEGER predicate
    * (n·vi − Σvi)² > 4·(n·Σvi² − Σvi²) — z² > 4 with zero fp in the
    * decision; only the reported z is IEEE, computed from exact
    * operands with the same VARCHAR-routed tree as qwin_anomaly. Rows
    * with < 2 prior events emit nothing (no variance to score
    * against), and so does a ZERO-VARIANCE prior window (di = 0 with a
    * differing current value would put ±Infinity in the z column, whose
    * formatting/serialization is the one piece of this tree that is NOT
    * cross-engine pinned — and a z-score against zero variance is
    * meaningless anyway).
    *
    * Scale: one keyed sorted window over the high-cardinality user
    * key; output is outliers only — sparse however big the stream. */
  private val qwinExpanding = QueryDef(
    "qwin_expanding",
    build = (spark, sfDir) => {
      val base = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("ts_us"),
          d124(col("value")).as("val"),
          (d124(col("value")) * 10000).cast(LongType).as("vi"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val vi19 = col("vi").cast(DecimalType(19, 0))
      val m = base
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("svi", sum(col("vi")).over(w))
        .withColumn("svvi", sum(vi19 * vi19).over(w).cast(DecimalType(38, 0)))
        .filter(col("n") >= 2)
      val devi = (col("n") * col("vi") - col("svi")).cast(DecimalType(19, 0))
      val svi19 = col("svi").cast(DecimalType(19, 0))
      val di = (col("n").cast(DecimalType(19, 0)) * col("svvi") -
        (svi19 * svi19).cast(DecimalType(38, 0))).cast(DecimalType(38, 0))
      m.filter(di > 0 && (devi * devi).cast(DecimalType(38, 0)) > di * 4)
        .select(col("event_id"), col("user_id"), col("n").as("n_prior"),
          col("val").cast(StringType).as("value"),
          round(devi.cast(DoubleType) / sqrt(di.cast(DoubleType)), 6).as("z"))
        .orderBy(col("event_id"))
    },
    oracle = Some(
      "WITH v AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, " +
        "CAST(value AS DECIMAL(12,4)) AS val, " +
        "CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT) AS vi FROM events), " +
        "m AS (SELECT event_id, user_id, val, vi, " +
        "CAST(count(*) OVER w AS HUGEINT) AS n, " +
        "CAST(sum(vi) OVER w AS HUGEINT) AS svi, " +
        "CAST(sum(vi * vi) OVER w AS HUGEINT) AS svvi " +
        "FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
        "j AS (SELECT *, n * vi - svi AS devi, n * svvi - svi * svi AS di FROM m WHERE n >= 2) " +
        "SELECT event_id, user_id, CAST(n AS BIGINT) AS n_prior, CAST(val AS STRING) AS value, " +
        "round(CAST(CAST(devi AS VARCHAR) AS DOUBLE) / sqrt(CAST(CAST(di AS VARCHAR) AS DOUBLE)), 6) AS z " +
        "FROM j WHERE di > 0 AND devi * devi > 4 * di ORDER BY event_id"))

  def defs: Seq[QueryDef] = Seq(
    qwinRank, qwinTopkGroup, qwinLagLead, qwinRunning, qwinRangeFrame,
    qwinNtileDist, qwinFirstLast, qwinScd2, qwinGapfill, qwinSessionize,
    qwinStreak, qwinAnomaly, qwinEma, qwinDist, qwinSlope, qwinCusum,
    qwinMedian, qwinHampel, qwinPareto, qwinDrawdown, qwinGini, qwinAcf,
    qwinBollinger, qwinRsi, qwinVwap, qwinOrdergap, qwinSmacross,
    qwinExpanding)
}
