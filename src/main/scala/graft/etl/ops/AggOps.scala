package graft.etl.ops

import graft.etl.{Ckpt, QueryDef, Tables}
import graft.etl.Dets._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** §2.D aggregations. Determinism per SURVEY §2.1:
  *   - D2: doubles cast to exact DECIMAL(12,4) before any sum.
  *   - D3: averages emitted as DOUBLE via CAST(sum AS DOUBLE)/CAST(n AS
  *     DOUBLE) on BOTH engines — DuckDB decimal/bigint division returns
  *     DOUBLE natively (verified), and the scale-4 sums here stay < 2^53
  *     so decimal→double conversion is exact in both engines.
  *   - D4: decimal sums pinned to an explicit output type wide enough that
  *     the pin is a non-narrowing (exact) cast on both engines.
  *   - qagg_stats: variance-family doubles are genuinely order-dependent
  *     across engines (partial-merge vs single-pass); rounding granularity
  *     per column is sized so the cross-engine error (~n·eps·magnitude)
  *     sits far below half an output ulp.
  *
  * Scale: groupBy → partial HashAggregate + shuffle + final; COUNT DISTINCT
  * expands; exact percentile/median picks positions off value-aggregated
  * cumulative frames (windows sort distinct values, domain-bounded — never
  * a raw-row sort per low-cardinality key) — the 100 TB alternative to
  * collecting values.
  */
object AggOps {

  /** Round 14 (guide §2.5): positional picks off a value census WITHOUT a
    * census-wide running-sum window. The exact-median/quantile queries
    * (qagg_percentile, qagg_wquantile, qagg_mad) all need "the smallest
    * value whose cumulative count/weight reaches a target" per group —
    * the old form computed ONE running-sum window PARTITIONED BY the
    * group over the whole census, i.e. |groups| serial tasks each
    * sorting the full per-group census (parallelism 3–8 forever,
    * whatever the scale). The qjoin_range_binned prefix algebra splits
    * that: per-(group, bin) partial sums roll up map-side; bin prefix
    * sums ride ONE window over the ≤ domain/binDiv-row bin frame
    * (metadata scale); each target's crossing bin is found there; and
    * only the crossing bins' census rows (broadcast-joined) pay a
    * within-bin running sum. cum(v) = binPrefix(<bin) + withinBin(≤v) is
    * the same exact integer sum, so every pick is bit-identical to the
    * census-wide window's.
    *
    * `census` must carry (part, v: Long, c: Long) under the given column
    * names (callers map decimals to scaled longs — exact bijections —
    * and checkpoint the census if they reuse it). `targets` maps a tag to
    * the integer target expression T, written against the group total as
    * `col("__tot")` in exact integer arithmetic (e.g.
    * `expr("(__tot * 25 + 99) div 100")`); a pick is min v with cum ≥ T. Groups
    * whose T exceeds tot yield NO row for that tag (callers coalesce,
    * matching the census-window form where the conditional min is null).
    * Returns (part, __q tag, __pick, __tot). */
  private def binnedPicks(census: DataFrame, partC: String, vC: String,
      cC: String, binDiv: Long, targets: Seq[(Int, Column)])
      : DataFrame = {
    // Scale contract (round-14 advice): binDiv must be positive, and sized
    // so (a) the bin frame is domain-bounded (≤ v-domain/binDiv rows per
    // part — that frame rides ONE window) and (b) a single bin's census
    // rows (≤ binDiv distinct values) fit the broadcast/window path. A
    // too-small binDiv stays CORRECT (the algebra is exact either way) but
    // silently degrades back to a census-wide window.
    require(binDiv > 0, s"binnedPicks binDiv must be > 0, got $binDiv")
    val bin = expr(s"$vC div $binDiv")
    val bins = census.groupBy(col(partC), bin.as("__b"))
      .agg(sum(col(cC)).as("__bw"))
    val bw = Window.partitionBy(col(partC)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bpre = bins
      .withColumn("__bcum", sum(col("__bw")).over(bw))
      .withColumn("__tot", sum(col("__bw")).over(Window.partitionBy(col(partC))))
    val marks = bpre
      .select(col(partC), col("__b"), col("__bcum"), col("__bw"), col("__tot"),
        explode(array(targets.map { case (q, t) =>
          struct(lit(q).as("q"), t.as("T")) }: _*)).as("__t"))
      .select(col(partC), col("__b"), col("__bcum"), col("__bw"), col("__tot"),
        col("__t.q").as("__q"), col("__t.T").as("__T"))
      .filter(col("__bcum") >= col("__T"))
      .groupBy(col(partC), col("__q"))
      .agg(min_by(struct(col("__b").as("qb"),
        (col("__bcum") - col("__bw")).as("off"),
        col("__T").as("T"), col("__tot").as("tot")), col("__b")).as("m"))
      .select(col(partC).as("__mp"), col("__q"), col("m.qb").as("__qb"),
        col("m.off").as("__off"), col("m.T").as("__T"), col("m.tot").as("__tot"))
    val cand = census.join(broadcast(marks),
      census(partC) === col("__mp") && bin === col("__qb"))
      .select(census(partC), col("__q"), col(vC), col(cC),
        col("__off"), col("__T"), col("__tot"))
    val wcw = Window.partitionBy(col(partC), col("__q")).orderBy(col(vC))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand
      .withColumn("__cum", col("__off") + sum(col(cC)).over(wcw))
      .filter(col("__cum") >= col("__T"))
      .groupBy(col(partC), col("__q"))
      .agg(min(col(vC)).as("__pick"), max(col("__tot")).as("__tot"))
  }

  private val qaggPricing = QueryDef(
    "qagg_pricing",
    build = (spark, sfDir) => {
      val li = Tables.lineitem(spark, sfDir)
      val q = d124(col("l_quantity"))
      val price = d124(col("l_extendedprice"))
      val disc = d124(col("l_discount"))
      val tax = d124(col("l_tax"))
      val n = count(lit(1))
      li.filter(col("l_shipdate") <= lit("2001-09-01").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decStr(sum(q).cast(DecimalType(38, 4))).as("sum_qty"),
          decStr(sum(price).cast(DecimalType(38, 4))).as("sum_base_price"),
          decStr(sum(price * (one124 - disc)).cast(DecimalType(38, 8))).as("sum_disc_price"),
          decStr(sum(price * (one124 - disc) * (one124 + tax)).cast(DecimalType(38, 12))).as("sum_charge"),
          (sum(q).cast(DoubleType) / n.cast(DoubleType)).as("avg_qty"),
          (sum(price).cast(DoubleType) / n.cast(DoubleType)).as("avg_price"),
          (sum(disc).cast(DoubleType) / n.cast(DoubleType)).as("avg_disc"),
          n.as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    oracle = Some(
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS sum_qty, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS sum_base_price, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS DECIMAL(38,8)) AS STRING) AS sum_disc_price, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) * (CAST(1 AS DECIMAL(12,4)) + CAST(l_tax AS DECIMAL(12,4)))) AS DECIMAL(38,12)) AS STRING) AS sum_charge, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_price, " +
        "CAST(sum(CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_disc, " +
        "count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"))

  private val qaggStats = QueryDef(
    "qagg_stats",
    build = (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          round(var_samp(col("l_extendedprice")), 0).cast(LongType).as("var_price"),
          round(corr(col("l_extendedprice"), col("l_discount")), 6).as("corr_price_disc"),
          round(covar_samp(col("l_extendedprice"), col("l_discount")), 4).as("covar_price_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    oracle = Some(
      "SELECT l_returnflag, " +
        "round(stddev_samp(l_extendedprice), 4) AS sd_price, " +
        "CAST(round(var_samp(l_extendedprice), 0) AS BIGINT) AS var_price, " +
        "round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc, " +
        "round(covar_samp(l_extendedprice, l_discount), 4) AS covar_price_disc, " +
        "count(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"))

  private val qaggDistinct = QueryDef(
    "qagg_distinct",
    build = (spark, sfDir) =>
      Tables.orders(spark, sfDir)
        .groupBy(col("o_orderstatus"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus")),
    oracle = Some(
      "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, " +
        "count(DISTINCT o_orderpriority) AS n_prio, count(*) AS n " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"))

  private val qaggHaving = QueryDef(
    "qagg_having",
    build = (spark, sfDir) =>
      Tables.orders(spark, sfDir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 15)
        .orderBy(col("o_custkey")),
    oracle = Some(
      "SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey " +
        "HAVING count(*) >= 15 ORDER BY o_custkey"))

  /** Identical SQL text on both engines: Spark SQL and DuckDB share
    * GROUPING SETS + grouping() syntax here. */
  private val groupingSetsSql =
    "SELECT o_orderstatus, o_orderpriority, " +
      "CAST(grouping(o_orderstatus) AS INTEGER) AS g_status, " +
      "CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio, " +
      "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS revenue, " +
      "count(*) AS n " +
      "FROM orders " +
      "GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ()) " +
      "ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"

  private val qaggGroupingsets = QueryDef(
    "qagg_groupingsets",
    build = (spark, sfDir) =>
      Bridge.sqlOver(spark, groupingSetsSql, Map("orders" -> Tables.orders(spark, sfDir))),
    oracle = Some(groupingSetsSql))

  private val qaggRollup = QueryDef(
    "qagg_rollup",
    build = (spark, sfDir) =>
      Tables.orders(spark, sfDir)
        .withColumn("order_year", year(col("o_orderdate")))
        .rollup(col("order_year"), col("o_orderstatus"))
        .agg(
          grouping(col("order_year")).cast(IntegerType).as("g_year"),
          grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
          decStr(sum(d124(col("o_totalprice"))).cast(DecimalType(38, 4))).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("g_year"), col("g_status"),
          asc_nulls_first("order_year"), asc_nulls_first("o_orderstatus")),
    oracle = Some(
      "SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS order_year, o_orderstatus, " +
        "CAST(grouping(order_year) AS INTEGER) AS g_year, " +
        "CAST(grouping(o_orderstatus) AS INTEGER) AS g_status, " +
        "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS revenue, " +
        "count(*) AS n " +
        "FROM orders GROUP BY ROLLUP (order_year, o_orderstatus) " +
        "ORDER BY g_year, g_status, order_year NULLS FIRST, o_orderstatus NULLS FIRST"))

  private val qaggCube = QueryDef(
    "qagg_cube",
    build = (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast(IntegerType).as("g_flag"),
          grouping(col("l_linestatus")).cast(IntegerType).as("g_status"),
          decStr(sum(d124(col("l_quantity"))).cast(DecimalType(38, 4))).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("g_flag"), col("g_status"),
          asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
    oracle = Some(
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(grouping(l_returnflag) AS INTEGER) AS g_flag, " +
        "CAST(grouping(l_linestatus) AS INTEGER) AS g_status, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS sum_qty, " +
        "count(*) AS n " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"))

  private val qaggPivot = QueryDef(
    "qagg_pivot",
    build = (spark, sfDir) =>
      Tables.orders(spark, sfDir)
        .withColumn("order_year", year(col("o_orderdate")))
        .groupBy(col("order_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(d124(col("o_totalprice"))))
        .select(
          col("order_year"),
          decStr(col("F").cast(DecimalType(38, 4))).as("f_total"),
          decStr(col("O").cast(DecimalType(38, 4))).as("o_total"),
          decStr(col("P").cast(DecimalType(38, 4))).as("p_total"))
        .orderBy(col("order_year")),
    oracle = Some(
      "SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS order_year, " +
        "CAST(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS DECIMAL(38,4)) AS STRING) AS f_total, " +
        "CAST(CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS DECIMAL(38,4)) AS STRING) AS o_total, " +
        "CAST(CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS DECIMAL(38,4)) AS STRING) AS p_total " +
        "FROM orders GROUP BY order_year ORDER BY order_year"))

  /** Exact median/p90 with pure decimal interpolation: index arithmetic is
    * integer, the fractional weight is an exact one-digit decimal, so both
    * engines compute identical exact decimals — no quantile_cont/percentile
    * float parity risk. `div`/`//` is the only dialect difference. */
  private def percentileSql(table: String, idiv: String): String =
    "WITH s AS (SELECT o_orderstatus AS st, CAST(o_totalprice AS DECIMAL(12,4)) AS v, " +
      "row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS rn, " +
      s"count(*) OVER (PARTITION BY o_orderstatus) AS n FROM $table) " +
      "SELECT st AS o_orderstatus, " +
      s"CAST(CAST((max(CASE WHEN rn = (n-1) $idiv 2 + 1 THEN v END) + max(CASE WHEN rn = n $idiv 2 + 1 THEN v END)) " +
      "* CAST(0.5 AS DECIMAL(2,1)) AS DECIMAL(18,5)) AS STRING) AS median_price, " +
      s"CAST(CAST(max(CASE WHEN rn = (9*(n-1)) $idiv 10 + 1 THEN v END) + " +
      s"(coalesce(max(CASE WHEN rn = (9*(n-1)) $idiv 10 + 2 THEN v END), max(CASE WHEN rn = (9*(n-1)) $idiv 10 + 1 THEN v END)) " +
      s"- max(CASE WHEN rn = (9*(n-1)) $idiv 10 + 1 THEN v END)) " +
      "* (CAST((9*(n-1)) % 10 AS DECIMAL(2,0)) * CAST(0.1 AS DECIMAL(2,1))) AS DECIMAL(18,6)) AS STRING) AS p90_price " +
      "FROM s GROUP BY st, n ORDER BY st" // n is group-constant; Spark (unlike
      // DuckDB) insists it be grouped to appear inside the aggregate CASEs

  /** Since round 6 the Spark side is NOT the shared window SQL: a
    * row_number over the 3-value `o_orderstatus` partition sorts a third
    * of all orders in one partition at 100 TB. Both positional picks and
    * the p90 interpolation read off the VALUE-aggregated (status, price)
    * cumulative frame instead (v@pos = min v with cum ≥ pos — the
    * qagg_mad machinery), with the interpolation arithmetic kept
    * expression-for-expression identical to the oracle's decimal shapes
    * so the strings still match exactly. */
  private val qaggPercentile = QueryDef(
    "qagg_percentile",
    build = (spark, sfDir) => {
      // The picks come from the binnedPicks prefix algebra (see the
      // helper scaladoc), not a per-status running-sum window, which would
      // be |statuses| = 3 serial sort tasks at any scale: positions are
      // exact integer cumulative counts, so every pick is bit-identical
      // to the oracle's window. The price maps to its scale-4 integer
      // (exact bijection, the qagg_wquantile pattern) so bins and
      // ordering ride plain longs.
      // binnedPicks reads the census twice (bin rollup + crossing-bin
      // probe) — materialize the frame once instead of re-running the
      // fact aggregate
      val vc = Ckpt(Tables.orders(spark, sfDir).select(
          col("o_orderstatus").as("st"),
          (col("o_totalprice").cast(DecimalType(12, 4)) * lit(10000))
            .cast(LongType).as("pi"))
        .groupBy(col("st"), col("pi")).agg(count(lit(1)).as("cnt")))
      val bp = binnedPicks(vc, "st", "pi", "cnt", 10000000L, Seq(
        (1, expr("(__tot - 1) div 2 + 1")),
        (2, expr("__tot div 2 + 1")),
        (3, expr("(9 * (__tot - 1)) div 10 + 1")),
        (4, expr("(9 * (__tot - 1)) div 10 + 2"))))
      def dec(c: Column): Column =
        (c.cast(DecimalType(38, 4)) / lit(10000)).cast(DecimalType(12, 4))
      val picks = bp.groupBy(col("st")).agg(
        max(col("__tot")).as("n"),
        dec(min(when(col("__q") === 1, col("__pick")))).as("m1"),
        dec(min(when(col("__q") === 2, col("__pick")))).as("m2"),
        dec(min(when(col("__q") === 3, col("__pick")))).as("vk"),
        dec(min(when(col("__q") === 4, col("__pick")))).as("vk1"))
      picks.select(
          col("st").as("o_orderstatus"),
          decStr(((col("m1") + col("m2")) * lit(BigDecimal("0.5")))
            .cast(DecimalType(18, 5))).as("median_price"),
          decStr((col("vk") + (coalesce(col("vk1"), col("vk")) - col("vk")) *
            (expr("(9 * (n - 1)) % 10").cast(DecimalType(2, 0)) * lit(BigDecimal("0.1"))))
            .cast(DecimalType(18, 6))).as("p90_price"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some(percentileSql("orders", "//")))

  private val qaggCollect = QueryDef(
    "qagg_collect",
    build = (spark, sfDir) => {
      val c = Tables.customer(spark, sfDir)
      val n = Tables.nation(spark, sfDir)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_custs"),
          concat_ws(",", sort_array(collect_list(col("c_name")))).as("members"))
        .orderBy(col("n_name"))
    },
    oracle = Some(
      "SELECT n_name, count(*) AS n_custs, " +
        "string_agg(c_name, ',' ORDER BY c_name) AS members " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"))

  /** No oracle: HLL sketches are engine-specific by construction (SURVEY
    * §2.2). Bounds-checked against exact counts in AggSpec instead. */
  private val qaggApproxhll = QueryDef(
    "qagg_approxhll",
    build = (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
    oracle = None)

  /** Data-quality audit — the validation pass an ETL pipeline runs before
    * promoting a load: per-rule violation counts (nulls, domain bounds,
    * referential sanity) as a single wide row. The conditional counts
    * fold into ONE partial aggregate over one scan. The two DISTINCT
    * counts run as their own single-column aggregates cross-joined back
    * (1-row frames): two distincts in one Aggregate make Catalyst Expand
    * the scan ×3 — every fact row tripled, all audit columns carried,
    * measured 4.5× on 3× data sf10 → sf30 — while a lone distinct plans
    * as the ordinary two-stage partial groupBy on a one-column scan
    * (parquet reads just that column), and the flag domain collapses
    * map-side to ≤|domain| rows. Same exact counts, three narrow scans
    * instead of one tripled wide one. */
  private val qaggDqaudit = QueryDef(
    "qagg_dqaudit",
    build = (spark, sfDir) => {
      val li = Tables.lineitem(spark, sfDir)
      val base = li.agg(
        count(lit(1)).as("n_rows"),
        count(when(col("l_quantity").isNull, 1)).as("null_qty"),
        count(when(col("l_quantity") <= 0, 1)).as("nonpos_qty"),
        count(when(col("l_discount") < 0 || col("l_discount") > 1, 1)).as("bad_discount"),
        count(when(col("l_extendedprice") <= 0, 1)).as("nonpos_price"),
        count(when(col("l_shipdate") < lit("1990-01-01").cast(TimestampType), 1))
          .as("early_shipdate"))
      val orders = li.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      val flags = li.agg(countDistinct(col("l_returnflag")).as("n_flags"))
      base.crossJoin(broadcast(orders)).crossJoin(broadcast(flags))
    },
    oracle = Some(
      "SELECT count(*) AS n_rows, " +
        "count(CASE WHEN l_quantity IS NULL THEN 1 END) AS null_qty, " +
        "count(CASE WHEN l_quantity <= 0 THEN 1 END) AS nonpos_qty, " +
        "count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS bad_discount, " +
        "count(CASE WHEN l_extendedprice <= 0 THEN 1 END) AS nonpos_price, " +
        "count(CASE WHEN l_shipdate < TIMESTAMP '1990-01-01' THEN 1 END) AS early_shipdate, " +
        "count(DISTINCT l_orderkey) AS n_orders, " +
        "count(DISTINCT l_returnflag) AS n_flags " +
        "FROM lineitem"))

  /** Unpivot (melt) — the inverse of qagg_pivot: three measure columns
    * become (measure, value) rows via the native `unpivot` operator (an
    * Expand node: no shuffle, no join — each input row fans out in
    * place). The oracle replicates it with a UNION ALL of one SELECT per
    * measure, the portable relational form. */
  private val qaggUnpivot = QueryDef(
    "qagg_unpivot",
    build = (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .filter(col("l_orderkey") % 100 === 0) // bounded slice, stable across SFs
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure")),
    oracle = Some(
      "WITH src AS (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount " +
        "FROM lineitem WHERE l_orderkey % 100 = 0) " +
        "SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM src " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM src " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src " +
        "ORDER BY l_orderkey, l_linenumber, measure"))

  /** Equal-width histogram with DATA-DRIVEN bounds: pass 1 computes global
    * [min, max] (one tiny aggregate, broadcast back); pass 2 buckets every row
    * with INTEGER-ONLY math in exact cents (the fixture money doubles carry
    * ≤2 decimals, so `DECIMAL(12,2)*100 → BIGINT` is exact), because both
    * engines' integer division truncates identically while their
    * double-division rounding at bucket borders would not be provably
    * aligned. `width = span div buckets + 1` guarantees the max lands in
    * the last bucket. Scale: a fact-table histogram is two scans + one
    * 20-row aggregate — nothing ever concentrates on one partition. */
  private val qaggHistogram = QueryDef(
    "qagg_histogram",
    build = (spark, sfDir) => {
      val cents = (col("o_totalprice").cast(DecimalType(12, 2)) * 100).cast(LongType)
      val base = Tables.orders(spark, sfDir)
        .select(cents.as("cents"), d124(col("o_totalprice")).as("p"))
      val bounds = base.agg(
        min(col("cents")).as("lo"),
        (((max(col("cents")) - min(col("cents"))).cast(LongType)).divide(lit(20)).cast(LongType) + 1L)
          .as("width"))
      // div (not /) below: integer truncating division, matching DuckDB //
      base.crossJoin(broadcast(bounds))
        .withColumn("bucket", expr("(cents - lo) div width"))
        .groupBy(col("bucket"), col("lo"), col("width"))
        .agg(count(lit(1)).as("n"),
          decStr(sum(col("p")).cast(DecimalType(38, 4))).as("sum_price"))
        .select(col("bucket"),
          (col("lo") + col("bucket") * col("width")).as("lo_cents"),
          (col("lo") + (col("bucket") + 1) * col("width") - 1).as("hi_cents"),
          col("n"), col("sum_price"))
        .orderBy(col("bucket"))
    },
    oracle = Some(
      "WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents, " +
        "CAST(o_totalprice AS DECIMAL(12,4)) AS p FROM orders), " +
        "b AS (SELECT min(cents) AS lo, (max(cents) - min(cents)) // 20 + 1 AS width FROM c), " +
        "h AS (SELECT (cents - lo) // width AS bucket, lo, width, p FROM c, b) " +
        "SELECT CAST(bucket AS BIGINT) AS bucket, CAST(lo + bucket * width AS BIGINT) AS lo_cents, " +
        "CAST(lo + (bucket + 1) * width - 1 AS BIGINT) AS hi_cents, " +
        "count(*) AS n, CAST(CAST(sum(p) AS DECIMAL(38,4)) AS STRING) AS sum_price " +
        "FROM h GROUP BY bucket, lo, width ORDER BY bucket"))

  /** Grouped Pearson correlation + least-squares regression from EXACT
    * decimal sums — NOT the engines' `corr`/`regr_slope` (whose partial-
    * merge double accumulation is shuffle-order dependent and so differs
    * across engines AND across runs). All five moments (Σx, Σy, Σx²,
    * Σy², Σxy) are exact DECIMAL sums — products at (19,4)×(18,4) so
    * DuckDB promotes to int128 and Spark stays within DECIMAL(38,8),
    * both exact — cast ONCE to double and pushed through the identical
    * closed-form double expression tree, so every output bit matches.
    * The one trap (measured): DuckDB's direct DECIMAL→DOUBLE cast is NOT
    * correctly rounded (it can miss the nearest double by 1 ulp) while
    * Spark's BigDecimal.doubleValue is, so the oracle routes the
    * conversion through VARCHAR — strtod IS correctly rounded — making
    * both conversions exact-nearest and the downstream arithmetic
    * bit-identical. Scale: one partial+final hash aggregate; the moment
    * pattern extends to any number of (x, y) pairs in the same scan. */
  private val qaggCorr = QueryDef(
    "qagg_corr",
    build = (spark, sfDir) => {
      val x18 = col("l_quantity").cast(DecimalType(18, 4))
      val x19 = col("l_quantity").cast(DecimalType(19, 4))
      val y18 = col("l_extendedprice").cast(DecimalType(18, 4))
      val y19 = col("l_extendedprice").cast(DecimalType(19, 4))
      val s = Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x18).cast(DoubleType).as("sx"),
          sum(y18).cast(DoubleType).as("sy"),
          sum(x19 * x18).cast(DoubleType).as("sxx"),
          sum(y19 * y18).cast(DoubleType).as("syy"),
          sum(x19 * y18).cast(DoubleType).as("sxy"))
      val (slope, intercept, _, corr) = olsClose(col("n"), col("sx"),
        col("sy"), col("sxy"), col("sxx"), col("syy"))
      s.select(col("l_returnflag"), col("n"),
        corr.as("corr_qty_price"), slope.as("slope"), intercept.as("intercept"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some(
      "WITH s AS (SELECT l_returnflag, count(*) AS n, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sx, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sy, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sxx, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS syy, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sxy " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_returnflag, n, " +
        "(CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_price, " +
        "(CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope, " +
        "(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE) AS intercept " +
        "FROM s ORDER BY l_returnflag"))

  /** Cohort retention triangle — the product-analytics staple: users
    * cohorted by the week of their FIRST signup, then counted in every
    * later week they purchased, keyed by (cohort_week, offset_weeks).
    * Offsets are exact integer day-diffs `div` 7 (both weeks are Monday
    * `date_trunc` values, so the diff is always a multiple of 7). Scale:
    * two per-user aggregates + one equi-join on user_id + one final
    * aggregate — every shuffle is keyed, nothing is per-cohort hot
    * (cohort skew lands in the final metadata-scale aggregate, not the
    * join). */
  private val qaggRetention = QueryDef(
    "qagg_retention",
    build = (spark, sfDir) => {
      val ev = Tables.events(spark, sfDir)
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).cast(DateType).as("cohort_week"))
      val active = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), date_trunc("week", col("ts")).cast(DateType).as("w"))
        .distinct()
      active.join(cohorts, "user_id")
        .filter(col("w") >= col("cohort_week"))
        .select(col("cohort_week"),
          expr("CAST(datediff(w, cohort_week) div 7 AS BIGINT)").as("offset_weeks"))
        .groupBy(col("cohort_week"), col("offset_weeks"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_week"), col("offset_weeks"))
    },
    oracle = Some(
      "WITH s AS (SELECT user_id, CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_week " +
        "FROM events WHERE event_type = 'signup' GROUP BY user_id), " +
        "p AS (SELECT DISTINCT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w " +
        "FROM events WHERE event_type = 'purchase'), " +
        "j AS (SELECT s.cohort_week, CAST(date_diff('day', s.cohort_week, p.w) // 7 AS BIGINT) AS offset_weeks " +
        "FROM p JOIN s ON p.user_id = s.user_id WHERE p.w >= s.cohort_week) " +
        "SELECT cohort_week, offset_weeks, count(*) AS n_users " +
        "FROM j GROUP BY cohort_week, offset_weeks ORDER BY cohort_week, offset_weeks"))

  /** Deterministic per-group MODE (most frequent value): NOT the engines'
    * `mode()` (tie choice is engine-arbitrary, D8) — the counts aggregate
    * feeds a `row_number` ordered by (cnt desc, value asc), so ties break
    * lexicographically on both engines. Scale: the window runs over the
    * (group × value) AGGREGATE (bounded by the value domain per group),
    * never over raw events. */
  private val qaggMode = QueryDef(
    "qagg_mode",
    build = (spark, sfDir) => {
      val c = Tables.events(spark, sfDir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(desc("cnt"), col("event_type"))
      c.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"),
          col("cnt").as("mode_cnt"))
        .orderBy(col("user_id"))
    },
    oracle = Some(
      "WITH c AS (SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY user_id, event_type), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn FROM c) " +
        "SELECT user_id, event_type AS mode_type, cnt AS mode_cnt FROM r WHERE rn = 1 ORDER BY user_id"))

  /** Per-user Shannon entropy of the event-type distribution — the
    * behavioral-diversity signal (a scraper hammering one event type scores
    * ~0; a human mix scores near ln(n_types)). `-Σ cnt·ln(cnt/N)` is
    * accumulated EXACTLY: each type's log-probability is rounded to 6 dp
    * and cast to DECIMAL before the weighted sum (ln parity at 6 dp is the
    * qllm_tfidf/qllm_surprisal precedent; a raw double Σ would be
    * shuffle-order dependent), weights pinned at (19,0)×(18,6) so DuckDB
    * takes its exact int128 path and Spark stays ≤ DECIMAL(38,6). The mean
    * entropy goes back to double through ONE correctly-rounded conversion
    * (VARCHAR route on the oracle side — DuckDB's direct DECIMAL→DOUBLE
    * cast is 1-ulp-unround). Scale: both aggregates run over the
    * (user × type) count table, never raw events; per-key state is one
    * decimal + two longs. */
  private val qaggEntropy = QueryDef(
    "qagg_entropy",
    build = (spark, sfDir) => {
      val c = Tables.events(spark, sfDir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val t = c.groupBy(col("user_id")).agg(
        sum(col("cnt")).cast(LongType).as("n_events"),
        count(lit(1)).as("n_types"))
      val lp = round(log(col("cnt").cast(DoubleType) / col("n_events").cast(DoubleType)), 6)
        .cast(DecimalType(18, 6))
      val s = c.join(t, "user_id")
        .select(col("user_id"), (col("cnt").cast(DecimalType(19, 0)) * lp).as("w"))
        .groupBy(col("user_id"))
        .agg((-sum(col("w"))).cast(DecimalType(38, 6)).as("num"))
      t.join(s, "user_id")
        .select(col("user_id"), col("n_events"), col("n_types"),
          decStr(col("num")).as("entropy_num"),
          (col("num").cast(DoubleType) / col("n_events").cast(DoubleType)).as("entropy"))
        .orderBy(col("user_id"))
    },
    oracle = Some(
      "WITH c AS (SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2), " +
        "t AS (SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_events, count(*) AS n_types FROM c GROUP BY 1), " +
        "s AS (SELECT c.user_id, CAST(-sum(CAST(c.cnt AS DECIMAL(19,0)) * " +
        "CAST(round(ln(CAST(c.cnt AS DOUBLE) / t.n_events), 6) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS num " +
        "FROM c JOIN t USING (user_id) GROUP BY 1) " +
        "SELECT t.user_id, t.n_events, t.n_types, CAST(num AS STRING) AS entropy_num, " +
        "CAST(CAST(num AS VARCHAR) AS DOUBLE) / t.n_events AS entropy " +
        "FROM t JOIN s USING (user_id) ORDER BY t.user_id"))

  /** Incremental re-aggregation — the mergeable-partial-state primitive
    * every incremental ETL pipeline relies on: per-day partial aggregates
    * (count/sum/min/max — each an associative, commutative merge) are
    * re-aggregated per event_type, and the ORACLE is the direct
    * single-scan aggregate, so the gate itself proves
    * merge(partials) == aggregate(raw) cross-engine. At 100 TB this is the
    * difference between touching yesterday's partial table (metadata
    * scale) and rescanning the full history: only the newest day's raw
    * events are ever aggregated, then merged into the running partials.
    * Sums are exact decimals (D2), the average is one correctly-rounded
    * double division at the end. Both aggregation stages have map-side
    * partials; the merge stage's input is the (day × type) table —
    * bounded by the calendar, not the data. */
  private val qaggIncremental = QueryDef(
    "qagg_incremental",
    build = (spark, sfDir) => {
      val v = Tables.events(spark, sfDir)
        .select(col("event_type"),
          date_trunc("day", col("ts")).cast(DateType).as("day"),
          col("value").cast(DecimalType(12, 4)).as("val"))
      val partials = v.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("val")).cast(DecimalType(38, 4)).as("s"),
          min(col("val")).as("mn"), max(col("val")).as("mx"))
      partials.groupBy(col("event_type"))
        .agg(sum(col("n")).cast(LongType).as("n_events"),
          sum(col("s")).cast(DecimalType(38, 4)).as("sv"),
          min(col("mn")).as("mn"), max(col("mx")).as("mx"))
        .select(col("event_type"), col("n_events"),
          decStr(col("sv")).as("sum_value"),
          decStr(col("mn")).as("min_value"),
          decStr(col("mx")).as("max_value"),
          (col("sv").cast(DoubleType) / col("n_events").cast(DoubleType)).as("avg_value"))
        .orderBy(col("event_type"))
    },
    oracle = Some(
      // deliberately the DIRECT single-pass aggregate: matching it proves
      // the partial-merge path is lossless.
      "SELECT event_type, count(*) AS n_events, " +
        "CAST(CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS sum_value, " +
        "CAST(min(CAST(value AS DECIMAL(12,4))) AS STRING) AS min_value, " +
        "CAST(max(CAST(value AS DECIMAL(12,4))) AS STRING) AS max_value, " +
        "CAST(CAST(CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) / count(*) AS avg_value " +
        "FROM events GROUP BY event_type ORDER BY event_type"))

  /** Key-skew profiler — the diagnosis step that decides whether a join
    * needs `Graft.saltedJoin`: the top-5 heavy-hitter keys with their
    * share of all rows, plus the global skew factor max_cnt·n_keys/total
    * (1.0 = perfectly uniform). The top-k is deliberately NOT a
    * `row_number` window (a global window funnels the whole key aggregate
    * through one partition): `orderBy(...).limit(k)` plans as
    * TakeOrderedAndProject — per-partition top-k then a k-row merge, the
    * plan that survives a billion-key aggregate. Shares are single
    * correctly-rounded double divisions of exact longs, identically
    * associated on both engines. */
  private val qaggSkew = QueryDef(
    "qagg_skew",
    build = (spark, sfDir) => {
      val c = Tables.events(spark, sfDir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val s = c.agg(sum(col("cnt")).cast(LongType).as("total"),
        count(lit(1)).as("n_keys"), max(col("cnt")).as("max_cnt"))
      c.orderBy(desc("cnt"), col("user_id")).limit(5)
        .crossJoin(broadcast(s))
        .select(col("user_id"), col("cnt"),
          (col("cnt").cast(DoubleType) / col("total")).as("share"),
          (col("max_cnt").cast(DoubleType) * col("n_keys") / col("total")).as("skew_factor"))
        .orderBy(desc("cnt"), col("user_id"))
    },
    oracle = Some(
      "WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1), " +
        "s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys, max(cnt) AS max_cnt FROM c), " +
        "t AS (SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT 5) " +
        "SELECT t.user_id, CAST(t.cnt AS BIGINT) AS cnt, " +
        "CAST(t.cnt AS DOUBLE) / s.total AS share, " +
        "CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.total AS skew_factor " +
        "FROM t CROSS JOIN s ORDER BY t.cnt DESC, t.user_id"))

  /** Robust outlier profiling: per-type exact median, median absolute
    * deviation (MAD), and |x−med| > 3·MAD outlier counts. Everything is
    * VALUE-AGGREGATED: both medians are picked by cumulative counts over
    * the (type, value) frame — the window sorts distinct DECIMAL(12,4)
    * values (bounded by the value DOMAIN, ~10⁷ cells for a [0,1000) money
    * domain, not by row count — the qjoin_theta_range cents trick), never
    * raw events. Exactness: the doubled sums medsum = v@⌈n/2⌉+v@⌈(n+1)/2⌉
    * (one value counted twice when n is odd — no even/odd CASE) and
    * madsum = 4·MAD keep every comparison in scaled-integer decimals; the
    * outlier test dev > 3·MAD runs as 2·dev2 > 3·madsum, and the
    * human-scale median/MAD emerge exactly via ×0.5 / ×0.25 (scale grows,
    * nothing rounds). */
  private val qaggMad = QueryDef(
    "qagg_mad",
    build = (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("event_type"), col("value").cast(DecimalType(12, 4)).as("v"))
      // the (type, value) histogram is the ONLY pass over raw events and
      // is domain-bounded; materializing it (Ckpt) lets the
      // n / cum / dev / final branches reuse one exchange instead of
      // re-running scan+aggregate per branch — the static plan drops
      // from 33 Exchange nodes to single digits (PlanSpec pins < 10)
      val vc = Ckpt(e.groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt")))
      val n = vc.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
      val cw = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // both positional picks ride ONE aggregation over the cum frame as
      // conditional mins — a second filter branch would recompute the whole
      // window subtree (measured 6.5 s → the pair-collapse is the fix)
      val cum = vc.withColumn("cum", sum(col("cnt")).over(cw)).join(broadcast(n), "event_type")
      val med = cum.groupBy(col("event_type"))
        .agg((min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))) +
          min(when(col("cum") >= expr("(n + 2) div 2"), col("v"))))
          .cast(DecimalType(14, 4)).as("medsum"))
      val dev = vc.join(broadcast(med), "event_type")
        .select(col("event_type"),
          abs(col("v") * 2 - col("medsum")).cast(DecimalType(15, 4)).as("dev2"), col("cnt"))
        .groupBy(col("event_type"), col("dev2")).agg(sum(col("cnt")).as("cnt"))
      val dw = Window.partitionBy(col("event_type")).orderBy(col("dev2"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // same move for the deviation histogram: mad and the outlier count
      // both read it
      val dcum = Ckpt(dev.withColumn("cum", sum(col("cnt")).over(dw)).join(broadcast(n), "event_type"))
      val mad = dcum.groupBy(col("event_type"))
        .agg((min(when(col("cum") >= expr("(n + 1) div 2"), col("dev2"))) +
          min(when(col("cum") >= expr("(n + 2) div 2"), col("dev2"))))
          .cast(DecimalType(16, 4)).as("madsum"))
      val out = dcum.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(sum(when(col("dev2") * 2 > col("madsum") * 3, col("cnt")).otherwise(lit(0L)))
          .as("n_outliers"))
      // per-type scalars: broadcast the stitch joins, no shuffles
      n.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
        .join(broadcast(out), "event_type")
        .select(col("event_type"), col("n"),
          decStr((col("medsum") * lit(BigDecimal("0.5"))).cast(DecimalType(38, 6))).as("median"),
          decStr((col("madsum") * lit(BigDecimal("0.25"))).cast(DecimalType(38, 6))).as("mad"),
          col("n_outliers"))
        .orderBy(col("event_type"))
    },
    oracle = Some(
      "WITH e AS (SELECT event_type, CAST(value AS DECIMAL(12,4)) AS v FROM events), " +
        "vc AS (SELECT event_type, v, count(*) AS cnt FROM e GROUP BY 1, 2), " +
        "n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM vc GROUP BY 1), " +
        "cum AS (SELECT event_type, v, cnt, sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum FROM vc), " +
        "m AS (SELECT cum.event_type, CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END) " +
        "+ min(CASE WHEN cum >= (n + 2) // 2 THEN v END) AS DECIMAL(14,4)) AS medsum " +
        "FROM cum JOIN n USING (event_type) GROUP BY 1), " +
        "dev AS (SELECT vc.event_type, CAST(abs(v * 2 - medsum) AS DECIMAL(15,4)) AS dev2, sum(cnt) AS cnt " +
        "FROM vc JOIN m USING (event_type) GROUP BY 1, 2), " +
        "dcum AS (SELECT event_type, dev2, cnt, sum(cnt) OVER (PARTITION BY event_type ORDER BY dev2) AS cum FROM dev), " +
        "md AS (SELECT dcum.event_type, CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN dev2 END) " +
        "+ min(CASE WHEN cum >= (n + 2) // 2 THEN dev2 END) AS DECIMAL(16,4)) AS madsum " +
        "FROM dcum JOIN n USING (event_type) GROUP BY 1), " +
        "o AS (SELECT dcum.event_type, CAST(sum(CASE WHEN dev2 * 2 > madsum * 3 THEN cnt ELSE 0 END) AS BIGINT) AS n_outliers " +
        "FROM dcum JOIN md USING (event_type) GROUP BY 1) " +
        "SELECT n.event_type, n.n, CAST(CAST(medsum * 0.5 AS DECIMAL(38,6)) AS VARCHAR) AS median, " +
        "CAST(CAST(madsum * 0.25 AS DECIMAL(38,6)) AS VARCHAR) AS mad, o.n_outliers " +
        "FROM n JOIN m USING (event_type) JOIN md USING (event_type) JOIN o USING (event_type) " +
        "ORDER BY n.event_type"))

  /** Bitwise aggregates (bit_and / bit_or / bit_xor) — the bitmap-flag
    * rollup an OLAP engine exposes for permission masks and feature-flag
    * columns. All three are commutative+associative, so partial/final
    * merge order can never change a result — shuffle-order independent by
    * construction, no decimal machinery needed. Scale: plain partial
    * HashAggregate + one shuffle on the group key. */
  private val qaggBitwise = QueryDef(
    "qagg_bitwise",
    build = (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("bit_and(user_id)").as("band"),
          expr("bit_or(user_id)").as("bor"),
          expr("bit_xor(user_id)").as("bxor"))
        .orderBy(col("event_type")),
    oracle = Some(
      "SELECT event_type, count(*) AS n, bit_and(user_id) AS band, " +
        "bit_or(user_id) AS bor, bit_xor(user_id) AS bxor " +
        "FROM events GROUP BY event_type ORDER BY event_type"))

  /** Time-series downsampling to per-(day, type) OHLC bars — the resample
    * step every metrics/feature pipeline runs before modeling. The whole
    * bar is ONE partial-aggregable groupBy: open/close are `min_by`/
    * `max_by` over a single strictly-unique BIGINT-scale order key
    * (µs·2²⁴ + event_id — exact in DECIMAL(38,0) here and HUGEINT on the
    * oracle; event_id < 2²⁴ up to sf ≈ 100), so first/last resolve
    * map-side with no window sort anywhere. That is the 100 TB contrast
    * to qwin_first_last's window form: a resample over N rows shuffles
    * only the per-bar partial states (bars ≪ rows), never sorts raw rows.
    * High/low/close/open are exact value PICKS (no double arithmetic);
    * the bar's volume sum goes through the D2 decimal cast. */
  private val qaggOhlc = QueryDef(
    "qagg_ohlc",
    build = (spark, sfDir) => {
      val seq = unix_micros(col("ts")).cast(DecimalType(38, 0)) * 16777216 +
        col("event_id")
      Tables.events(spark, sfDir)
        .select(col("ts").cast(DateType).as("day"), col("event_type"),
          col("value"), seq.as("seq"))
        .groupBy(col("day"), col("event_type"))
        .agg(
          min_by(col("value"), col("seq")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("seq")).as("close"),
          count(lit(1)).as("n_events"),
          decStr(sum(d124(col("value"))).cast(DecimalType(38, 4))).as("sum_value"))
        .orderBy(col("day"), col("event_type"))
    },
    oracle = Some(
      "WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type, value, " +
        "CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT) * 16777216 + event_id AS seq " +
        "FROM events) " +
        "SELECT day, event_type, arg_min(value, seq) AS open, max(value) AS high, " +
        "min(value) AS low, arg_max(value, seq) AS close, count(*) AS n_events, " +
        "CAST(CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS sum_value " +
        "FROM e GROUP BY day, event_type ORDER BY day, event_type"))

  /** **no-oracle.** Count-min-sketch frequency estimates over corpus
    * tokens — the mergeable heavy-hitter primitive
    * (functions/CountMinAgg.scala): a depth×width counter matrix whose
    * merge is cell-wise ADDITION, so the sketch bits (and every estimate)
    * are identical under any partial-agg/merge order — unlike
    * eviction-based summaries (space-saving), which are merge-order-
    * sensitive at the margins and would break run-twice determinism.
    * Probes are a fixed word list; probe hashes are computed by evaluating
    * the engine's own XxHash64 at plan-build time, so they match the
    * per-row `xxhash64(tok)` exactly. `hot` flags probes above 1% of all
    * tokens — estimate ≥ true count always (counters only over-count), so
    * no true heavy hitter can be missed. Sketch semantics have no
    * cross-engine-exact SQL form → property-tested in PropertySpec
    * (bounds + merge-order independence) instead of oracled.
    *
    * Scale: O(depth×width) state per executor regardless of corpus size;
    * the exact alternative shuffles the full vocabulary. */
  private val qaggCms = QueryDef(
    "qagg_cms",
    build = (spark, sfDir) => {
      import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit, XxHash64}
      val probeWords = Seq("table", "value", "key", "scan", "window", "stream", "vector", "the")
      val probeHashes = probeWords.map(w =>
        new XxHash64(Seq(CatLit.create(w, StringType))).eval(null).asInstanceOf[Long])
      val toks = Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      toks
        .agg(
          graft.functions.CountMinAgg.cms_estimates(xxhash64(col("tok")), probeHashes).as("ests"),
          count(lit(1)).as("n_tokens"))
        .select(col("n_tokens"), posexplode(col("ests")).as(Seq("pos", "est_count")))
        .select(
          element_at(array(probeWords.map(lit): _*), col("pos") + 1).as("token"),
          col("est_count"),
          (col("est_count") * 100 > col("n_tokens")).as("hot"))
        .orderBy(col("token"))
    },
    oracle = None)

  /** Frequent-pair mining (market basket over event types): users who
    * exhibit BOTH behaviors, per unordered type pair, with exact support.
    *
    * Scale: the `distinct` on (user, type) runs BEFORE pairing, so the
    * per-user pair fanout is bounded by |types| choose 2 (a small domain),
    * never by the user's raw event count — the same distinct-first shape
    * as the co-purchase edge derivation (§2.L). Support = one IEEE
    * division of exact integer counts → bit-identical doubles. */
  private val qaggFreqpairs = QueryDef(
    "qagg_freqpairs",
    build = (spark, sfDir) => {
      val ev = Tables.events(spark, sfDir)
      // collect_set per user replaces the distinct + self-join (the
      // GraphOps.edges shape): one keyed shuffle with map-side partial
      // sets (bounded by the ~5-value event_type domain), pair generation
      // map-side over the array, then the pair-count aggregate. Two
      // shuffles instead of four; string `y > x` is binary-collation `<`
      // on both engines.
      val pairs = ev.select(col("user_id"), col("event_type"))
        .groupBy(col("user_id"))
        .agg(collect_set(col("event_type")).as("ts"))
        .select(explode(expr(
          "flatten(transform(ts, x -> " +
            "transform(filter(ts, y -> y > x), y -> struct(x AS type_a, y AS type_b))))"))
          .as("p"))
        .groupBy(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
        .agg(count(lit(1)).as("n_users"))
      val total = ev.agg(countDistinct(col("user_id")).as("n_total"))
      pairs.crossJoin(broadcast(total))
        .select(col("type_a"), col("type_b"), col("n_users"),
          (col("n_users").cast(DoubleType) / col("n_total").cast(DoubleType))
            .as("support"))
        .orderBy(col("n_users").desc, col("type_a"), col("type_b"))
    },
    oracle = Some(
      "WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_total FROM events) " +
        "SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(count(*) AS DOUBLE) / CAST(n_total AS DOUBLE) AS support " +
        "FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "CROSS JOIN tot " +
        "GROUP BY a.event_type, b.event_type, n_total " +
        "ORDER BY n_users DESC, type_a, type_b"))

  /** Weighted quantiles (p25/median/p75 of extended price, weighted by
    * quantity) per return flag — the sample-weighting primitive of a
    * training-mix pipeline (each record carries a weight; quantiles must
    * respect it, not row counts). Definition: q-th weighted quantile =
    * MIN value v with cumweight(v)·100 ≥ q·totweight — pure integer
    * predicates on exact scale-0 weights (fixture quantities are whole
    * numbers; the d124 cast + LongType pin makes that explicit).
    *
    * Scale: the cumulative frame is VALUE-aggregated (the qagg_percentile
    * trick — groupBy (flag, price) first), so the window sorts distinct
    * prices per flag, never raw rows; the quantile picks are conditional
    * mins over that frame — no collect, no per-key array. */
  private val qaggWquantile = QueryDef(
    "qagg_wquantile",
    build = (spark, sfDir) => {
      // group on the scale-4 integer (exact bijection with the
      // DECIMAL(12,4) price), reconstruct the decimal at census scale:
      // the fact-scale aggregate hashes/compares plain longs
      //
      // A running-sum window PARTITIONED BY flag would be |flags| = 3
      // serial tasks sorting the whole distinct-price census, however big
      // it is. The prefix algebra of qjoin_range_binned replaces it:
      // per-(flag, $100-bin) partial weights roll up map-side; ONE
      // metadata-scale window over ≤ ~1.1 k bins/flag yields bin prefix
      // sums and totals; each quantile's crossing BIN is found on that
      // tiny frame; and only the crossing bins' census rows
      // (broadcast-joined, ≤ |flags|·3 bins) pay a within-bin running
      // sum. cum(p) = binPrefix(<bin) +
      // withinBin(≤p) is the same exact integer sum, so each wq pick is
      // bit-identical; total_weight is the same Σcw. The census is
      // checkpointed — it feeds the bin rollup AND the crossing-bin probe
      // (the qagg_mad vc precedent); distinct (flag, price) is near
      // row-scale until the cent domain saturates.
      val vw = Ckpt(Tables.lineitem(spark, sfDir)
        .select(col("l_returnflag").as("flag"),
          (d124(col("l_extendedprice")) * lit(10000)).cast(LongType).as("pi"),
          d124(col("l_quantity")).cast(LongType).as("w"))
        .groupBy(col("flag"), col("pi"))
        .agg(sum(col("w")).as("cw")))
      // cum·100 ≥ tot·q  ⟺  cum ≥ ⌈tot·q/100⌉ over integers — the
      // binnedPicks target form. $100 bins (pi div 10^6): the bin frame
      // is ≤ ~1.1 k rows per flag at ANY scale (price-domain-bound).
      val picks = binnedPicks(vw, "flag", "pi", "cw", 1000000L,
        Seq(25, 50, 75).map(q => (q, expr(s"(__tot * $q + 99) div 100"))))
      picks.groupBy(col("flag"))
        .agg(
          max(col("__tot")).as("total_weight"),
          min(when(col("__q") === 25, col("__pick"))).as("q25i"),
          min(when(col("__q") === 50, col("__pick"))).as("q50i"),
          min(when(col("__q") === 75, col("__pick"))).as("q75i"))
        .select(col("flag"), col("total_weight"),
          decStr((col("q25i").cast(DecimalType(38, 4)) / lit(10000))
            .cast(DecimalType(12, 4))).as("w_p25"),
          decStr((col("q50i").cast(DecimalType(38, 4)) / lit(10000))
            .cast(DecimalType(12, 4))).as("w_median"),
          decStr((col("q75i").cast(DecimalType(38, 4)) / lit(10000))
            .cast(DecimalType(12, 4))).as("w_p75"))
        .orderBy(col("flag"))
    },
    oracle = Some(
      "WITH vw AS (SELECT l_returnflag AS flag, CAST(l_extendedprice AS DECIMAL(12,4)) AS price, " +
        "CAST(CAST(l_quantity AS DECIMAL(12,4)) AS BIGINT) AS w FROM lineitem), " +
        "g AS (SELECT flag, price, CAST(sum(w) AS BIGINT) AS cw FROM vw GROUP BY flag, price), " +
        "c AS (SELECT *, CAST(sum(cw) OVER (PARTITION BY flag ORDER BY price " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(sum(cw) OVER (PARTITION BY flag) AS BIGINT) AS tot FROM g) " +
        "SELECT flag, max(tot) AS total_weight, " +
        "CAST(min(CASE WHEN cum * 100 >= tot * 25 THEN price END) AS STRING) AS w_p25, " +
        "CAST(min(CASE WHEN cum * 100 >= tot * 50 THEN price END) AS STRING) AS w_median, " +
        "CAST(min(CASE WHEN cum * 100 >= tot * 75 THEN price END) AS STRING) AS w_p75 " +
        "FROM c GROUP BY flag ORDER BY flag"))

  /** Exact integer Gram + covariance matrix over the embedding corpus —
    * the X^T·X building block behind PCA/whitening/linear probes, computed
    * the way a 100 TB pipeline must: each component is quantized to a
    * 2^20-scaled integer (`floor(x·2^20 + 0.5)` — float→double is exact
    * and the scaled add/floor is engine-identical, the [[qllm_quantize]]
    * pattern), so every cross-row sum is INTEGER arithmetic — exact and
    * aggregation-order-free where a double accumulation would drift
    * between engines/partition orders.
    *
    * Shape (round 8): ONE native outer-product aggregate
    * ([[graft.functions.GramAgg]]) — per-partition state is the
    * d(d+1)/2 + d primitive accumulator cells (~17 KB at d=64) with an
    * exact BigInteger overflow spill, merged once per partial. This
    * replaced the explode-2080-structs-per-row → groupBy(i,j)
    * formulation after the sf1 run measured that shape at 26–39 s: the
    * materialized pair stream (rows × 2080 structs = 2.08 G rows at
    * sf1) was pure overhead around ~0.1 CPU-seconds of arithmetic.
    * Same DECIMAL(38,0) outputs; the covariance still needs no second
    * pass: n·Σab − Σa·Σb over the emitted sums (Σa·Σb ~10^19 overflows
    * BIGINT at fixture scale already — the width is load-bearing). */
  private val qaggGram = QueryDef(
    "qagg_gram",
    build = (spark, sfDir) =>
      Tables.embeddings(spark, sfDir)
        .select(
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT))")
            .as("q"))
        .agg(graft.functions.GramAgg.gram(col("q"), 64).as("g"))
        .select(explode(col("g")).as("p"))
        .select(col("p.i").as("i"), col("p.j").as("j"), col("p.n").as("n_vecs"),
          decStr(col("p.sab")).as("gram"),
          decStr((col("p.n").cast(DecimalType(38, 0)) * col("p.sab") - col("p.sa") * col("p.sb"))
            .cast(DecimalType(38, 0))).as("ncov"))
        .orderBy(col("i"), col("j")),
    oracle = Some(
      "WITH q AS (SELECT vec_id, t.i AS i, " +
        "CAST(floor(CAST(embedding[t.i+1] AS DOUBLE)*1048576.0+0.5) AS BIGINT) AS qv " +
        "FROM embeddings, LATERAL (SELECT UNNEST(range(0, len(embedding))) AS i) t), " +
        "p AS (SELECT a.i AS i, b.i AS j, a.qv AS qa, b.qv AS qb " +
        "FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i) " +
        "SELECT i, j, count(*) AS n_vecs, " +
        "CAST(CAST(sum(qa*qb) AS DECIMAL(38,0)) AS STRING) AS gram, " +
        "CAST(CAST(count(*)*sum(qa*qb) - sum(qa)*sum(qb) AS DECIMAL(38,0)) AS STRING) AS ncov " +
        "FROM p GROUP BY i, j ORDER BY i, j"))

  /** Batch multi-step funnel (view → click → purchase, strictly ordered
    * timestamps) — the sequential-conversion census: step k counts users
    * whose earliest step-k event follows their step-(k−1) anchor. Three
    * conditional-min passes (per-user min view ts; min click ts ≥ that;
    * min purchase ts ≥ that), each ONE keyed aggregate + ONE keyed join —
    * never a per-user event sort, never a window over raw events, so the
    * plan is three map-side-combinable aggregates at any scale. Anchor
    * mins are unique instants per user (min is deterministic regardless
    * of ties — D8 needs no tiebreak for counts); conversion rates are
    * single IEEE divisions of exact counts. */
  private val qaggFunnel = QueryDef(
    "qagg_funnel",
    build = (spark, sfDir) => {
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tu"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("tu")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("tu") >= col("t1"))
        .groupBy(col("user_id")).agg(min(col("tu")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("tu") >= col("t2"))
        .groupBy(col("user_id")).agg(min(col("tu")).as("t3"))
      val n1 = s1.agg(count(lit(1)).as("n_view")).select(col("n_view"))
      val n2 = s2.agg(count(lit(1)).as("n_click")).select(col("n_click"))
      val n3 = s3.agg(count(lit(1)).as("n_purchase")).select(col("n_purchase"))
      n1.crossJoin(n2).crossJoin(n3)
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          (col("n_click").cast(DoubleType) / col("n_view").cast(DoubleType)).as("rate_click"),
          (col("n_purchase").cast(DoubleType) / col("n_click").cast(DoubleType)).as("rate_purchase"))
    },
    oracle = Some(
      "WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events), " +
        "s1 AS (SELECT user_id, min(tu) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(tu) AS t2 FROM e JOIN s1 USING (user_id) " +
        "WHERE event_type = 'click' AND tu >= t1 GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(tu) AS t3 FROM e JOIN s2 USING (user_id) " +
        "WHERE event_type = 'purchase' AND tu >= t2 GROUP BY e.user_id) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_view, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_click, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_purchase, " +
        "CAST((SELECT count(*) FROM s2) AS DOUBLE) / CAST((SELECT count(*) FROM s1) AS DOUBLE) AS rate_click, " +
        "CAST((SELECT count(*) FROM s3) AS DOUBLE) / CAST((SELECT count(*) FROM s2) AS DOUBLE) AS rate_purchase"))

  /** No oracle (Datasketches HLL binary is Spark-specific): MERGEABLE
    * sketch re-aggregation — the pre-aggregated-cube pattern that makes
    * distinct counting tractable at 100 TB: stage 1 reduces raw events to
    * a (event_type, day) grain carrying an `hll_sketch_agg` binary per
    * cell; stage 2 answers the coarser per-type question by
    * `hll_union_agg` over the CELL SKETCHES — the fact table is never
    * rescanned, and the union is register-wise max, so merge order
    * cannot change a bit (run-twice determinism holds). PropertySpec
    * pins the algebra: union-of-cell-sketches estimates EXACTLY equal the
    * direct whole-type sketch, and land within 5% of the true distinct
    * count. This is the distributed-systems story qagg_approxhll
    * (per-group estimate only) does not cover: sketches as REUSABLE
    * intermediate state, not just final numbers. */
  private val qaggHllmerge = QueryDef(
    "qagg_hllmerge",
    build = (spark, sfDir) => {
      val cells = Tables.events(spark, sfDir)
        .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"), count(lit(1)).as("n_events"))
      cells.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("n_events")).as("n_events"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
        .orderBy(col("event_type"))
    },
    oracle = None)

  /** Deterministic ARGMAX via the dedicated max_by/arg_max aggregate —
    * "which order is each priority class's biggest" without a window or
    * self-join. Neither engine's argmax accepts a composite (struct)
    * ordering, and ties on the raw measure would make the picked row
    * engine-dependent (D8) — so the ordering key is the EXACT composite
    * integer price_i4·10¹⁰ + orderkey in DECIMAL(38,0)/HUGEINT: the
    * price dominates, the unique orderkey breaks ties, and both engines
    * compare the same integers. One partial-aggregable groupBy — argmax
    * resolves map-side, shuffling one candidate row per (partition,
    * group), the scale shape that makes max_by preferable to the
    * row_number window at 100 TB. */
  private val qaggArgmax = QueryDef(
    "qagg_argmax",
    build = (spark, sfDir) => {
      val priceI = (d124(col("o_totalprice")) * lit(10000)).cast(LongType)
      val ord = (priceI.cast(DecimalType(38, 0)) * lit(10000000000L) +
        col("o_orderkey")).cast(DecimalType(38, 0))
      Tables.orders(spark, sfDir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          max_by(col("o_orderkey"), ord).as("best_orderkey"),
          decStr(max(d124(col("o_totalprice")))).as("best_price"))
        .orderBy(col("o_orderpriority"))
    },
    oracle = Some(
      "WITH o AS (SELECT o_orderpriority, o_orderkey, " +
        "CAST(o_totalprice AS DECIMAL(12,4)) AS price_d, " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS BIGINT) AS HUGEINT) " +
        "* 10000000000 + o_orderkey AS ordkey FROM orders) " +
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, " +
        "arg_max(o_orderkey, ordkey) AS best_orderkey, " +
        "CAST(max(price_d) AS STRING) AS best_price " +
        "FROM o GROUP BY o_orderpriority ORDER BY o_orderpriority"))

  /** Rolling 7-day distinct actives (DAU → trailing WAU) — THE
    * engagement metric, and the canonical "distinct over a sliding
    * window" problem: a naive per-day window over raw events re-counts
    * every user 7×, and a RANGE-frame `count_distinct` window doesn't
    * exist in either engine. The scalable decomposition: dedup to
    * (day, user) once, POSEXPLODE each active-day into the 7 trailing
    * report days it contributes to (map-side ×7 on fixed-width triples),
    * then ONE pair-keyed aggregate serves both metrics: per (rday, user)
    * keep min(offset) — 0 iff the user was active ON rday — so per rday
    * wau = count of pairs and dau = count of min-offset-0 pairs. The
    * round-11 form computed dau and wau as two separate count_distinct
    * branches: Catalyst's distinct decomposition was already
    * pair-partitioned (no per-day set ever sat in one task), but the du
    * subtree ran TWICE (two events scans, two (day,user) dedup
    * exchanges) and the branches met in a join — measured 4.1× on
    * 3× data sf10→sf30.
    *
    * The key move is the `repartition(user_id)` between the dedup and
    * the explode: HashPartitioning(user) satisfies the clustering of
    * BOTH downstream aggregates' keys that matter — (user, rday) groups
    * are user-local — so the ×7 exploded stream never leaves its task:
    * posexplode → pair-keyed min → rday-keyed partial counts is one
    * fused codegen pipeline whose only exchange output is ~calendar-days
    * partial rows per task. Without it the exploded pairs themselves
    * shuffle (7× the dedup volume; measured 6× CPU on 3× data sf10→sf30
    * from the 70 M-row exchange + two pair-scale aggregation maps). Every
    * aggregation state is a fixed-width long; the per-task (user, rday)
    * map is bounded by the task's pair share × 7. `dau > 0` keeps
    * exactly the report days that occur in the data (each occurring day
    * has ≥ 1 offset-0 user; phantom tail days past max(day) and absent
    * middle days have none), reproducing the old inner join to the day
    * list. user_id is non-null by construction (GenData h(26, nUsers)),
    * so count(pairs) matches count(DISTINCT user_id) exactly. */
  private val qaggRollingDau = QueryDef(
    "qagg_rolling_dau",
    build = (spark, sfDir) => {
      val du = Tables.events(spark, sfDir)
        .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
        .distinct()
      du.repartition(col("user_id"))
        .selectExpr("user_id", "posexplode(sequence(day, day + 6)) AS (o, rday)")
        .groupBy(col("user_id"), col("rday"))
        .agg(min(col("o")).as("mino"))
        .groupBy(col("rday"))
        .agg(
          sum(when(col("mino") === 0, 1L)).as("dau"),
          count(lit(1)).as("wau"))
        .filter(col("dau") > 0)
        .select(col("rday").as("day"), col("dau"), col("wau"))
        .orderBy(col("day"))
    },
    oracle = Some(
      "WITH du AS (SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, " +
        "user_id FROM events), " +
        "d AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM du GROUP BY day), " +
        "t AS (SELECT unnest(generate_series(day, day + 6)) AS rday, user_id FROM du), " +
        "w AS (SELECT rday, CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM t GROUP BY rday) " +
        "SELECT d.day, d.dau, w.wau FROM d JOIN w ON w.rday = d.day ORDER BY d.day"))

  /** Association rules over per-user event-type sets — qagg_freqpairs
    * extended from co-occurrence SUPPORT to the full market-basket
    * readout: per unordered pair, confidence in both directions
    * (n_ab/n_a, n_ab/n_b) and lift (n_ab·N / (n_a·n_b)). All inputs are
    * exact distinct-user counts; each metric is ONE fixed-shape IEEE
    * expression over their double casts (D3).
    *
    * Scale: the pair table comes from the same collect_set shape as
    * qagg_freqpairs (map-side partial sets bounded by the event-type
    * domain, pairs generated map-side); per-type counts and the pair
    * table are both domain-bounded (≤ |types|² rows), so the enrichment
    * joins broadcast — nothing here grows with the row count except the
    * two keyed aggregates. */
  private val qaggAssoc = QueryDef(
    "qagg_assoc",
    build = (spark, sfDir) => {
      // Round 15 (guide §1.2/§2.3 — the r14 verdict's top untouched cost,
      // 25.1 s clean isolate at sf60): the old shape consumed the per-user
      // collect_set frame THREE times (pair explode, singles explode,
      // total) with no materialization, so the fact scan + users-scale
      // shuffle + set aggregate ran three times per query; and its
      // aggregation state was an array-of-strings per user. The event-type
      // domain is tiny (a census-scale DICTIONARY, ≤ a few dozen types at
      // any sf), so a user's type-set packs into ONE long BITMASK:
      //   - dict: distinct types, lexicographically indexed (row_number
      //     over ≤|types| rows — one metadata-scale window task);
      //   - ONE users-scale aggregate bit_or(1L << idx) replaces
      //     collect_set — 8-byte fixed-width state, order-independent;
      //   - the mask HISTOGRAM (≤ 2^|types| rows) is checkpointed and
      //     every readout (pairs, singles, total) is a metadata-scale
      //     sum over it: n_ab = Σ cnt over masks with both bits, n_t =
      //     Σ cnt over masks with bit t, n_total = Σ cnt — exactly the
      //     distinct-user counts the set shape produced (a user
      //     contributes to pair (a,b) iff both bits are in its mask iff
      //     {a,b} ⊆ its set), in exact integer arithmetic.
      // dict idx is monotone in the type name, so __ia < __ib ⟺
      // type_a < type_b — the same pair orientation and ordering.
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"))
      // NULL is no type: it gets no bit, and the left join below keeps a
      // user whose rows are all NULL-typed with mask 0, so that user
      // counts toward n_total only (the oracle's count(DISTINCT user_id)).
      // dict feeds FOUR broadcast consumers (mask join, singles, both
      // pair sides); materialize the ≤|types|-row frame once so the
      // distinct-over-events scan runs exactly once
      val dict = Ckpt(ev.select(col("event_type")).filter(col("event_type").isNotNull).distinct()
        .withColumn("__i",
          row_number().over(Window.orderBy(col("event_type"))) - 1)
        // fail-loud bitmask-width guard: shiftleft on a LONG silently
        // WRAPS past bit 63 (1L << 64 == 1L), which would corrupt masks
        // if the type domain ever outgrew a long — assert_true returns
        // NULL (keeping every row) while the domain fits and throws the
        // moment it doesn't, so the shape can never silently mis-count
        .filter(expr("assert_true(__i <= 62, " +
          "'qagg_assoc: >63 event types - bitmask shape invalid')").isNull))
      // ≤ 2^|types| rows, three consumers below — materialize once so
      // the users-scale aggregate runs exactly once
      val hist = Ckpt(ev.join(broadcast(dict), Seq("event_type"), "left")
        .groupBy(col("user_id"))
        .agg(coalesce(expr("bit_or(shiftleft(CAST(1 AS BIGINT), __i))"), lit(0L)).as("m"))
        .groupBy(col("m")).agg(count(lit(1)).as("cnt")))
      val bitOf = expr("shiftleft(CAST(1 AS BIGINT), __i)")
      val singles = hist.crossJoin(broadcast(dict))
        .filter(col("m").bitwiseAND(bitOf) =!= 0)
        .groupBy(col("event_type"))
        .agg(sum(col("cnt")).cast(LongType).as("n_t"))
      val total = hist.agg(sum(col("cnt")).cast(LongType).as("n_total"))
      val da = dict.select(col("event_type").as("type_a"), col("__i").as("__ia"))
      val db = dict.select(col("event_type").as("type_b"), col("__i").as("__ib"))
      val pairs = hist.crossJoin(broadcast(da.crossJoin(db)
          .filter(col("__ia") < col("__ib"))))
        .filter(col("m").bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), __ia)")) =!= 0 &&
          col("m").bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), __ib)")) =!= 0)
        .groupBy(col("type_a"), col("type_b"))
        .agg(sum(col("cnt")).cast(LongType).as("n_ab"))
      val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
      pairs
        .join(broadcast(singles.select(col("event_type").as("type_a"), col("n_t").as("n_a"))), "type_a")
        .join(broadcast(singles.select(col("event_type").as("type_b"), col("n_t").as("n_b"))), "type_b")
        .crossJoin(broadcast(total))
        .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
          (d(col("n_ab")) / d(col("n_a"))).as("conf_ab"),
          (d(col("n_ab")) / d(col("n_b"))).as("conf_ba"),
          (d(col("n_ab")) * d(col("n_total")) / (d(col("n_a")) * d(col("n_b"))))
            .as("lift"))
        .orderBy(col("type_a"), col("type_b"))
    },
    oracle = Some(
      "WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM ut GROUP BY event_type), " +
        "tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_total FROM events), " +
        "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(count(*) AS BIGINT) AS n_ab " +
        "FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "GROUP BY 1, 2) " +
        "SELECT type_a, type_b, n_ab, sa.n_t AS n_a, sb.n_t AS n_b, " +
        "CAST(n_ab AS DOUBLE) / CAST(sa.n_t AS DOUBLE) AS conf_ab, " +
        "CAST(n_ab AS DOUBLE) / CAST(sb.n_t AS DOUBLE) AS conf_ba, " +
        "CAST(n_ab AS DOUBLE) * CAST(n_total AS DOUBLE) / " +
        "(CAST(sa.n_t AS DOUBLE) * CAST(sb.n_t AS DOUBLE)) AS lift " +
        "FROM p JOIN s sa ON sa.event_type = type_a JOIN s sb ON sb.event_type = type_b " +
        "CROSS JOIN tot ORDER BY type_a, type_b"))

  /** Benford first-significant-digit audit over order totals — the
    * classic forensic-accounting screen (natural multiplicative amounts
    * follow log10(1+1/d); synthetic/fraudulent ones usually don't). The
    * digit is the FIRST CHARACTER of the exact fixed-scale decimal
    * rendering (D15's cross-engine-identical string), not a
    * log10/pow round trip — no transcendentals, so the bucketing is
    * bit-free; amounts < 1 land in digit '0' by the same rule on both
    * engines. frac = one IEEE division of exact counts.
    *
    * Scale: a map-side substring + one domain-bounded aggregate (≤ 10
    * rows) + a broadcast total — scan-bound at any size. */
  private val qaggBenford = QueryDef(
    "qagg_benford",
    build = (spark, sfDir) => {
      val o = Tables.orders(spark, sfDir)
        .select(substring(decStr(d124(col("o_totalprice"))), 1, 1).as("digit"))
      val total = o.agg(count(lit(1)).as("n_total"))
      o.groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(total))
        .select(col("digit"), col("n_orders"),
          (col("n_orders").cast(DoubleType) / col("n_total").cast(DoubleType))
            .as("frac"))
        .orderBy(col("digit"))
    },
    oracle = Some(
      "WITH d AS (SELECT substring(CAST(CAST(o_totalprice AS DECIMAL(12,4)) AS VARCHAR), 1, 1) AS digit " +
        "FROM orders), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d) " +
        "SELECT digit, CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(count(*) AS DOUBLE) / CAST(n_total AS DOUBLE) AS frac " +
        "FROM d CROSS JOIN tot GROUP BY digit, n_total ORDER BY digit"))

  /** A/B experiment readout with a Welch t statistic — the product-
    * analytics closer: users are assigned to arms by CONTENT HASH of
    * their id (the qllm_split rule — rerun-stable, no RNG, reproduced
    * exactly by the oracle via md5), the per-user metric is the exact
    * scale-4 sum of their event values, and the per-arm moments (n, Σx,
    * Σx²) are exact DECIMAL sums at the qagg_corr widths — (19,4)×(18,4)
    * products stay exact int128/DECIMAL(38,8) on both engines — cast
    * ONCE to double (VARCHAR-routed in DuckDB, the qagg_corr trap) and
    * pushed through one fixed-shape expression tree for means, sample
    * variances, and t = (m_A−m_B)/√(v_A/n_A + v_B/n_B) — every bit
    * matches. Width bound: a per-user sum is < 10¹⁴ in scale-4 units iff
    * per-user event value mass < 10¹⁰ — five orders above the fixture
    * domain (PLENTY at 100 TB too: the cap is per USER, not global).
    *
    * Scale: one keyed per-user aggregate, then a single global
    * partial+final aggregate with conditional (CASE) moment columns —
    * two shuffles total, the second metadata-sized. */
  private val qaggAbtest = QueryDef(
    "qagg_abtest",
    build = (spark, sfDir) => {
      val perUser = Tables.events(spark, sfDir)
        .groupBy(col("user_id"))
        .agg(sum(d124(col("value"))).cast(DecimalType(38, 4)).as("m"))
        .select(
          when(substring(md5(col("user_id").cast(StringType)), 1, 1) < "8",
            lit("A")).otherwise(lit("B")).as("arm"),
          col("m").cast(DecimalType(18, 4)).as("x18"),
          col("m").cast(DecimalType(19, 4)).as("x19"))
      val aCond = col("arm") === "A"
      val s = perUser.agg(
        sum(when(aCond, 1L).otherwise(0L)).as("n_a"),
        sum(when(!aCond, 1L).otherwise(0L)).as("n_b"),
        sum(when(aCond, col("x18"))).cast(DoubleType).as("sa"),
        sum(when(!aCond, col("x18"))).cast(DoubleType).as("sb"),
        sum(when(aCond, col("x19") * col("x18"))).cast(DoubleType).as("saa"),
        sum(when(!aCond, col("x19") * col("x18"))).cast(DoubleType).as("sbb"))
      val naD = col("n_a").cast(DoubleType)
      val nbD = col("n_b").cast(DoubleType)
      val meanA = col("sa") / naD
      val meanB = col("sb") / nbD
      val varA = (naD * col("saa") - col("sa") * col("sa")) / (naD * (naD - 1.0))
      val varB = (nbD * col("sbb") - col("sb") * col("sb")) / (nbD * (nbD - 1.0))
      s.select(col("n_a"), col("n_b"),
        meanA.as("mean_a"), meanB.as("mean_b"),
        varA.as("var_a"), varB.as("var_b"),
        ((meanA - meanB) / sqrt(varA / naD + varB / nbD)).as("t_welch"))
    },
    oracle = Some(
      "WITH u AS (SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' " +
        "THEN 'A' ELSE 'B' END AS arm, " +
        "CAST(CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DECIMAL(18,4)) AS x18, " +
        "CAST(CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DECIMAL(19,4)) AS x19 " +
        "FROM events GROUP BY user_id), " +
        "s AS (SELECT " +
        "CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(CAST(sum(CASE WHEN arm = 'A' THEN x18 END) AS VARCHAR) AS DOUBLE) AS sa, " +
        "CAST(CAST(sum(CASE WHEN arm = 'B' THEN x18 END) AS VARCHAR) AS DOUBLE) AS sb, " +
        "CAST(CAST(sum(CASE WHEN arm = 'A' THEN x19 * x18 END) AS VARCHAR) AS DOUBLE) AS saa, " +
        "CAST(CAST(sum(CASE WHEN arm = 'B' THEN x19 * x18 END) AS VARCHAR) AS DOUBLE) AS sbb " +
        "FROM u) " +
        "SELECT n_a, n_b, " +
        "sa / CAST(n_a AS DOUBLE) AS mean_a, sb / CAST(n_b AS DOUBLE) AS mean_b, " +
        "(CAST(n_a AS DOUBLE) * saa - sa * sa) / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS var_a, " +
        "(CAST(n_b AS DOUBLE) * sbb - sb * sb) / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS var_b, " +
        "(sa / CAST(n_a AS DOUBLE) - sb / CAST(n_b AS DOUBLE)) / " +
        "sqrt(((CAST(n_a AS DOUBLE) * saa - sa * sa) / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))) / CAST(n_a AS DOUBLE) + " +
        "((CAST(n_b AS DOUBLE) * sbb - sb * sb) / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))) / CAST(n_b AS DOUBLE)) AS t_welch " +
        "FROM s"))

  /** RFM customer scoring — recency / frequency / monetary quintiles,
    * the CRM segmentation workhorse. Metrics are exact (integer day
    * diffs against the corpus max order date, counts, scale-4 decimal
    * spend); each 1–5 score is `(rank−1)·5 div n + 1` over an EXACT
    * global rank with the customer key as tiebreak (D9-unique, so
    * rank-based quintiles are deterministic even on tied metrics).
    * Segment = the concatenated digit triple.
    *
    * Scale: the three ranks are one
    * [[graft.api.Graft.globalRanks]] call over the three metrics:
    * one hash sample, one boundary row, three chained per-bucket windows
    * on the customer frame, no join back on the customer key and no
    * single-partition window over data. */
  private val qaggRfm = QueryDef(
    "qagg_rfm",
    build = (spark, sfDir) => {
      val o = Tables.orders(spark, sfDir)
      val maxd = o.agg(max(col("o_orderdate")).as("maxd"))
      val cust = Ckpt(o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(d124(col("o_totalprice"))).cast(DecimalType(38, 4)).as("monetary"))
        .crossJoin(broadcast(maxd))
        .select(col("o_custkey"),
          datediff(col("maxd"), col("last_order")).cast(LongType).as("recency_days"),
          col("frequency"), col("monetary")))
      // recency ranks on the NEGATED day diff so 5 = most recent,
      // matching f/m where 5 = highest
      val scores = Seq(
        "r_score" -> col("recency_days") * -1,
        "f_score" -> col("frequency"),
        "m_score" -> col("monetary"))
      val ranked = graft.api.Graft.globalRanks(cust, scores, Seq(col("o_custkey")))
      scores.foldLeft(ranked) { case (df, (s, _)) =>
        df.withColumn(s, expr(s"($s - 1) * 5 div __n") + 1L)
      }.select(col("o_custkey"), col("recency_days"), col("frequency"),
        decStr(col("monetary")).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast(StringType), col("f_score").cast(StringType),
          col("m_score").cast(StringType)).as("segment"))
        .orderBy(col("o_custkey"))
    },
    oracle = Some(
      "WITH maxd AS (SELECT max(o_orderdate) AS maxd FROM orders), " +
        "c AS (SELECT o_custkey, " +
        "CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), CAST(maxd AS DATE)) AS BIGINT) AS recency_days, " +
        "CAST(count(*) AS BIGINT) AS frequency, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS monetary " +
        "FROM orders CROSS JOIN maxd GROUP BY o_custkey, maxd), " +
        "r AS (SELECT *, " +
        "row_number() OVER (ORDER BY 0 - recency_days, o_custkey) AS rr, " +
        "row_number() OVER (ORDER BY frequency, o_custkey) AS rf, " +
        "row_number() OVER (ORDER BY monetary, o_custkey) AS rm, " +
        "count(*) OVER () AS n FROM c) " +
        "SELECT o_custkey, recency_days, frequency, CAST(monetary AS VARCHAR) AS monetary, " +
        "(rr - 1) * 5 // n + 1 AS r_score, " +
        "(rf - 1) * 5 // n + 1 AS f_score, " +
        "(rm - 1) * 5 // n + 1 AS m_score, " +
        "CAST((rr - 1) * 5 // n + 1 AS VARCHAR) || CAST((rf - 1) * 5 // n + 1 AS VARCHAR) || " +
        "CAST((rm - 1) * 5 // n + 1 AS VARCHAR) AS segment " +
        "FROM r ORDER BY o_custkey"))

  /** Cramér's V between event_type and ISO weekday — the categorical-
    * association audit (is traffic mix day-of-week dependent?). All
    * contingency mass is EXACT: cell/row/column/total counts, and the
    * per-cell χ² term uses the cross-multiplied form
    * (N·n_ij − r_i·c_j)²/(N·r_i·c_j) so no expected-count division ever
    * happens on an inexact operand — the numerator is an exact
    * DECIMAL(19,0)² → (38,0) square, the denominator a product of three
    * exact-in-double counts. Per-cell IEEE terms are then ROUNDED TO SIX
    * DECIMALS and summed as exact DECIMAL(20,6) (the qagg_entropy
    * pattern: order-independent, cross-engine-identical), and
    * V = √(χ²/(N·(min(r,c)−1))) is one final fixed-shape tree. Width
    * bound: N·n_ij must fit DECIMAL(19,0) — holds through ~10⁹ events
    * per cell at 10⁹ total; past that, bucket the contingency per
    * partition and merge the exact cell counts first (counts, not
    * terms, are the mergeable state).
    *
    * The weekday comes from pure integer arithmetic on the epoch-day
    * number ((day+3) mod 7, 0 = Monday — 1970-01-01 was a Thursday), so
    * no calendar function is in the hash path at all.
    *
    * The cell table is densified to the FULL type × dow grid before
    * the term sum (an empty cell still contributes its expected mass
    * r·c/N — dropping it would bias χ² toward independence on sparse
    * mixes).
    *
    * Scale: ONE scan, one (type × dow) cell aggregate (≤ |types|·7
    * rows); every marginal re-aggregates the checkpointed cell table,
    * so the fact table is touched exactly once — scan-bound at any
    * size. */
  private val qaggCramersv = QueryDef(
    "qagg_cramersv",
    build = (spark, sfDir) => {
      // the fact table is scanned ONCE: every marginal (row, column,
      // grand total, dimension cardinalities) re-aggregates the ≤
      // |types|·7-row cell table, which also makes the marginals exactly
      // consistent with the cells by construction
      val cells = Ckpt(Tables.events(spark, sfDir)
        .select(col("event_type"),
          ((expr("unix_micros(ts) div 86400000000") + 3L) % 7L).as("dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_ij")))
      val rows = cells.groupBy(col("event_type"))
        .agg(sum(col("n_ij")).cast(LongType).as("r_i"))
      val cols = cells.groupBy(col("dow"))
        .agg(sum(col("n_ij")).cast(LongType).as("c_j"))
      val tot = cells.agg(sum(col("n_ij")).cast(LongType).as("n_total"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("dow")).as("n_dows"))
      val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
      // densify to the FULL type × dow grid: an empty cell still
      // contributes its expected mass ((N·0 − r·c)²/(N·r·c) = r·c/N) —
      // dropping it would bias χ² toward independence on sparse mixes
      val grid = broadcast(rows).crossJoin(broadcast(cols))
        .join(cells, Seq("event_type", "dow"), "left")
        .select(col("event_type"), col("dow"), col("r_i"), col("c_j"),
          coalesce(col("n_ij"), lit(0L)).as("n_ij"))
      // operands cast to DECIMAL BEFORE the multiply (round-8 advice
      // item): long·long would wrap silently past ~10⁹ events per cell
      // while DuckDB's HUGEINT errors — in decimal space Spark widens to
      // (38,0) and ANSI-errors at the final (19,0) cast instead, matching
      // the oracle's fail-loud behavior beyond the documented bound
      val d19 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(19, 0))
      val diff = (d19(col("n_total")) * d19(col("n_ij")) -
        d19(col("r_i")) * d19(col("c_j"))).cast(DecimalType(19, 0))
      val term = round(
        (diff * diff).cast(DecimalType(38, 0)).cast(DoubleType) /
          (d(col("n_total")) * d(col("r_i")) * d(col("c_j"))), 6)
        .cast(DecimalType(20, 6))
      val s = grid
        .crossJoin(broadcast(tot))
        .groupBy(col("n_total"), col("n_types"), col("n_dows"))
        .agg(sum(term).cast(DecimalType(38, 6)).as("chi2"))
      s.select(col("n_types"), col("n_dows"), col("n_total"), decStr(col("chi2")).as("chi2"),
          sqrt(col("chi2").cast(DoubleType) /
            (d(col("n_total")) * d(least(col("n_types"), col("n_dows")) - 1)))
            .as("cramers_v"))
    },
    oracle = Some(
      "WITH b AS (SELECT event_type, (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) % 7 AS dow FROM events), " +
        "cells AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_ij FROM b GROUP BY 1, 2), " +
        "r AS (SELECT event_type, CAST(sum(n_ij) AS BIGINT) AS r_i FROM cells GROUP BY 1), " +
        "c AS (SELECT dow, CAST(sum(n_ij) AS BIGINT) AS c_j FROM cells GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n_total, " +
        "CAST(count(DISTINCT event_type) AS BIGINT) AS n_types, " +
        "CAST(count(DISTINCT dow) AS BIGINT) AS n_dows FROM cells), " +
        "grid AS (SELECT r.event_type, c.dow, r.r_i, c.c_j, COALESCE(cells.n_ij, 0) AS n_ij " +
        "FROM r CROSS JOIN c LEFT JOIN cells USING (event_type, dow)), " +
        "t AS (SELECT n_total, n_types, n_dows, " +
        "CAST(round(CAST(CAST(CAST(n_total * n_ij - r_i * c_j AS DECIMAL(19,0)) * " +
        "CAST(n_total * n_ij - r_i * c_j AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE) / " +
        "(CAST(n_total AS DOUBLE) * CAST(r_i AS DOUBLE) * CAST(c_j AS DOUBLE)), 6) AS DECIMAL(20,6)) AS term " +
        "FROM grid CROSS JOIN tot), " +
        "s AS (SELECT n_types, n_dows, n_total, CAST(sum(term) AS DECIMAL(38,6)) AS chi2 " +
        "FROM t GROUP BY 1, 2, 3) " +
        "SELECT n_types, n_dows, n_total, CAST(chi2 AS VARCHAR) AS chi2, " +
        "sqrt(CAST(CAST(chi2 AS VARCHAR) AS DOUBLE) / " +
        "(CAST(n_total AS DOUBLE) * CAST(least(n_types, n_dows) - 1 AS DOUBLE))) AS cramers_v " +
        "FROM s"))

  /** Grouped ordinary least squares — price-per-quantity elasticity per
    * return flag with slope, intercept and R², the regression readout a
    * BI layer computes without leaving SQL. All five moments (n, Σx, Σy,
    * Σxy, Σx², Σy²) are exact decimals at the qagg_abtest widths
    * ((19,4)×(18,4) → int128-exact DECIMAL(38,8) products), cast ONCE to
    * double (VARCHAR-routed in DuckDB) and pushed through one
    * fixed-shape tree — slope = (nΣxy−ΣxΣy)/(nΣx²−Σx²), intercept and
    * R² spelled with byte-identical operand order in both engines.
    *
    * Scale: a single partial+final aggregate per group; the moment
    * vector IS the mergeable state (this is qagg_incremental's partial
    * pattern applied to regression — 100 TB fits because only six
    * numbers per group ever cross the wire). */
  private val qaggLinreg = QueryDef(
    "qagg_linreg",
    build = (spark, sfDir) => {
      val li = Tables.lineitem(spark, sfDir).select(col("l_returnflag"),
        d124(col("l_quantity")).cast(DecimalType(18, 4)).as("x18"),
        d124(col("l_quantity")).cast(DecimalType(19, 4)).as("x19"),
        d124(col("l_extendedprice")).cast(DecimalType(18, 4)).as("y18"),
        d124(col("l_extendedprice")).cast(DecimalType(19, 4)).as("y19"))
      val s = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(col("x18")).cast(DoubleType).as("sx"),
        sum(col("y18")).cast(DoubleType).as("sy"),
        sum(col("x19") * col("y18")).cast(DoubleType).as("sxy"),
        sum(col("x19") * col("x18")).cast(DoubleType).as("sxx"),
        sum(col("y19") * col("y18")).cast(DoubleType).as("syy"))
      val (slope, intercept, r2, _) = olsClose(col("n"), col("sx"),
        col("sy"), col("sxy"), col("sxx"), col("syy"))
      s.select(col("l_returnflag"), col("n"),
          slope.as("slope"), intercept.as("intercept"), r2.as("r2"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some(
      "WITH li AS (SELECT l_returnflag, " +
        "CAST(CAST(l_quantity AS DECIMAL(12,4)) AS DECIMAL(18,4)) AS x18, " +
        "CAST(CAST(l_quantity AS DECIMAL(12,4)) AS DECIMAL(19,4)) AS x19, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(12,4)) AS DECIMAL(18,4)) AS y18, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(12,4)) AS DECIMAL(19,4)) AS y19 FROM lineitem), " +
        "s AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(CAST(sum(x18) AS VARCHAR) AS DOUBLE) AS sx, " +
        "CAST(CAST(sum(y18) AS VARCHAR) AS DOUBLE) AS sy, " +
        "CAST(CAST(sum(x19 * y18) AS VARCHAR) AS DOUBLE) AS sxy, " +
        "CAST(CAST(sum(x19 * x18) AS VARCHAR) AS DOUBLE) AS sxx, " +
        "CAST(CAST(sum(y19 * y18) AS VARCHAR) AS DOUBLE) AS syy " +
        "FROM li GROUP BY l_returnflag) " +
        "SELECT l_returnflag, n, " +
        "(CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope, " +
        "(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE) AS intercept, " +
        "((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)) / " +
        "((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2 " +
        "FROM s ORDER BY l_returnflag"))

  /** Day-of-week seasonal index per event type — (mean daily total on
    * that weekday) / (mean daily total overall), the time-series
    * normalization behind every staffing/capacity curve. Both means are
    * ratios of EXACT decimal daily-sum masses and exact day counts, so
    * the index is a single fixed-shape IEEE expression
    * (s·c_all)/(c_dow·s_all) over four exact operands (each cast to
    * double once, VARCHAR-routed for the decimals). The weekday is
    * integer epoch-day arithmetic ((day+3) mod 7), not a calendar
    * function. Scale: two keyed aggregates (events → day, day → dow)
    * plus a broadcast per-type total — the second stage's input is
    * calendar-bounded, not data-bounded. */
  private val qaggSeasonality = QueryDef(
    "qagg_seasonality",
    build = (spark, sfDir) => {
      val daily = Tables.events(spark, sfDir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(d124(col("value"))).cast(DecimalType(38, 4)).as("x"))
      val byDow = daily
        .groupBy(col("event_type"), ((col("day") + 3L) % 7L).as("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).cast(DecimalType(38, 4)).as("s"))
      val byType = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_all"), sum(col("x")).cast(DecimalType(38, 4)).as("s_all"))
      byDow.join(broadcast(byType), "event_type")
        .select(col("event_type"), col("dow"), col("n_days"), decStr(col("s")).as("dow_total"),
          ((col("s").cast(DoubleType) * col("n_all").cast(DoubleType)) /
            (col("n_days").cast(DoubleType) * col("s_all").cast(DoubleType))).as("idx"))
        .orderBy(col("event_type"), col("dow"))
    },
    oracle = Some(
      "WITH daily AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, " +
        "CAST(sum(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS x FROM events GROUP BY 1, 2), " +
        "bd AS (SELECT event_type, (day + 3) % 7 AS dow, CAST(count(*) AS BIGINT) AS n_days, " +
        "CAST(sum(x) AS DECIMAL(38,4)) AS s FROM daily GROUP BY 1, 2), " +
        "bt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_all, " +
        "CAST(sum(x) AS DECIMAL(38,4)) AS s_all FROM daily GROUP BY 1) " +
        "SELECT event_type, dow, n_days, CAST(s AS VARCHAR) AS dow_total, " +
        "(CAST(CAST(s AS VARCHAR) AS DOUBLE) * CAST(n_all AS DOUBLE)) / " +
        "(CAST(n_days AS DOUBLE) * CAST(CAST(s_all AS VARCHAR) AS DOUBLE)) AS idx " +
        "FROM bd JOIN bt USING (event_type) ORDER BY event_type, dow"))

  /** Functional-dependency audit — does LHS → RHS actually hold in the
    * data? The schema-inference / data-contract primitive: for each
    * candidate FD, count LHS groups and the groups carrying ≥ 2 distinct
    * RHS values. Three candidates spanning both verdicts: user_id →
    * event_type and event_type → props.k (both violated — behavioral
    * attributes are not functions of identity), and n_nationkey →
    * n_regionkey (holds — a true key). Everything is counts; the
    * violation rate is one IEEE division.
    *
    * Scale: each FD is one keyed partial-aggregable groupBy whose
    * output is LHS-cardinality-bounded; the three audits run as a union
    * of independent subtrees (on a cluster they pipeline). */
  private val qaggFdaudit = QueryDef(
    "qagg_fdaudit",
    build = (spark, sfDir) => {
      def audit(df: org.apache.spark.sql.DataFrame, lhs: org.apache.spark.sql.Column,
          rhs: org.apache.spark.sql.Column, name: String) =
        df.groupBy(lhs.as("lhs")).agg(countDistinct(rhs).as("nd"))
          .agg(count(lit(1)).as("n_lhs"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).cast(LongType).as("n_violating"))
          .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
            (col("n_violating").cast(DoubleType) / col("n_lhs").cast(DoubleType))
              .as("viol_frac"))
      val ev = Tables.events(spark, sfDir)
      audit(ev, col("user_id"), col("event_type"), "user_id->event_type")
        .unionAll(audit(
          ev.select(col("event_type"),
            get_json_object(col("props"), "$.k").cast(IntegerType).as("k")),
          col("event_type"), col("k"), "event_type->props.k"))
        .unionAll(audit(Tables.nation(spark, sfDir),
          col("n_nationkey"), col("n_regionkey"), "n_nationkey->n_regionkey"))
        .orderBy(col("fd"))
    },
    oracle = Some(
      "WITH a1 AS (SELECT user_id AS lhs, count(DISTINCT event_type) AS nd FROM events GROUP BY 1), " +
        "a2 AS (SELECT event_type AS lhs, count(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER)) AS nd " +
        "FROM events GROUP BY 1), " +
        "a3 AS (SELECT n_nationkey AS lhs, count(DISTINCT n_regionkey) AS nd FROM nation GROUP BY 1), " +
        "u AS (SELECT 'user_id->event_type' AS fd, CAST(count(*) AS BIGINT) AS n_lhs, " +
        "CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating FROM a1 " +
        "UNION ALL SELECT 'event_type->props.k', CAST(count(*) AS BIGINT), " +
        "CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM a2 " +
        "UNION ALL SELECT 'n_nationkey->n_regionkey', CAST(count(*) AS BIGINT), " +
        "CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM a3) " +
        "SELECT fd, n_lhs, n_violating, " +
        "CAST(n_violating AS DOUBLE) / CAST(n_lhs AS DOUBLE) AS viol_frac " +
        "FROM u ORDER BY fd"))

  /** Month-over-month revenue per nation with percent change — the
    * period-comparison readout every revenue dashboard leads with.
    * Monthly masses are exact scale-4 decimals; pct = (cur−prev)/prev is
    * ONE IEEE expression over two VARCHAR-routed exact operands (NULL on
    * the first month — no sentinel). The fact table is pre-aggregated to
    * (custkey, month) BEFORE the dimension join, so the join input is
    * customer-cardinality-, not order-cardinality-, sized; nation then
    * broadcasts, and the lag window runs over a nation×month frame
    * (calendar-bounded). */
  private val qaggMom = QueryDef(
    "qagg_mom",
    build = (spark, sfDir) => {
      val perCust = Tables.orders(spark, sfDir)
        .groupBy(col("o_custkey"),
          trunc(col("o_orderdate").cast(DateType), "month").as("month"))
        .agg(sum(d124(col("o_totalprice"))).cast(DecimalType(38, 4)).as("rev"))
      val monthly = perCust
        .join(Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("month"))
        .agg(sum(col("rev")).cast(DecimalType(38, 4)).as("rev"))
      val w = Window.partitionBy(col("n_name")).orderBy(col("month"))
      monthly.withColumn("prev", lag(col("rev"), 1).over(w))
        .select(col("n_name"), col("month"), decStr(col("rev")).as("rev"),
          decStr(col("prev")).as("prev_rev"),
          ((col("rev").cast(DoubleType) - col("prev").cast(DoubleType)) /
            col("prev").cast(DoubleType)).as("pct_change"))
        .orderBy(col("n_name"), col("month"))
    },
    oracle = Some(
      "WITH pc AS (SELECT o_custkey, CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS rev FROM orders GROUP BY 1, 2), " +
        "m AS (SELECT n_name, month, CAST(sum(rev) AS DECIMAL(38,4)) AS rev " +
        "FROM pc JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2), " +
        "l AS (SELECT n_name, month, rev, " +
        "lag(rev, 1) OVER (PARTITION BY n_name ORDER BY month) AS prev FROM m) " +
        "SELECT n_name, month, CAST(rev AS VARCHAR) AS rev, CAST(prev AS VARCHAR) AS prev_rev, " +
        "(CAST(CAST(rev AS VARCHAR) AS DOUBLE) - CAST(CAST(prev AS VARCHAR) AS DOUBLE)) / " +
        "CAST(CAST(prev AS VARCHAR) AS DOUBLE) AS pct_change " +
        "FROM l ORDER BY n_name, month"))

  /** Monthly cohort retention matrix — the product-analytics triangle:
    * customers grouped by FIRST-order month, activity counted per
    * (cohort, month-offset) cell, rate = cell/cohort-size. Month index
    * is pure integer arithmetic (year·12 + month−1) so offsets never
    * touch interval semantics; all counts exact; the rate is one IEEE
    * division. The activity frame is pre-deduped to (customer, month)
    * BEFORE any join, and the cohort-size frame is calendar-bounded so
    * it broadcasts.
    *
    * Scale: two keyed aggregates over (customer, month) + one
    * calendar-bounded cell aggregate — the fact table is touched once. */
  private val qaggCohort = QueryDef(
    "qagg_cohort",
    build = (spark, sfDir) => {
      val act = Tables.orders(spark, sfDir)
        .select(col("o_custkey"),
          trunc(col("o_orderdate").cast(DateType), "month").as("month"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast(LongType).as("mi"))
        .distinct()
      val cohort = act.groupBy(col("o_custkey"))
        .agg(min(col("mi")).as("c_mi"), min(col("month")).as("cohort_month"))
      val cells = act.join(cohort, "o_custkey")
        .groupBy(col("cohort_month"), (col("mi") - col("c_mi")).as("month_offset"))
        .agg(count(lit(1)).as("n_active"))
      val sizes = cohort.groupBy(col("cohort_month")).agg(count(lit(1)).as("n0"))
      cells.join(broadcast(sizes), "cohort_month")
        .select(col("cohort_month"), col("month_offset"), col("n_active"), col("n0"),
          (col("n_active").cast(DoubleType) / col("n0").cast(DoubleType)).as("rate"))
        .orderBy(col("cohort_month"), col("month_offset"))
    },
    oracle = Some(
      "WITH act AS (SELECT DISTINCT o_custkey, " +
        "CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month, " +
        "CAST(date_part('year', o_orderdate) * 12 + date_part('month', o_orderdate) - 1 AS BIGINT) AS mi " +
        "FROM orders), " +
        "cohort AS (SELECT o_custkey, min(mi) AS c_mi, min(month) AS cohort_month FROM act GROUP BY 1), " +
        "cells AS (SELECT cohort_month, mi - c_mi AS month_offset, CAST(count(*) AS BIGINT) AS n_active " +
        "FROM act JOIN cohort USING (o_custkey) GROUP BY 1, 2), " +
        "sz AS (SELECT cohort_month, CAST(count(*) AS BIGINT) AS n0 FROM cohort GROUP BY 1) " +
        "SELECT cohort_month, month_offset, n_active, n0, " +
        "CAST(n_active AS DOUBLE) / CAST(n0 AS DOUBLE) AS rate " +
        "FROM cells JOIN sz USING (cohort_month) ORDER BY cohort_month, month_offset"))

  /** Weekly active-user transition census — retained / churned / new
    * per week-over-week step, the engagement funnel's denominator. The
    * (user, week) activity frame is deduped once, then FULL-OUTER
    * self-joined against its own week+1 projection on the (user, week)
    * key — one keyed shuffle join decides all three verdicts; the final
    * week (no next-week data yet) is excluded via the broadcast max-week
    * scalar. Week = epoch_µs div 604.8e9 — pure integer bucketing, no
    * calendar function. All counts exact; retention is one IEEE
    * division.
    *
    * Scale: dedup + join + census are all keyed on (user, week); at
    * 100 TB the weekly frames are what a real DAU/WAU pipeline already
    * materializes — this is their merge step. */
  private val qaggChurn = QueryDef(
    "qagg_churn",
    build = (spark, sfDir) => {
      val uw = Tables.events(spark, sfDir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("week"))
        .distinct()
      val nxt = uw.select(col("user_id"), (col("week") - 1L).as("week"),
        lit(1).as("in_next"))
      val cur = uw.withColumn("in_cur", lit(1))
      val maxw = uw.agg(max(col("week")).as("maxw"))
      val j = cur.join(nxt, Seq("user_id", "week"), "full_outer")
      j.groupBy(col("week")).agg(
          sum(coalesce(col("in_cur"), lit(0))).cast(LongType).as("n_active"),
          sum(when(col("in_cur") === 1 && col("in_next") === 1, 1L).otherwise(0L))
            .cast(LongType).as("n_retained"),
          sum(when(col("in_cur") === 1 && col("in_next").isNull, 1L).otherwise(0L))
            .cast(LongType).as("n_churned"),
          sum(when(col("in_cur").isNull, 1L).otherwise(0L))
            .cast(LongType).as("n_new"))
        .crossJoin(broadcast(maxw))
        // drop the final week (no next-week data) and the synthetic
        // week-before-first row the next-week projection creates
        // (n_active = 0 would make the rate 0/0 — engines disagree on it)
        .filter(col("week") < col("maxw") && col("n_active") > 0)
        .select(col("week"), col("n_active"), col("n_retained"),
          col("n_churned"), col("n_new"),
          (col("n_retained").cast(DoubleType) / col("n_active").cast(DoubleType))
            .as("retention_rate"))
        .orderBy(col("week"))
    },
    oracle = Some(
      "WITH uw AS (SELECT DISTINCT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week FROM events), " +
        "nxt AS (SELECT user_id, week - 1 AS week, 1 AS in_next FROM uw), " +
        "cur AS (SELECT user_id, week, 1 AS in_cur FROM uw), " +
        "mw AS (SELECT max(week) AS maxw FROM uw), " +
        "j AS (SELECT COALESCE(cur.user_id, nxt.user_id) AS user_id, " +
        "COALESCE(cur.week, nxt.week) AS week, cur.in_cur, nxt.in_next " +
        "FROM cur FULL OUTER JOIN nxt ON cur.user_id = nxt.user_id AND cur.week = nxt.week), " +
        "c AS (SELECT week, CAST(sum(COALESCE(in_cur, 0)) AS BIGINT) AS n_active, " +
        "CAST(sum(CASE WHEN in_cur = 1 AND in_next = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained, " +
        "CAST(sum(CASE WHEN in_cur = 1 AND in_next IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_churned, " +
        "CAST(sum(CASE WHEN in_cur IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new " +
        "FROM j GROUP BY week) " +
        "SELECT week, n_active, n_retained, n_churned, n_new, " +
        "CAST(n_retained AS DOUBLE) / CAST(n_active AS DOUBLE) AS retention_rate " +
        "FROM c CROSS JOIN mw WHERE week < maxw AND n_active > 0 ORDER BY week"))

  def defs: Seq[QueryDef] = Seq(
    qaggPricing, qaggStats, qaggDistinct, qaggHaving, qaggGroupingsets,
    qaggRollup, qaggCube, qaggPivot, qaggPercentile, qaggCollect,
    qaggApproxhll, qaggDqaudit, qaggUnpivot, qaggHistogram, qaggCorr,
    qaggRetention, qaggMode, qaggEntropy, qaggIncremental, qaggSkew,
    qaggMad, qaggBitwise, qaggOhlc, qaggCms, qaggFreqpairs, qaggWquantile,
    qaggGram, qaggRollingDau, qaggArgmax, qaggHllmerge, qaggFunnel,
    qaggAssoc, qaggBenford, qaggAbtest, qaggRfm,
    qaggCramersv, qaggLinreg, qaggSeasonality, qaggFdaudit, qaggMom,
    qaggCohort, qaggChurn)
}
