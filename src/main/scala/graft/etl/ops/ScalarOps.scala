package graft.etl.ops

import graft.etl.{QueryDef, Tables, TableStats}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.H scalar function packs: string / regex / fuzzy / hash / date / math
  * / json / array / map / explode.
  *
  * Dialect parity notes (SURVEY D10–D13):
  *   - DuckDB regexp_replace needs the 'g' flag to match Spark's
  *     replace-all semantics.
  *   - DuckDB instr/length/levenshtein/len return BIGINT where Spark
  *     returns INT — everything is pinned to BIGINT (or INT on both) here.
  *   - ln/log10/exp are libm-dependent; ROUND(,6) gives margin ~5e-7
  *     against cross-engine ulp noise (inputs are 50 distinct small ints —
  *     verified exhaustively by the oracle gate).
  *   - the array self-dot is a sequential left fold on BOTH engines
  *     (Spark `aggregate`, DuckDB `list_reduce`), so the result is
  *     bit-identical without rounding.
  *   - initcap does not exist in DuckDB 1.0 → exercised in unit tests only.
  */
object ScalarOps {

  private val qstrFuncs = QueryDef(
    "qstr_funcs",
    build = (spark, sfDir) =>
      Tables.part(spark, sfDir)
        .select(
          col("p_partkey"),
          concat(col("p_name"), lit("|"), col("p_brand")).as("name_brand"),
          upper(col("p_name")).as("name_upper"),
          lower(col("p_brand")).as("brand_lower"),
          substring(col("p_name"), 1, 5).as("name_5"),
          trim(concat(lit("  "), col("p_name"), lit("  "))).as("name_trim"),
          length(col("p_name")).cast(LongType).as("name_len"),
          expr("replace(p_name, ' ', '_')").as("name_snake"),
          instr(col("p_name"), "a").cast(LongType).as("pos_a"),
          translate(col("p_name"), "aeiou", "AEIOU").as("name_vowels"),
          reverse(col("p_name")).as("name_rev"),
          lpad(col("p_brand"), 12, "*").as("brand_pad"))
        .orderBy(col("p_partkey")),
    oracle = Some(
      "SELECT p_partkey, " +
        "concat(p_name, '|', p_brand) AS name_brand, " +
        "upper(p_name) AS name_upper, " +
        "lower(p_brand) AS brand_lower, " +
        "substring(p_name, 1, 5) AS name_5, " +
        "trim(concat('  ', p_name, '  ')) AS name_trim, " +
        "length(p_name) AS name_len, " +
        "replace(p_name, ' ', '_') AS name_snake, " +
        "instr(p_name, 'a') AS pos_a, " +
        "translate(p_name, 'aeiou', 'AEIOU') AS name_vowels, " +
        "reverse(p_name) AS name_rev, " +
        "lpad(p_brand, 12, '*') AS brand_pad " +
        "FROM part ORDER BY p_partkey"))

  private val qstrRegex = QueryDef(
    "qstr_regex",
    build = (spark, sfDir) =>
      Tables.part(spark, sfDir)
        .filter(col("p_name").rlike("bolt|ring|screw"))
        .select(
          col("p_partkey"),
          regexp_extract(col("p_brand"), "Brand#([0-9]+)", 1).cast(IntegerType).as("brand_num"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("name_devoweled"))
        .orderBy(col("p_partkey")),
    oracle = Some(
      "SELECT p_partkey, " +
        "CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS INTEGER) AS brand_num, " +
        "regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled " +
        "FROM part WHERE regexp_matches(p_name, 'bolt|ring|screw') " +
        "ORDER BY p_partkey"))

  private val qstrFuzzy = QueryDef(
    "qstr_fuzzy",
    build = (spark, sfDir) => {
      val c = Tables.customer(spark, sfDir).filter(col("c_custkey") < 200)
      val n = Tables.nation(spark, sfDir)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(
          col("c_custkey"),
          levenshtein(lower(col("c_name")), lower(col("n_name"))).cast(LongType).as("lev_name"),
          levenshtein(col("c_mktsegment"), col("n_name")).cast(LongType).as("lev_seg"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some(
      "SELECT c_custkey, " +
        "levenshtein(lower(c_name), lower(n_name)) AS lev_name, " +
        "levenshtein(c_mktsegment, n_name) AS lev_seg " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE c_custkey < 200 ORDER BY c_custkey"))

  private val qstrHashes = QueryDef(
    "qstr_hashes",
    build = (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(
          col("doc_id"),
          md5(col("text")).as("text_md5"),
          sha2(col("text"), 256).as("text_sha256"))
        .orderBy(col("doc_id")),
    oracle = Some(
      "SELECT min(doc_id) AS doc_id, md5(text) AS text_md5, sha256(text) AS text_sha256 " +
        "FROM documents GROUP BY text ORDER BY doc_id"))

  private val qdateFuncs = QueryDef(
    "qdate_funcs",
    build = (spark, sfDir) =>
      Tables.orders(spark, sfDir)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dy"),
          expr("weekday(o_orderdate)").as("wd"), // 0=Monday (D11)
          date_trunc("month", col("o_orderdate")).cast(DateType).as("month_start"),
          date_add(col("o_orderdate").cast(DateType), 30).as("plus_30d"),
          datediff(col("o_orderdate").cast(DateType), lit("1995-01-01").cast(DateType))
            .as("days_since_95"),
          last_day(col("o_orderdate")).as("eom"))
        .orderBy(col("o_orderkey")),
    oracle = Some(
      "SELECT o_orderkey, " +
        "CAST(date_part('year', o_orderdate) AS INTEGER) AS yr, " +
        "CAST(date_part('quarter', o_orderdate) AS INTEGER) AS qtr, " +
        "CAST(date_part('month', o_orderdate) AS INTEGER) AS mo, " +
        "CAST(date_part('day', o_orderdate) AS INTEGER) AS dy, " +
        "CAST(isodow(o_orderdate) - 1 AS INTEGER) AS wd, " +
        "CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start, " +
        "CAST(o_orderdate AS DATE) + 30 AS plus_30d, " +
        "CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_95, " +
        "last_day(CAST(o_orderdate AS DATE)) AS eom " +
        "FROM orders ORDER BY o_orderkey"))

  private val qmathFuncs = QueryDef(
    "qmath_funcs",
    build = (spark, sfDir) =>
      Tables.part(spark, sfDir)
        .select(
          col("p_partkey"),
          abs(col("p_retailprice") - 950.0).as("abs_diff"),
          ceil(col("p_retailprice")).cast(LongType).as("price_ceil"),
          floor(col("p_retailprice")).cast(LongType).as("price_floor"),
          sqrt(col("p_size").cast(DoubleType)).as("size_sqrt"),
          pow(col("p_size").cast(DoubleType), 2.0).cast(LongType).as("size_sq"),
          (col("p_size") % 7).as("size_mod7"),
          signum(col("p_retailprice") - 950.0).cast(IntegerType).as("price_sign"),
          round(log(col("p_size").cast(DoubleType)), 6).as("size_ln"),
          round(log10(col("p_size").cast(DoubleType)), 6).as("size_log10"),
          round(exp(col("p_size").cast(DoubleType) / 50.0), 6).as("size_exp"))
        .orderBy(col("p_partkey")),
    oracle = Some(
      "SELECT p_partkey, " +
        "abs(p_retailprice - 950.0) AS abs_diff, " +
        "CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil, " +
        "CAST(floor(p_retailprice) AS BIGINT) AS price_floor, " +
        "sqrt(CAST(p_size AS DOUBLE)) AS size_sqrt, " +
        "CAST(pow(CAST(p_size AS DOUBLE), 2.0) AS BIGINT) AS size_sq, " +
        "p_size % 7 AS size_mod7, " +
        "CAST(sign(p_retailprice - 950.0) AS INTEGER) AS price_sign, " +
        "round(ln(CAST(p_size AS DOUBLE)), 6) AS size_ln, " +
        "round(log10(CAST(p_size AS DOUBLE)), 6) AS size_log10, " +
        "round(exp(CAST(p_size AS DOUBLE) / 50.0), 6) AS size_exp " +
        "FROM part ORDER BY p_partkey"))

  private val qjsonFuncs = QueryDef(
    "qjson_funcs",
    build = (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
        .withColumn("bucket", expr("CAST(k div 10 AS INT)"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("bucket")),
    oracle = Some(
      "WITH e AS (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events) " +
        "SELECT CAST(k // 10 AS INTEGER) AS bucket, count(*) AS n, " +
        "min(k) AS min_k, max(k) AS max_k " +
        "FROM e GROUP BY bucket ORDER BY bucket"))

  private val qarrayFuncs = QueryDef(
    "qarray_funcs",
    build = (spark, sfDir) =>
      Tables.embeddings(spark, sfDir)
        .select(Seq(
          col("vec_id"),
          size(col("embedding")).cast(LongType).as("n_dims"),
          element_at(col("embedding"), 1).cast(DoubleType).as("first_elem"),
          element_at(col("embedding"), 64).cast(DoubleType).as("last_elem")) ++
          // list columns crash the harness's pandas row-sort (unhashable
          // ndarray), and ANY decimal rendering of floats can hit rounding
          // ties where Java (half-up) and C (half-even) disagree — observed
          // on the dyadic 0.22314453125 at %.9e. So emit the slice as eight
          // scalar DOUBLE columns: float→double widening is exact and
          // bit-identical on both engines, no formatting involved.
          (1 to 8).map(i => element_at(slice(col("embedding"), 1, 8), i)
            .cast(DoubleType).as(s"head8_$i")) ++ Seq(
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)).as("dot_self")): _*)
        .orderBy(col("vec_id")),
    oracle = Some(
      "SELECT vec_id, " +
        "len(embedding) AS n_dims, " +
        "CAST(embedding[1] AS DOUBLE) AS first_elem, " +
        "CAST(embedding[64] AS DOUBLE) AS last_elem, " +
        (1 to 8).map(i => s"CAST(embedding[1:8][$i] AS DOUBLE) AS head8_$i, ").mkString +
        "list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS dot_self " +
        "FROM embeddings ORDER BY vec_id"))

  private val qmapFuncs = QueryDef(
    "qmap_funcs",
    build = (spark, sfDir) => {
      val m = from_json(col("props"), MapType(StringType, IntegerType))
      Tables.events(spark, sfDir)
        .select(
          col("event_id"),
          element_at(m, "k").as("k_val"),
          size(map_keys(m)).cast(LongType).as("n_keys"))
        .orderBy(col("event_id"))
    },
    oracle = Some(
      "SELECT event_id, " +
        "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val, " +
        "len(json_keys(props)) AS n_keys " +
        "FROM events ORDER BY event_id"))

  private val qexplodeWords = QueryDef(
    "qexplode_words",
    build = (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word"))
        .limit(20),
    oracle = Some(
      "SELECT word, count(*) AS n FROM " +
        "(SELECT unnest(str_split(lower(text), ' ')) AS word FROM documents) " +
        "GROUP BY word ORDER BY n DESC, word ASC LIMIT 20"))

  /** PII-style data masking + pseudonymization: digits masked to `#`
    * (Spark regexp_replace is replace-all; the oracle needs the 'g' flag),
    * a join-stable pseudonym from a salted md5 prefix (the same name always
    * maps to the same token, so referential integrity survives masking),
    * and k-anonymity-style generalization of the balance to a $1000 band
    * (exact integer cents, truncating division on BOTH engines — verified
    * `//` ≡ `div` for negatives, and negative balances exist). All
    * embarrassingly parallel per-row expressions — no shuffle at 100 TB
    * beyond the output sort. */
  private val qstrMask = QueryDef(
    "qstr_mask",
    build = (spark, sfDir) =>
      Tables.customer(spark, sfDir)
        .select(
          col("c_custkey"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked_name"),
          substring(md5(concat(lit("pepper:"), col("c_name"))), 1, 16).as("pseudo_id"),
          expr("(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) div 100000) * 1000")
            .as("acctbal_band"))
        .orderBy(col("c_custkey")),
    oracle = Some(
      "SELECT c_custkey, regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name, " +
        "substr(md5('pepper:' || c_name), 1, 16) AS pseudo_id, " +
        "CAST((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000) * 1000 AS BIGINT) AS acctbal_band " +
        "FROM customer ORDER BY c_custkey"))

  /** Calendar-dimension generation: one row per day across the fact
    * table's observed date span, with the derived attributes a time
    * dimension carries (year/quarter/month/day, Monday-based dow (D11),
    * week/month starts, month-end and weekend flags). The span comes from
    * one min/max aggregate; `sequence(d0, d1, 1 day)` generates the grid —
    * a calendar is metadata-scale (10 years ≈ 3653 rows) however large the
    * fact table, so generation from broadcast bounds is the right shape at
    * any scale. Spark `weekday` (0 = Monday) ≡ DuckDB `isodow - 1`;
    * `date_trunc('week')` is Monday-start on both engines (verified). */
  private val qdateCalendar = QueryDef(
    "qdate_calendar",
    build = (spark, sfDir) =>
      Tables.orders(spark, sfDir)
        .agg(min(col("o_orderdate")).cast(DateType).as("d0"),
          max(col("o_orderdate")).cast(DateType).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
        .select(col("d"),
          year(col("d")).as("y"), quarter(col("d")).as("q"),
          month(col("d")).as("m"), dayofmonth(col("d")).as("dom"),
          weekday(col("d")).as("dow"),
          date_trunc("week", col("d")).cast(DateType).as("week_start"),
          trunc(col("d"), "month").as("month_start"),
          when(col("d") === last_day(col("d")), 1).otherwise(0)
            .cast(IntegerType).as("is_month_end"),
          when(weekday(col("d")) >= 5, 1).otherwise(0)
            .cast(IntegerType).as("is_weekend"))
        .orderBy(col("d")),
    oracle = Some(
      "WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0, CAST(max(o_orderdate) AS DATE) AS d1 FROM orders), " +
        "g AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS dt FROM b) " +
        "SELECT CAST(dt AS DATE) AS d, CAST(date_part('year', dt) AS INT) AS y, " +
        "CAST(date_part('quarter', dt) AS INT) AS q, CAST(date_part('month', dt) AS INT) AS m, " +
        "CAST(date_part('day', dt) AS INT) AS dom, CAST(isodow(dt) - 1 AS INT) AS dow, " +
        "CAST(date_trunc('week', dt) AS DATE) AS week_start, CAST(date_trunc('month', dt) AS DATE) AS month_start, " +
        "CAST(CASE WHEN CAST(dt AS DATE) = last_day(CAST(dt AS DATE)) THEN 1 ELSE 0 END AS INT) AS is_month_end, " +
        "CAST(CASE WHEN isodow(dt) >= 6 THEN 1 ELSE 0 END AS INT) AS is_weekend " +
        "FROM g ORDER BY d"))

  /** Business-day (weekday-count) arithmetic — the SLA/lead-time metric
    * every order-fulfilment pipeline reports: weekdays between order and
    * ship date, via the CLOSED FORM g(m) = 5·(m div 7) + min(m mod 7, 5)
    * over Monday-anchored day numbers (epoch day + 3 — 1970-01-01 was a
    * Thursday), so busdays = g(n₂+3) − g(n₁+3) with no calendar join, no
    * per-day explode, no UDF: pure integer div/mod that pushes into the
    * scan projection on both engines. Rolled up per return flag (count,
    * total, mean as ONE IEEE division of exact integers). The join is
    * the keyed fact⋈dim on orderkey; everything else is map-side.
    *
    * Round 12 measured and REJECTED an eager-aggregation variant
    * (pre-aggregate Σ g(ship) and line counts per (orderkey, flag),
    * join order dates after): at ~4 lines/order the pre-aggregate
    * reduces the fact side barely 2× while paying a fact-scale hash
    * aggregate the flat join never pays — sf10 isolate 3.1 → 10.7 s,
    * CPU 78 → 192 s. The row-level join's 3.7×-CPU-on-3×-data band
    * sf10→sf30 (292 s CPU ≈ 9 s across 32 threads) is one-JVM SMJ
    * sort-spill pressure at the fixed 32 partitions, not a plan defect
    * — on a cluster the partition count scales with the input. */
  private val qdateBusday = QueryDef(
    "qdate_busday",
    build = (spark, sfDir) => {
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_returnflag"),
          (datediff(col("l_shipdate").cast(DateType), lit("1970-01-01").cast(DateType)) + 3)
            .as("ms"))
      val o = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"),
          (datediff(col("o_orderdate").cast(DateType), lit("1970-01-01").cast(DateType)) + 3)
            .as("mo"))
      def g(m: String): Column = lit(5) * expr(s"$m div 7") + least(col(m) % 7, lit(5))
      // SHUFFLE_HASH on the orders side: the only consumer of the join is
      // a 3-group aggregate, so a sort-merge join would sort the lineitem
      // side for an ordering nothing downstream uses. A hash build cannot
      // spill, so its keys per task are bounded: when the orders footer
      // row count needs more partitions than the session default at
      // [[TableStats.rowsPerTask]], both sides repartition on their join
      // key with that count. EnsureRequirements then inserts no further
      // exchange and the hint still builds on orders (PERF.md round 13).
      val (liK, oK) = TableStats.sizedPartitions(spark,
          TableStats.rows(spark, Tables.path(sfDir, "orders")),
          TableStats.rowsPerTask(spark), margin = 1.0)
        .fold((li, o))(n =>
          (li.repartition(n, col("l_orderkey")), o.repartition(n, col("o_orderkey"))))
      liK.join(oK.hint("SHUFFLE_HASH"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_returnflag"), (g("ms") - g("mo")).as("busdays"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("busdays")).as("total_busdays"),
          (sum(col("busdays")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
            .as("avg_busdays"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some(
      "WITH li AS (SELECT l_orderkey, l_returnflag, " +
        "CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS nship FROM lineitem), " +
        "o AS (SELECT o_orderkey, " +
        "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS nord FROM orders), " +
        "b AS (SELECT l_returnflag, " +
        "(5 * ((nship + 3) // 7) + least((nship + 3) % 7, 5)) - " +
        "(5 * ((nord + 3) // 7) + least((nord + 3) % 7, 5)) AS busdays " +
        "FROM li JOIN o ON l_orderkey = o_orderkey) " +
        "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(busdays) AS BIGINT) AS total_busdays, " +
        "CAST(sum(busdays) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_busdays " +
        "FROM b GROUP BY l_returnflag ORDER BY l_returnflag"))

  /** Fiscal-calendar mapping (July year start) — the finance-reporting
    * remap every revenue pipeline carries: fiscal year = calendar year
    * + 1 for Jul–Dec, fiscal quarter = ((month + 5) mod 12) div 3 + 1,
    * all PURE INTEGER month arithmetic (no calendar function beyond
    * extracting year/month, identical in both engines), rolled up to
    * exact revenue per (fiscal_year, fiscal_quarter). */
  private val qdateFiscal = QueryDef(
    "qdate_fiscal",
    build = (spark, sfDir) => {
      val o = Tables.orders(spark, sfDir).select(
        (year(col("o_orderdate")) +
          when(month(col("o_orderdate")) >= 7, 1).otherwise(0)).as("fy"),
        expr("(month(o_orderdate) + 5) % 12 div 3 + 1").cast(IntegerType).as("fq"),
        graft.etl.Dets.d124(col("o_totalprice")).as("p"))
      o.groupBy(col("fy"), col("fq"))
        .agg(count(lit(1)).as("n_orders"),
          graft.etl.Dets.decStr(sum(col("p")).cast(DecimalType(38, 4))).as("revenue"))
        .orderBy(col("fy"), col("fq"))
    },
    oracle = Some(
      "WITH o AS (SELECT CAST(date_part('year', o_orderdate) + " +
        "CASE WHEN date_part('month', o_orderdate) >= 7 THEN 1 ELSE 0 END AS INTEGER) AS fy, " +
        "CAST((CAST(date_part('month', o_orderdate) AS INTEGER) + 5) % 12 // 3 + 1 AS INTEGER) AS fq, " +
        "CAST(o_totalprice AS DECIMAL(12,4)) AS p FROM orders) " +
        "SELECT fy, fq, count(*) AS n_orders, " +
        "CAST(CAST(sum(p) AS DECIMAL(38,4)) AS STRING) AS revenue " +
        "FROM o GROUP BY fy, fq ORDER BY fy, fq"))

  def defs: Seq[QueryDef] = Seq(
    qstrFuncs, qstrRegex, qstrFuzzy, qstrHashes, qdateFuncs, qmathFuncs,
    qjsonFuncs, qarrayFuncs, qmapFuncs, qexplodeWords, qstrMask, qdateCalendar,
    qdateBusday, qdateFiscal)
}
