package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-testdata twin of the driver's seed-42
  * generator, for SCALE points the driver does not ship (TESTDATA.md
  * stops at sf0.1). Produces the same ten-table star schema with the
  * same column names/types, the same categorical domains, and the same
  * row-count ratios (lineitem = 6M·sf, orders = 1.5M·sf, …), so
  * `graft.Bench`/`graft.Verify` run unchanged against the output dir.
  *
  * Everything derives from `pmod(xxhash64(id, salt), n)` over
  * `spark.range` — no RNG object, no driver-side loop — so generation
  * itself is an embarrassingly parallel Spark job (the only way a
  * 10×-and-beyond fixture is practical) and any two runs produce
  * identical values. They are NOT bit-identical to the driver's tables
  * and never need to be: the oracle gate compares Spark vs DuckDB over
  * the SAME parquet, so self-consistency is the only requirement.
  *
  * Workload-shape fidelity the bench queries care about:
  *   - documents: the driver's 31-word vocab at 10–100 words/doc, so
  *     shingle/minhash densities track the driver corpus; ~1% of docs
  *     are near-duplicates of an earlier doc (~3% word substitution)
  *     and ~1% exact duplicates, giving the dedup family real work.
  *   - embeddings: 64-dim floats in a 10-cluster mixture (labels 0–9)
  *     with per-coordinate noise, so IVF/LSH bucketing has structure;
  *     value range ≈ the driver's [-0.4, 0.4].
  *   - events: 30 days of microsecond timestamps, 5 event types,
  *     ~67 events/user — the sf0.1 ratios.
  *
  * Usage: `runMain graft.tools.GenData <sf> <outDir>` (e.g. `1
  * /tmp/graft_sf1` — 6M-row lineitem, ~1.5 GB of parquet).
  */
object GenData {

  /** Stable per-column value stream: pmod(xxhash64(id, salt), n) ∈ [0, n). */
  private def h(salt: Int, n: Long): Column =
    pmod(xxhash64(col("id"), lit(salt)), lit(n))

  /** Uniform double in [0, 1), 6 digits, from stream `salt`. */
  private def u(salt: Int): Column = h(salt, 1000000L) / lit(1000000.0)

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), h(salt, values.size).cast("int") + 1)

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(1.0)
    val out = args.lift(1).getOrElse(s"/tmp/graft_sf$sf")
    val spark = SparkSession.builder()
      .master(s"local[${graft.GraftSession.cpus}]")
      .appName("graft-gendata")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      // Tables.events reads ts as TIMESTAMP(MICROS), the driver's layout;
      // write it explicitly, never INT96.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nCustomer = (150000 * sf).toLong
    val nSupplier = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nLineitem = nOrders * 4
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    val nVecs = (20000 * sf).toLong

    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gendata] wrote $name")
    }

    write("region", spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
      .toDF("r_regionkey", "r_name"), 1)

    write("nation", spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), 1)

    write("customer", spark.range(nCustomer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"),
      round(u(2) * 11000 - 1000, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), math.max(1, (sf * 4).toInt))

    write("supplier", spark.range(nSupplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(4, 25).cast("int").as("s_nationkey"),
      round(u(5) * 11000 - 1000, 2).as("s_acctbal")), math.max(1, sf.toInt))

    write("part", spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(
        pick(6, Seq("large", "hot", "blue", "green", "dim", "bright", "smooth", "rusty")),
        lit(" "),
        pick(7, Seq("ring", "bolt", "case", "tube", "disk", "plate", "wheel", "frame")))
        .as("p_name"),
      concat(lit("Brand#"), (h(8, 25) + 1).cast("string")).as("p_brand"),
      pick(9, Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO")).as("p_type"),
      (h(10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / lit(10.0), 2).as("p_retailprice")),
      math.max(1, (sf * 4).toInt))

    // Orders: midnight timestamps over 1995-01-01 .. 2001-08-01 (2405
    // days), status/priority domains as shipped. Timestamps are cast to
    // NTZ before the write: the driver's parquet carries
    // isAdjustedToUTC=false (naive) timestamps, and the DuckDB side of
    // the oracle gate types naive vs UTC-adjusted columns differently —
    // the fixture must look the same to BOTH engines as the driver's.
    def dayTs(salt: Int): Column =
      to_timestamp(date_add(lit("1995-01-01").cast("date"), h(salt, 2405).cast("int")))
        .cast("timestamp_ntz")
    write("orders", spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      h(11, nCustomer).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(13) * 499000 + 1000, 2).as("o_totalprice"),
      dayTs(14).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), math.max(2, (sf * 16).toInt))

    // Lineitem: exactly 4 lines per order (the sf0.1 mean); quantities,
    // prices and flags from independent hash streams.
    write("lineitem", spark.range(nLineitem).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      h(16, nPart).as("l_partkey"),
      h(17, nSupplier).as("l_suppkey"),
      (col("id") % 4).cast("int").plus(1).as("l_linenumber"),
      (h(18, 50) + 1).cast("double").as("l_quantity"),
      round((h(18, 50) + 1) * (lit(900.0) + h(19, 11000) / lit(10.0)), 2)
        .as("l_extendedprice"),
      (h(20, 11) / lit(100.0)).as("l_discount"),
      (h(21, 9) / lit(100.0)).as("l_tax"),
      pick(22, Seq("A", "N", "R")).as("l_returnflag"),
      pick(23, Seq("F", "O")).as("l_linestatus"),
      dayTs(24).as("l_shipdate")), math.max(4, (sf * 48).toInt))

    // Events: 30 days of microsecond-resolution timestamps from
    // 2024-01-01T00:00:00Z (epoch micros 1704067200000000).
    write("events", spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + h(25, 30L * 86400 * 1000000))
        .cast("timestamp_ntz").as("ts"),
      h(26, nUsers).as("user_id"),
      pick(27, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(u(28) * 560, 2).as("value"),
      format_string("{\"k\": %d}", h(29, 100).cast("int")).as("props")),
      math.max(2, (sf * 8).toInt))

    // Documents: driver's 31-word vocab, 10–100 words. Dup channels: docs
    // with h(31)%100 == 0 copy the word stream of doc (id - id%101) with
    // ~3% of positions substituted (near-dups); h(31)%100 == 1 docs copy
    // it verbatim (exact dups). Language split 41% en, rest even — the
    // sf0.1 census.
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
      "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
      "table", "value", "vector", "window", "the")
    val vocabSql = "array(" + vocab.map("'" + _ + "'").mkString(",") + ")"
    write("documents", spark.range(nDocs)
      .select(
        col("id"),
        when(h(31, 100) <= 1, col("id") - col("id") % 101).otherwise(col("id"))
          .as("src_id"),
        (h(31, 100) === 0).as("near"))
      .select(
        col("id").as("doc_id"),
        concat_ws(" ", expr(
          s"""transform(
                sequence(1, cast(10 + pmod(xxhash64(src_id, 30), 91) as int)),
                p -> element_at($vocabSql,
                  cast(pmod(
                    if(near and pmod(xxhash64(id, p, 77), 33) = 0,
                       xxhash64(id, p, 78), xxhash64(src_id, p)),
                    ${vocab.size}) as int) + 1))"""))
          .as("text"),
        when(h(33, 100) < 41, lit("en"))
          .otherwise(pick(34, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), h(35, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars"),
      math.max(1, (sf * 2).toInt))

    // Embeddings: 64-dim float vectors in a 10-cluster mixture — label
    // L's centroid component j is ((L*37 + j) % 13)/16 - 0.4, plus
    // uniform noise in [-0.1, 0.1).
    write("embeddings", spark.range(nVecs).select(
      col("id").as("vec_id"),
      expr(
        """transform(sequence(0, 63), j -> cast(
             (pmod(pmod(xxhash64(id, 36), 10) * 37 + j, 13) / 16.0 - 0.4) +
             (pmod(xxhash64(id, j, 37), 2000) / 10000.0 - 0.1) as float))""")
        .as("embedding"),
      h(36, 10).cast("int").as("label")), math.max(1, sf.toInt))

    println(s"[gendata] done: sf=$sf at $out")
    spark.stop()
  }
}
