package graft

import graft.api.Graft
import graft.functions.VectorFunctions.cosine_similarity
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §5.2 edge cases on tiny hand-built DataFrames: empty inputs,
  * all-null columns, single-row windows, empty join sides — the organic
  * fixtures contain none of these (FIXTURES.md quirk 5).
  */
class EdgeCaseSpec extends SparkFixture {

  private def df(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val kv = StructType(Seq(
    StructField("k", IntegerType), StructField("v", IntegerType, nullable = true)))

  test("aggregation over an empty input produces zero rows (not a null row)") {
    val empty = df(Nil, kv)
    assert(empty.groupBy(col("k")).agg(sum(col("v"))).count() == 0)
    // but a global aggregate over empty input is one row with null sum / 0 count
    val g = empty.agg(sum(col("v")).as("s"), count(lit(1)).as("n")).collect()(0)
    assert(g.isNullAt(0) && g.getLong(1) == 0)
  }

  test("all-null measure column: sum is null, count(col) is 0, count(*) is n") {
    val d = df(Seq(Row(1, null), Row(1, null)), kv)
    val r = d.groupBy(col("k"))
      .agg(sum(col("v")).as("s"), count(col("v")).as("cv"), count(lit(1)).as("n"))
      .collect()(0)
    assert(r.isNullAt(1) && r.getLong(2) == 0 && r.getLong(3) == 2)
  }

  test("single-row window: lag/lead null, rank 1, running sum = value") {
    val d = df(Seq(Row(1, 42)), kv)
    val w = Window.partitionBy(col("k")).orderBy(col("v"))
    val r = d.select(
      lag(col("v"), 1).over(w).as("lg"),
      lead(col("v"), 1).over(w).as("ld"),
      rank().over(w).as("rk"),
      sum(col("v")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run"))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getInt(2) == 1 && r.getLong(3) == 42)
  }

  test("joins against an empty side: left keeps rows, inner/semi drop all, anti keeps all") {
    val d = df(Seq(Row(1, 10), Row(2, 20)), kv)
    val empty = df(Nil, kv).select(col("k").as("k2"), col("v").as("v2"))
    assert(d.join(empty, col("k") === col("k2"), "inner").count() == 0)
    assert(d.join(empty, col("k") === col("k2"), "left").count() == 2)
    assert(d.join(empty, col("k") === col("k2"), "left_semi").count() == 0)
    assert(d.join(empty, col("k") === col("k2"), "left_anti").count() == 2)
    val leftRow = d.join(empty, col("k") === col("k2"), "left").orderBy("k").collect()(0)
    assert(leftRow.isNullAt(leftRow.fieldIndex("v2")))
  }

  test("api: asofJoin on empty inputs returns empty, not an error") {
    val emptyTs = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("k", LongType), StructField("t", LongType))))
    val some = df(Seq(Row(1, 5)), kv).select(col("k").cast(LongType).as("k"), col("v").cast(LongType).as("t"))
    assert(Graft.asofJoin(emptyTs, some, "k", "t").count() == 0) // no left events
    assert(Graft.asofJoin(some, emptyTs, "k", "t").count() == 0) // no right events
    // the custom merge-scan exec handles the same degenerate shapes
    assert(graft.plans.AsofJoinNative(spark, emptyTs, some, "k", "t").count() == 0)
    assert(graft.plans.AsofJoinNative(spark, some, emptyTs, "k", "t").count() == 0)
  }

  test("native as-of join drops null keys/timestamps like the window emulation") {
    val ts = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("t", LongType, nullable = true)))
    // null key and null ts rows on BOTH sides; a null-key left row must not
    // alias to key 0 (UnsafeRow reads a null slot as 0)
    val left = df(Seq(Row(0L, 5L), Row(null, 1L), Row(7L, null), Row(7L, 3L)), ts)
    val right = df(Seq(Row(0L, 9L), Row(null, 9L), Row(7L, null), Row(7L, 8L)), ts)
    val native = graft.plans.AsofJoinNative(spark, left, right, "k", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val emulated = Graft.asofJoin(left, right, "k", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(native == emulated, s"native $native vs emulated $emulated")
    assert(native == Seq((0L, 9L, 5L), (7L, 8L, 3L)))
  }

  test("dedupClusters on an empty pair set returns empty, not an NPE") {
    val sp = spark
    import sp.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Graft.dedupClusters(empty, "a", "b").count() == 0)
  }

  test("globalRanks fails fast on a null order value instead of mis-ranking it") {
    val withNull = df(Seq(Row(1, 5), Row(2, 9), Row(3, null)), kv)
    def refused(rank: => Unit): Unit = {
      val ex = intercept[Exception](rank)
      assert(ex.getMessage.contains("non-null") ||
        Option(ex.getCause).exists(_.getMessage.contains("non-null")), ex.getMessage)
    }
    refused(Graft.globalRanks(withNull, Seq("rv" -> col("v")), Seq(col("k")),
      buckets = 4, sampleOneIn = 1).collect())
    // several metrics: the null one fails, not just the first; the sample
    // (one in one) sees every row
    refused(Graft.globalRanks(withNull, Seq("rk" -> col("k"), "rv" -> col("v")),
      Seq(col("k")), buckets = 4, sampleOneIn = 1).collect())
  }

  test("cosine of a zero vector is NaN (documented, not a crash); empty arrays too") {
    val sp = spark
    import sp.implicits._
    val d = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f)), (Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b")
    val sims = d.select(cosine_similarity(col("a"), col("b")).as("s")).collect()
    assert(sims.forall(r => r.getDouble(0).isNaN))
  }

  test("unionByName aligns columns by name, not position") {
    val a = df(Seq(Row(1, 10)), kv)
    val b = a.select(col("v"), col("k")) // swapped order
    val u = a.unionByName(b).collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(u == Set((1, 10)))
  }

  test("decimal cast of the fixture doubles is exact (no rounding drift)") {
    val sp = spark
    import sp.implicits._
    // 2-decimal doubles (the fixture domain) quantize exactly at scale 4
    val d = Seq(0.05, 123.45, -994.28, 0.1).toDF("x")
    val back = d.select(col("x").cast(DecimalType(12, 4)).cast(DoubleType).as("y"))
      .collect().map(_.getDouble(0))
    assert(back.toSeq == Seq(0.05, 123.45, -994.28, 0.1))
  }

  test("histogram bucketing survives a degenerate span (all values equal)") {
    val sp = spark
    import sp.implicits._
    // hi == lo ⇒ width = 0 div 20 + 1 = 1 — every row lands in bucket 0,
    // no division by zero
    val one = Seq(42.0, 42.0, 42.0).toDF("x")
      .select((col("x").cast(DecimalType(12, 2)) * 100).cast(LongType).as("cents"))
    val bounds = one.agg(min(col("cents")).as("lo"),
      (((max(col("cents")) - min(col("cents"))).cast(LongType))
        .divide(lit(20)).cast(LongType) + 1L).as("width"))
    val buckets = one.crossJoin(broadcast(bounds))
      .withColumn("bucket", expr("(cents - lo) div width"))
      .select(col("bucket")).distinct().collect().map(_.getLong(0)).toSeq
    assert(buckets == Seq(0L))
  }

  test("chunking never emits a chunk start past the end, and covers every token") {
    val sp = spark
    import sp.implicits._
    // n ∈ {1, 30, 40, 41, 99}: starts are k·30+1 for k ≤ ceil(max(0,n−40)/30)
    val docs = Seq(1, 30, 40, 41, 99)
      .map(n => (n.toLong, (1 to n).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("words"))
      .select(col("doc_id"), col("words"),
        explode(expr("sequence(0, (greatest(0, size(words) - 40) + 29) div 30)")).as("ck"))
      .select(col("doc_id"), col("ck"),
        size(expr("slice(words, ck * 30 + 1, 40)")).as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every chunk non-empty (no start past the end)
    assert(chunks.forall(_._3 > 0), chunks.mkString(","))
    // coverage: last chunk of n reaches token n (start + len >= n)
    Seq(1, 30, 40, 41, 99).foreach { n =>
      val last = chunks.filter(_._1 == n).maxBy(_._2)
      assert(last._2 * 30 + last._3 == n, s"n=$n last=$last")
    }
  }

  test("sessionize counts every event exactly once, single-event sessions included") {
    val out = graft.etl.Registry.byName("qwin_sessionize").build(spark, sfTiny)
    val total = out.agg(sum(col("n_events"))).collect()(0).getLong(0)
    val events = graft.etl.Tables.events(spark, sfTiny).count()
    assert(total == events, s"sessionized $total of $events events")
    // durations are non-negative and single-event sessions have duration 0
    assert(out.filter(col("duration_us") < 0).count() == 0)
    assert(out.filter(col("n_events") === 1 && col("duration_us") =!= 0).count() == 0)
  }

  test("cdc diff partitions changes: I keys are new, D keys are gone, U values differ") {
    val out = graft.etl.Registry.byName("qset_cdcdiff").build(spark, sfTiny).cache()
    try {
      assert(out.filter(col("op") === "I" && col("old_price").isNotNull).count() == 0)
      assert(out.filter(col("op") === "D" && col("new_price").isNotNull).count() == 0)
      assert(out.filter(col("op") === "U" &&
        (col("old_price").isNull || col("new_price").isNull
          || col("old_price") === col("new_price"))).count() == 0)
    } finally out.unpersist()
  }

  test("repetition: bigrams of a one-word doc are empty (zip_with slices, not sequence)") {
    // sequence(1, size-1) DESCENDS when size = 1 ([1,0]) and would fabricate
    // bigrams; the zip_with-over-slices formulation must yield none.
    import spark.implicits._
    val one = Seq("hello", "a b").toDF("text")
      .select(split(lower(col("text")), "\\s+").as("w"))
      .select(size(zip_with(
        expr("slice(w, 1, size(w) - 1)"),
        expr("slice(w, 2, size(w) - 1)"),
        (a, b) => concat(a, lit(" "), b))).as("n_bigrams"))
      .collect().map(_.getInt(0)).toSeq
    assert(one == Seq(0, 1), s"bigram counts: $one")
    // and the declared query's ratios are well-formed on the fixture
    val rep = graft.etl.Registry.byName("qllm_repetition").build(spark, sfTiny)
    assert(rep.filter(col("n_distinct") > col("n_tokens")
      || col("distinct_ratio") <= 0 || col("distinct_ratio") > 1
      || col("top_word_frac") <= 0 || col("top_word_frac") > 1
      || col("dup_bigram_frac") < 0 || col("dup_bigram_frac") > 1).count() == 0)
  }

  test("budget: no source exceeds its token budget; pack: offsets stay inside the context") {
    val kept = graft.etl.Registry.byName("qllm_budget").build(spark, sfTiny)
      .groupBy(col("source")).agg(sum(col("n_tokens")).as("tok")).collect()
    assert(kept.nonEmpty && kept.forall(_.getAs[Long]("tok") <= 800L),
      kept.map(r => s"${r.get(0)}=${r.get(1)}").mkString(","))
    val pack = graft.etl.Registry.byName("qllm_pack").build(spark, sfTiny)
    assert(pack.filter(col("pack_offset") < 0 || col("pack_offset") >= 512
      || col("pack_first") > col("pack_last")).count() == 0)
  }

  test("entropy is bounded by ln(n_types); single-type users score exactly zero") {
    val out = graft.etl.Registry.byName("qagg_entropy").build(spark, sfTiny)
    // 6 dp rounding of each log-prob can push the weighted mean past the
    // ideal bound by at most 5e-7
    assert(out.filter(col("entropy") < 0
      || col("entropy") > log(col("n_types").cast(DoubleType)) + 1e-6).count() == 0)
    assert(out.filter(col("n_types") === 1 && col("entropy") =!= 0.0).count() == 0)
  }

  test("incremental partial merge equals the direct aggregate (Spark-side associativity)") {
    val merged = graft.etl.Registry.byName("qagg_incremental").build(spark, sfTiny)
      .select(col("event_type"), col("n_events"), col("sum_value")).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getString(2)))).toMap
    val direct = graft.etl.Tables.events(spark, sfTiny)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 4))).cast(DecimalType(38, 4)).as("s"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDecimal(2).toPlainString))).toMap
    assert(merged == direct, s"merged=$merged direct=$direct")
  }

  test("anomaly: every flagged row is a genuine |z| > 2 outlier, none degenerate") {
    val out = graft.etl.Registry.byName("qwin_anomaly").build(spark, sfTiny).cache()
    try {
      assert(out.count() > 0)
      // flag decided exactly as dev^2 > 4d  <=>  z^2 > 4; the reported z is
      // 6 dp-rounded so allow half an ulp of that granularity at the boundary
      assert(out.filter(abs(col("z")) < 2.0 - 1e-6).count() == 0)
    } finally out.unpersist()
  }

  test("anomalyZ survives a 1.2M-row partition of near-max values (scaled-int accumulators)") {
    // Σv² ≈ 1.2·10¹⁴ here — past the old DECIMAL(22,8) accumulator's 10¹⁴
    // overflow point; the scaled-integer form must flag exactly the five
    // planted outliers and nothing else, with no ANSI overflow.
    val n = 1200000L
    val base = spark.range(n).select(
      col("id"), lit("u1").as("k"),
      (lit(9998.0) + (col("id") % 2)).as("v"))
    val outliers = spark.range(5).select(
      (col("id") + n).as("id"), lit("u1").as("k"), lit(0.5).as("v"))
    val out = Graft.anomalyZ(base.unionByName(outliers),
      col("id"), col("k"), col("v")).cache()
    try {
      val flagged = out.select(col("id")).collect().map(_.getLong(0)).toSet
      assert(flagged == (n until n + 5).toSet, s"flagged ${flagged.size} rows")
      // the planted outliers sit far below the mean (σ ≈ 20 once the
      // outliers' own variance contribution is counted; z ≈ -490)
      assert(out.filter(col("z") > -100.0).count() == 0)
    } finally out.unpersist()
  }

  test("anomalyZ matches an exact integer reference on signed values, ties, and solo keys") {
    val sp = spark
    import sp.implicits._
    // deterministic signed 2-decimal values (the fixture events are all
    // non-negative — signs only get exercised here), plus exact ties
    // (i % 50 collapses values) and two single-row keys
    // mostly |v| < 100 with planted ±9999 spikes so real outliers exist
    val cents = (0 until 500).map { i =>
      if (i % 70 == 3) (if (i % 140 == 3) 999900L else -999900L)
      else (math.sin((i % 50) * 13.7) * 9999).toLong
    }
    val rows = (0 until 500).map(i => (i.toLong, s"k${i % 7}", cents(i) / 100.0)) ++
      Seq((9001L, "solo1", 42.42), (9002L, "solo2", -7.77))
    val got = Graft.anomalyZ(rows.toDF("id", "k", "v"), col("id"), col("k"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // reference in pure integer units — the same math the query claims
    def vi(v: Double): BigInt = BigInt(math.round(v * 100)) * 100
    val byKey = rows.groupBy(_._2)
    val want = rows.flatMap { case (id, k, v) =>
      val g = byKey(k)
      val n = BigInt(g.size)
      val svi = g.map(r => vi(r._3)).sum
      val svvi = g.map { r => val x = vi(r._3); x * x }.sum
      val devi = n * vi(v) - svi
      val di = n * svvi - svi * svi
      if (devi * devi > 4 * di)
        Some(id -> BigDecimal(devi.toDouble / math.sqrt(di.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }.toMap
    assert(got.nonEmpty && got == want,
      s"${got.size} flagged vs ${want.size} expected; diff=${(got.toSet diff want.toSet).take(5)}")
  }

  test("skew profiler: shares are descending, bounded, and skew factor >= 1") {
    val rows = graft.etl.Registry.byName("qagg_skew").build(spark, sfTiny).collect()
    assert(rows.length == 5)
    val cnts = rows.map(_.getAs[Long]("cnt")).toSeq
    assert(cnts == cnts.sortBy(-_), s"not descending: $cnts")
    assert(rows.map(_.getAs[Double]("share")).sum <= 1.0 + 1e-9)
    assert(rows.forall(_.getAs[Double]("skew_factor") >= 1.0))
  }

  test("ema: the first event of every user smooths to exactly its own value") {
    val out = graft.etl.Registry.byName("qwin_ema").build(spark, sfTiny)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    // m = 1 => num = value/2, denom = 1 - 1/2 => ema == value BIT-exactly
    // (power-of-two scaling is lossless); any drift means the renormalizer
    // or tap weights broke
    val firsts = out.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(firsts.count() > 0)
    assert(firsts.filter(col("ema") =!= col("value")).count() == 0)
  }

  test("stratified sampling rates land near their targets per stratum") {
    val out = graft.etl.Registry.byName("qllm_stratified").build(spark, sfTiny)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    out.groupBy(_._1).foreach { case (rate, rows) =>
      val total = rows.map(_._2).sum.toDouble
      val sampled = rows.map(_._3).sum.toDouble
      // 25-doc strata are small; just require the right ordering band
      assert(math.abs(sampled / total - rate / 100.0) < 0.2,
        s"rate $rate%: sampled ${sampled / total}")
    }
  }

  test("redactPii: null text yields null counts and null redacted, not a crash") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, null: String), (2L, "")).toDF("id", "t")
    val out = Graft.redactPii(df, col("t")).orderBy("id").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("n_emails")))
    assert(out(0).isNullAt(out(0).fieldIndex("redacted")))
    // empty string: zero matches, empty redaction
    assert(out(1).getAs[Long]("n_emails") == 0L)
    assert(out(1).getAs[String]("redacted") == "")
  }

  test("boilerplateTag: docs shorter than the gram size are excluded, not zero-row'd") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, "a b"), (2L, "a b c d")).toDF("id", "t")
    val out = Graft.boilerplateTag(df, col("id"), col("t"), n = 3, minDf = 2)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L)) // the 2-word doc has no 3-grams and no row
  }

  test("cusum closed form equals the sequential max(0, S+d) recursion, negatives included") {
    // qwin_cusum relies on S_i = P_i - min(0, min_{j<=i} P_j); validate the
    // identity against the direct recursion on a series that exercises
    // resets (deep negative runs), immediate alarms, and a P that dips
    // below zero before its running min does.
    val xs = Seq(5L, -9L, 3L, 4L, -20L, 7L, 7L, -1L, 30L, -50L, 2L)
    val direct = xs.scanLeft(0L)((s, d) => math.max(0L, s + d)).tail
    val sp = spark
    import sp.implicits._
    val d = xs.zipWithIndex.map { case (v, i) => (i + 1, v) }.toDF("rn", "d")
    val run = Window.orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val closed = d
      .withColumn("pre", sum(col("d")).over(run))
      .withColumn("s", col("pre") - least(lit(0L), min(col("pre")).over(run)))
      .orderBy(col("rn")).collect().map(_.getAs[Long]("s")).toSeq
    assert(closed == direct)
  }

  test("kcore peel summary is monotone and every survivor keeps degree >= k") {
    // tiny handcrafted graph: a K5 clique (every degree 4) plus a pendant
    // chain 10-11-12 hanging off node 1. k=3 must peel the chain in two
    // rounds and leave the clique intact forever.
    val sp = spark
    import sp.implicits._
    val clique = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong)
    val e0 = (clique ++ Seq((1L, 10L), (10L, 11L), (11L, 12L))).toDF("src", "dst")
    def peel(e: org.apache.spark.sql.DataFrame, k: Int) = {
      val keep = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg")).filter(col("deg") >= k).select("v")
      e.join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")) // using-column joins move the key first
    }
    val e1 = peel(e0, 3); val e2 = peel(e1, 3); val e3 = peel(e2, 3)
    // chain degrees in e0 are 10->2, 11->2, 12->1: all below k, so every
    // chain edge drops in round 1 and only the clique's 10 edges remain
    assert(e1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == clique.toSet)
    assert(e2.count() == 10 && e3.count() == 10) // K5 is a fixed point of the 3-core peel
    val deg = e3.select(col("src").as("v")).unionAll(e3.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg")).collect()
    assert(deg.forall(_.getAs[Long]("deg") >= 3))
  }

  test("rolling median: lower-median pick is exact for odd, even, and single-row frames") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, 10L), (2L, 1000L), (3L, 20L), (4L, 30L)).toDF("event_id", "vi")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("event_id")).rowsBetween(-9, org.apache.spark.sql.expressions.Window.currentRow)
    val out = df.withColumn("fr", collect_list(col("vi")).over(w))
      .select(col("event_id"),
        element_at(sort_array(col("fr")),
          ((size(col("fr")) + 1) / 2).cast("int")).as("med_i"))
      .orderBy(col("event_id"))
      .collect().map(_.getLong(1)).toSeq
    // frames [10] [10,1000] [10,1000,20] [10,1000,20,30]:
    // lower medians 10, 10, 20, 20 — the early-spike 1000 never leaks in
    assert(out == Seq(10L, 10L, 20L, 20L))
  }

  test("cc min-label: 4 synchronous rounds settle a path + a pair into exact components") {
    val sp = spark
    import sp.implicits._
    val es = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val d = es.unionAll(es.select(col("dst").as("src"), col("src").as("dst")))
    var lbl = d.select(col("src").as("v")).distinct().select(col("v"), col("v").as("lbl"))
    for (_ <- 1 to 4) {
      val nm = d.join(lbl, d("src") === lbl("v"))
        .select(col("dst").as("v2"), col("lbl"))
        .groupBy(col("v2")).agg(min(col("lbl")).as("nm"))
      lbl = lbl.join(nm, col("v") === col("v2"), "left")
        .select(col("v"), least(col("lbl"), coalesce(col("nm"), col("lbl"))).as("lbl"))
    }
    val labels = lbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("pmi: every emitted row satisfies the exact BigInt ratio and the min-count floor") {
    val rows = graft.etl.Registry.byName("qllm_pmi").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    // recompute the two totals the query folds in via its scalar frames
    val ws = graft.etl.Tables.documents(spark, sfTiny)
      .select(split(lower(col("text")), "\\s+").as("w"))
    val n1 = ws.select(explode(col("w")).as("t")).count()
    val n2 = ws.select((size(col("w")) - 1).as("k")).filter(col("k") >= 1)
      .agg(sum(col("k"))).head().getLong(0)
    rows.foreach { r =>
      val n12 = r.getAs[Long]("n12"); val c1 = r.getAs[Long]("c1_w1")
      val c2 = r.getAs[Long]("c1_w2"); val got = r.getAs[Long]("pmi_ppm")
      assert(n12 >= 5)
      val want = (BigInt(n12) * BigInt(n1) * BigInt(n1) * 1000000) /
        (BigInt(n2) * BigInt(c1) * BigInt(c2))
      assert(BigInt(got) == want, s"row $r: want $want")
    }
  }

  test("containment: a doc fully embedded in a larger one scores exactly 1.0") {
    val sp = spark
    import sp.implicits._
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " eta theta iota kappa lambda mu nu xi omicron pi rho sigma"
    val docs = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val sh = Graft.shingleHashes(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("h64").as("sh"))
    val out = Graft.jaccardCandidates(sh, dfCap = 20, minNum = 0, minDen = 1)
      .filter(col("n_common") * 2 >= least(col("n_a"), col("n_b")))
      .select(col("doc_a"), col("doc_b"),
        (col("n_common").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment"))
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("containment") == 1.0)
    // and the symmetric Jaccard for the same pair is well below 1 — the
    // asymmetry this operator exists to catch
    val j = Graft.jaccardCandidates(sh, dfCap = 20, minNum = 0, minDen = 1)
      .select((col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jac"))
      .head().getAs[Double]("jac")
    assert(j < 0.5, s"jaccard $j")
  }

  test("asof tolerance boundary: gap == tolerance matches, one microsecond more drops") {
    val sp = spark
    import sp.implicits._
    val clicks = Seq((1L, 1000L), (2L, 1000L)).toDF("user_id", "ts_us")
    // user 1's purchase lands exactly at the bound; user 2's is 1 us late
    val purchases = Seq((1L, 1100L, 10L), (2L, 1101L, 20L))
      .toDF("user_id", "ts_us", "event_id")
    val out = Graft.asofJoin(clicks, purchases, key = "user_id", ts = "ts_us",
        tolerance = Some(100L))
      .select(col("event_id")).as[Long].collect().toSet
    assert(out == Set(10L), s"boundary must be inclusive at gap == tolerance: $out")
  }

  test("gini matches the exact BigDecimal rank-identity reference on real data") {
    val row = graft.etl.Registry.byName("qwin_gini").build(spark, sfTiny).collect()(0)
    val prices = spark.read.parquet(s"$sfTiny/part.parquet")
      .select(col("p_partkey").cast(LongType), col("p_retailprice"))
      .collect().map(r =>
        BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP))
    val sorted = prices.sorted // tie order irrelevant to G (x·Σrank invariance)
    val n = sorted.length
    val sx = sorted.sum
    val srx = sorted.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
    val expect = (2.0 * srx.toDouble - (n + 1.0) * sx.toDouble) / (n * sx.toDouble)
    assert(row.getLong(0) == n)
    assert(math.abs(row.getDouble(2) - expect) < 1e-12,
      s"gini ${row.getDouble(2)} != reference $expect")
    assert(row.getDouble(2) >= 0.0 && row.getDouble(2) < 1.0)
  }

  test("drawdown equals the sequential peak-minus-balance recursion per user") {
    val out = graft.etl.Registry.byName("qwin_drawdown").build(spark, sfTiny)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getString(3), r.getString(4))).toMap
    val byUser = graft.etl.Tables.events(spark, sfTiny)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1)
    for ((u, rows) <- byUser) {
      var cum = BigDecimal(0); var peak = BigDecimal(0) // peak of first row = its own cum
      var maxDd = BigDecimal(Long.MinValue)
      val ordered = rows.sortBy(r => (r._2, r._3))
      for ((i, r) <- ordered.zipWithIndex.map(_.swap)) {
        cum += r._4
        peak = if (i == 0) cum else peak.max(cum)
        maxDd = maxDd.max(peak - cum)
      }
      val (n, fin, pk, dd) = out(u)
      assert(n == ordered.length && BigDecimal(fin) == cum &&
        BigDecimal(pk) == peak && BigDecimal(dd) == maxDd,
        s"user $u: got $n/$fin/$pk/$dd want ${ordered.length}/$cum/$peak/$maxDd")
    }
  }

  test("rfm scores are 1..5 quintiles with near-equal occupancy and a consistent segment") {
    val rows = graft.etl.Registry.byName("qagg_rfm").build(spark, sfTiny).collect()
    val n = rows.length
    for (c <- Seq(4, 5, 6)) {
      val byScore = rows.groupBy(_.getLong(c)).view.mapValues(_.length).toMap
      assert(byScore.keySet.subsetOf(Set(1L, 2L, 3L, 4L, 5L)), s"col $c: $byScore")
      // (rank-1)*5 div n + 1 occupancy: ceil/floor of n/5 only
      assert(byScore.values.forall(v => v == n / 5 || v == n / 5 + 1), s"col $c: $byScore")
    }
    assert(rows.forall(r =>
      r.getString(7) == s"${r.getLong(4)}${r.getLong(5)}${r.getLong(6)}"))
  }

  test("sorted-neighbor blocking: adjacency, set bounds, and the integer verdict agree") {
    val rows = graft.etl.Registry.byName("qdedup_sorted_nbr").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    // each record opens at most one pair per brand (adjacency, not all-pairs)
    val lefts = rows.map(r => (r.getString(0), r.getLong(1)))
    assert(lefts.distinct.length == lefts.length)
    for (r <- rows) {
      val (na, nb, ni) = (r.getInt(3), r.getInt(4), r.getInt(5))
      assert(ni >= 0 && ni <= math.min(na, nb))
      val j = r.getDouble(6)
      assert(j >= 0.0 && j <= 1.0)
      assert((r.getString(7) == "candidate") == (2 * ni >= na + nb - ni))
    }
  }

  test("abtest arms partition the users and the moments are finite") {
    val r = graft.etl.Registry.byName("qagg_abtest").build(spark, sfTiny).collect()(0)
    val users = spark.read.parquet(s"$sfTiny/events.parquet")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(r.getLong(0) + r.getLong(1) == users)
    for (c <- 2 to 6) assert(!r.getDouble(c).isNaN && !r.getDouble(c).isInfinite,
      s"col $c not finite: $r")
    assert(r.getDouble(4) > 0 && r.getDouble(5) > 0) // variances positive
  }

  test("acf1 is a correlation: bounded to [-1, 1] per event type") {
    val rows = graft.etl.Registry.byName("qwin_acf").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(1) >= 2)
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12, s"$r")
    }
  }

  test("assoc: confidences and lift satisfy their exact count identities") {
    val rows = graft.etl.Registry.byName("qagg_assoc").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nab, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nab >= 1 && nab <= math.min(na, nb))
      assert(r.getDouble(5) == nab.toDouble / na.toDouble)
      assert(r.getDouble(6) == nab.toDouble / nb.toDouble)
      assert(r.getDouble(7) > 0)
    }
  }

  test("assoc: bitmask histogram counts equal the naive distinct-pair self-join") {
    // round-15 internals pin: qagg_assoc now packs each user's type-set
    // into a long bitmask and reads every count off a ≤2^|types|-row mask
    // histogram; this checks the whole (n_ab, n_a, n_b) surface against
    // the direct oracle-shaped reference on the tiny fixture
    val out = graft.etl.Registry.byName("qagg_assoc").build(spark, sfTiny).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val ut = spark.read.parquet(s"$sfTiny/events.parquet")
      .select(col("user_id"), col("event_type")).distinct()
    val refPairs = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val refSingles = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == refPairs.keySet,
      s"pair sets differ: ${out.keySet} vs ${refPairs.keySet}")
    for ((k @ (ta, tb), (nab, na, nb)) <- out) {
      assert(nab == refPairs(k), s"n_ab($k): $nab vs ${refPairs(k)}")
      assert(na == refSingles(ta) && nb == refSingles(tb), s"singles($k)")
    }
  }

  test("assoc: a user whose events all have a NULL type counts toward n_total only") {
    val sfDir = java.nio.file.Files.createTempDirectory("graft_assoc_sf").toString
    try {
      // users 1-3 are typed; user 4 has only NULL types; user 2's NULL row
      // adds nothing
      FixturesSpec.writeEvents(sfDir, "MICROS", Seq(
        (1L, 0L, 1L, Some("a")), (2L, 0L, 1L, Some("b")),
        (3L, 0L, 2L, Some("a")), (4L, 0L, 2L, Some("b")), (5L, 0L, 2L, None),
        (6L, 0L, 3L, Some("a")),
        (7L, 0L, 4L, None), (8L, 0L, 4L, None)))
      val rows = graft.etl.Registry.byName("qagg_assoc").build(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(7)))
      // lift = n_ab · n_total / (n_a · n_b), n_total = count(DISTINCT user_id) = 4
      assert(rows.toSeq == Seq(("a", "b", 2L, 3L, 2L, 2.0 * 4.0 / (3.0 * 2.0))))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sfDir))
  }

  test("winnow hashes code points: multi-byte and non-BMP characters match a Scala rolling hash") {
    val sfDir = java.nio.file.Files.createTempDirectory("graft_winnow_sf").toString
    try {
      val texts = Seq(
        1L -> "plain ascii text that is long enough",
        // 2-byte (é), 3-byte (日本) and 4-byte non-BMP (😀 🎉: surrogate
        // pairs in UTF-16) characters inside and at the gram edges
        2L -> "naïve café 日本語のテキスト 😀 résumé 🎉 end",
        3L -> "😀😀😀😀😀😀😀😀😀😀😀😀",
        // 10 code points (but 20 UTF-16 chars): below the 11-char minimum
        4L -> "😀😀😀😀😀😀😀😀😀😀")
      spark.createDataFrame(spark.sparkContext.parallelize(texts.map { case (id, t) =>
        Row(id, t, "en", "web", t.codePointCount(0, t.length).toLong)
      }, 2), graft.etl.Tables.documentsSchema)
        .write.parquet(graft.etl.Tables.path(sfDir, "documents"))
      val got = graft.etl.Registry.byName("qllm_winnow").build(spark, sfDir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val want = texts.flatMap { case (id, t) =>
        val cs = t.codePoints().toArray.map(_.toLong)
        if (cs.length < 11) None
        else {
          val hs = cs.sliding(8).map(_.foldLeft(0L)((a, c) => (a * 257 + c) % 1000000007L)).toSeq
          val fps = hs.sliding(4).map(_.min).toSeq.distinct
          Some(id -> (fps.size.toLong, fps.min, fps.max))
        }
      }.toMap
      assert(got == want)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sfDir))
  }

  test("benford digit fractions are a distribution over plausible leading digits") {
    val rows = graft.etl.Registry.byName("qagg_benford").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(0).length == 1 && r.getString(0)(0).isDigit))
    val s = rows.map(_.getDouble(2)).sum
    assert(math.abs(s - 1.0) < 1e-9, s"fracs sum to $s")
  }

  test("cramers v is bounded [0,1] over the full contingency mass") {
    val r = graft.etl.Registry.byName("qagg_cramersv").build(spark, sfTiny).collect()(0)
    val nEvents = spark.read.parquet(s"$sfTiny/events.parquet").count()
    assert(r.getLong(2) == nEvents)
    assert(BigDecimal(r.getString(3)) >= 0)
    val v = r.getDouble(4)
    assert(v >= 0.0 && v <= 1.0, s"V out of range: $v")
  }

  test("linreg matches a direct double-precision OLS reference per group") {
    val out = graft.etl.Registry.byName("qagg_linreg").build(spark, sfTiny)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val data = spark.read.parquet(s"$sfTiny/lineitem.parquet")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .groupBy(_._1)
    for ((flag, rows) <- data) {
      val n = rows.length.toDouble
      val sx = rows.map(_._2).sum; val sy = rows.map(_._3).sum
      val sxy = rows.map(t => t._2 * t._3).sum
      val sxx = rows.map(t => t._2 * t._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val (gn, gs, gi, gr2) = out(flag)
      assert(gn == rows.length)
      assert(math.abs(gs - slope) < 1e-6 * math.max(1.0, math.abs(slope)),
        s"$flag slope $gs != $slope")
      assert(math.abs(gi - (sy - slope * sx) / n) < 1e-4, s"$flag intercept $gi")
      assert(gr2 >= 0.0 && gr2 <= 1.0, s"$flag r2 $gr2")
    }
  }

  test("seasonality indices weighted by day counts average to one per type") {
    val rows = graft.etl.Registry.byName("qagg_seasonality").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for ((_, g) <- rows.groupBy(_.getString(0))) {
      val nDays = g.map(_.getLong(2)).sum
      val wsum = g.map(r => r.getLong(2) * r.getDouble(4)).sum
      assert(math.abs(wsum - nDays) < 1e-6 * nDays,
        s"sum(n_days*idx)=$wsum != n_all=$nDays")
      assert(g.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 6))
    }
  }

  test("fd audit: the true key FD holds, the behavioral FDs report their rates") {
    val rows = graft.etl.Registry.byName("qagg_fdaudit").build(spark, sfTiny)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.size == 3)
    val (nl, nv, f) = rows("n_nationkey->n_regionkey")
    assert(nl == 25 && nv == 0 && f == 0.0)
    for ((fd, (l, v, frac)) <- rows) {
      assert(v >= 0 && v <= l, fd)
      assert(frac == v.toDouble / l.toDouble, fd)
    }
  }

  test("mom: prev_rev chains to the prior month's rev and pct matches") {
    val rows = graft.etl.Registry.byName("qagg_mom").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for ((_, g) <- rows.groupBy(_.getString(0))) {
      val ordered = g.sortBy(_.getDate(1).toString)
      assert(ordered.head.isNullAt(3) && ordered.head.isNullAt(4))
      for (Array(prev, cur) <- ordered.sliding(2) if !cur.isNullAt(3)) {
        assert(cur.getString(3) == prev.getString(2),
          s"prev_rev ${cur.getString(3)} != prior rev ${prev.getString(2)}")
        val p = BigDecimal(cur.getString(3)).toDouble
        val c = BigDecimal(cur.getString(2)).toDouble
        assert(math.abs(cur.getDouble(4) - (c - p) / p) < 1e-12)
      }
    }
  }

  test("bollinger: midline and breach flag match a hand-rolled 7-row window") {
    val rows = graft.etl.Registry.byName("qwin_bollinger").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for ((_, g) <- rows.groupBy(_.getString(0))) {
      val ordered = g.sortBy(_.getLong(1))
      val vis = ordered.map(r => (BigDecimal(r.getString(2)) * 10000).toLongExact)
      for (i <- ordered.indices) {
        val win = vis.slice(math.max(0, i - 6), i + 1)
        val n = win.length.toLong
        val svi = win.sum
        val svvi = win.map(v => BigInt(v) * BigInt(v)).sum
        val mid = svi.toDouble / (n.toDouble * 10000.0)
        assert(ordered(i).getDouble(3) == mid, s"mid mismatch at $i")
        val devi = BigInt(n * vis(i) - svi)
        val di = BigInt(n) * svvi - BigInt(svi) * BigInt(svi)
        val breach = if (devi * devi > 4 * di) 1 else 0
        assert(ordered(i).getInt(4) == breach, s"breach mismatch at $i")
      }
    }
  }

  test("rsi: bounded [0,100] and equal to 100*gain/(gain+loss) over 14 rows") {
    val rows = graft.etl.Registry.byName("qwin_rsi").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for ((_, g) <- rows.groupBy(_.getString(0))) {
      val ordered = g.sortBy(_.getLong(1))
      val diffs = ordered.map(_.getLong(2))
      for (i <- ordered.indices) {
        val win = diffs.slice(math.max(0, i - 13), i + 1)
        val sg = win.map(d => math.max(d, 0L)).sum
        val sl = win.map(d => math.max(-d, 0L)).sum
        if (sg + sl == 0L) assert(ordered(i).isNullAt(3))
        else {
          val rsi = 100.0 * sg.toDouble / (sg + sl).toDouble
          assert(ordered(i).getDouble(3) == rsi, s"rsi mismatch at $i")
          assert(rsi >= 0.0 && rsi <= 100.0)
        }
      }
    }
  }

  test("vwap: running masses are monotone and the final row is the part's total") {
    val rows = graft.etl.Registry.byName("qwin_vwap").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for ((pk, g) <- rows.groupBy(_.getLong(0))) {
      assert(pk % 20 == 0)
      val ordered = g.sortBy(r => (r.getDate(3).toString, r.getLong(1), r.getInt(2)))
      val qtys = ordered.map(r => BigDecimal(r.getString(4)))
      assert(qtys.sliding(2).forall(p => p.length < 2 || p(0) < p(1)), "cum_qty monotone")
      val last = ordered.last
      assert(math.abs(last.getDouble(6) -
        BigDecimal(last.getString(5)).toDouble / BigDecimal(last.getString(4)).toDouble) < 1e-12)
    }
  }

  test("bfs: histogram covers the subgraph and distances stay in {-1,0..3}") {
    val rows = graft.etl.Registry.byName("qgraph_bfs").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    val dists = rows.map(_.getLong(0)).toSet
    assert(dists.subsetOf(Set(-1L, 0L, 1L, 2L, 3L)), s"$dists")
    assert(dists.contains(0L), "seed nodes must appear at distance 0")
    assert(rows.map(_.getLong(1)).sum > 0)
  }

  test("cohort: offset-0 cells equal the cohort size and rates stay in (0,1]") {
    val rows = graft.etl.Registry.byName("qagg_cohort").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (off, n, n0, rate) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(off >= 0 && n >= 1 && n <= n0)
      assert(rate == n.toDouble / n0.toDouble)
      if (off == 0) assert(n == n0, s"cohort month itself must be fully active: $r")
    }
  }

  test("churn: retained + churned = active, and counts match a set reference") {
    val rows = graft.etl.Registry.byName("qagg_churn").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    val weeks = graft.etl.Tables.events(spark, sfTiny)
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("week"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    for (r <- rows) {
      val w = r.getLong(0)
      val (a, ret, ch, nw) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ret + ch == a, s"week $w: retained+churned != active")
      val cur = weeks(w); val nxt = weeks.getOrElse(w + 1, Set.empty[Long])
      assert(a == cur.size && ret == (cur & nxt).size &&
        ch == (cur -- nxt).size && nw == (nxt -- cur).size, s"week $w mismatch")
      assert(r.getDouble(5) == ret.toDouble / a.toDouble)
    }
  }

  test("ordergap: span telescopes the gaps and mean uses n-1") {
    val rows = graft.etl.Registry.byName("qwin_ordergap").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, span) = (r.getLong(1), r.getLong(2))
      if (n == 1) {
        assert(r.isNullAt(3) && r.isNullAt(4), s"single-order customer: $r")
      } else {
        val maxGap = r.getLong(3)
        assert(maxGap <= span && maxGap * (n - 1) >= span,
          s"max gap must bound span/(n-1): $r")
        assert(r.getDouble(4) == span.toDouble / (n - 1).toDouble)
      }
    }
  }

  test("smacross: crossings only fire on strict sign flips between full windows") {
    val rows = graft.etl.Registry.byName("qwin_smacross").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for ((_, g) <- rows.groupBy(_.getString(0))) {
      val ordered = g.sortBy(_.getLong(1))
      // first 9 days cannot be full; crossings need two consecutive fulls
      assert(ordered.take(9).forall(_.getInt(3) == 0))
      for (Array(p, c) <- ordered.sliding(2)) {
        val fires = c.getInt(4) == 1
        val eligible = p.getInt(3) == 1 && c.getInt(3) == 1 &&
          c.getInt(2) * p.getInt(2) == -1
        assert(fires == eligible, s"cross flag wrong at day ${c.getLong(1)}")
      }
    }
  }

  test("lexdiv: ratios bounded and hapax never exceeds vocabulary") {
    val rows = graft.etl.Registry.byName("qllm_lexdiv").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (toks, vocab, hapax) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(vocab <= toks && hapax <= vocab)
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
  }

  test("json sink round trip: day totals equal the direct parquet aggregate") {
    val out = graft.etl.Registry.byName("qsink_json").build(spark, sfTiny)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val direct = graft.etl.Tables.events(spark, sfTiny)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"), countDistinct(col("event_type")).as("nt"),
        sum(expr("cast(value as decimal(12,4))")).as("sv"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDecimal(3))).toMap
    assert(out.keySet == direct.keySet)
    for ((d, (n, nt, sv)) <- out) {
      val (dn, dnt, dsv) = direct(d)
      assert(n == dn && nt == dnt && BigDecimal(sv) == BigDecimal(dsv), s"day $d")
    }
  }

  test("right join: supplier side is preserved and zero-lineitem counts are 0") {
    val rows = graft.etl.Registry.byName("qjoin_right").build(spark, sfTiny).collect()
    val nSupp = spark.read.parquet(s"$sfTiny/supplier.parquet").count()
    assert(rows.length == nSupp, "every supplier must survive the right join")
    assert(rows.forall(_.getLong(1) >= 0))
  }

  test("symdiff verdicts match an independent set computation") {
    val rows = graft.etl.Registry.byName("qset_symdiff").build(spark, sfTiny)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def keys(lo: String, hi: String) =
      graft.etl.Tables.lineitem(spark, sfTiny)
        .filter(col("l_shipdate") >= to_date(lit(lo)) &&
          col("l_shipdate") < to_date(lit(hi)))
        .select(col("l_partkey")).distinct().collect().map(_.getLong(0)).toSet
    val h1 = keys("1995-01-01", "1995-07-01")
    val h2 = keys("1995-07-01", "1996-01-01")
    val expect = (h1 -- h2).map(_ -> "h1_only").toMap ++ (h2 -- h1).map(_ -> "h2_only")
    assert(rows == expect)
  }

  test("keyset page: 25 rows, strictly after the cursor, contiguous in the total order") {
    val page = graft.etl.Registry.byName("qsort_keyset").build(spark, sfTiny)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(page.length == 25)
    assert(page.forall { case (b, k) => b > "Brand#3" || (b == "Brand#3" && k > 40L) })
    // page equals the first 25 of the full post-cursor ordering — no gaps
    val all = spark.read.parquet(s"$sfTiny/part.parquet")
      .select(col("p_brand"), col("p_partkey"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter { case (b, k) => b > "Brand#3" || (b == "Brand#3" && k > 40L) }
      .sorted.take(25)
    assert(page.toSeq == all.toSeq)
  }

  test("dpp join returns exactly the rows of the selective-year semantics") {
    val rows = graft.etl.Registry.byName("qjoin_dpp").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    val years = graft.etl.Tables.lineitem(spark, sfTiny)
      .filter(col("l_shipdate") < to_date(lit("1996-07-01")))
      .select(year(col("l_shipdate"))).distinct().collect().map(_.getInt(0)).toSet
    assert(rows.map(_.getInt(0)).toSet.subsetOf(years),
      "a year outside the dim set leaked through the pruned join")
  }

  test("expanding z-score is leak-free: flags match a strictly-prior-moments fold") {
    val out = graft.etl.Registry.byName("qwin_expanding").build(spark, sfTiny)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(4))).toMap
    val events = graft.etl.Tables.events(spark, sfTiny)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        expr("cast(cast(value as decimal(12,4)) * 10000 as bigint)").as("vi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    var flagged = 0
    for ((_, rows) <- events) {
      val ordered = rows.sortBy(r => (r._2, r._3))
      var n = 0L; var svi = BigInt(0); var svvi = BigInt(0)
      for ((_, _, eid, vi) <- ordered) {
        if (n >= 2) {
          val devi = BigInt(n) * vi - svi
          val di = BigInt(n) * svvi - svi * svi
          val isOut = devi * devi > 4 * di
          assert(out.contains(eid) == isOut, s"event $eid flag mismatch")
          if (isOut) {
            flagged += 1
            val z = math.rint(devi.toDouble / math.sqrt(di.toDouble) * 1e6) / 1e6
            assert(out(eid)._1 == n && out(eid)._2 == z, s"event $eid stats")
          }
        }
        // the CURRENT row joins the moments only after being scored
        n += 1; svi += vi; svvi += BigInt(vi) * vi
      }
    }
    assert(flagged == out.size && flagged > 0)
  }

  test("fiscal mapping: quarters partition months correctly at the July boundary") {
    val rows = graft.etl.Registry.byName("qdate_fiscal").build(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(1) >= 1 && r.getInt(1) <= 4))
    // total orders conserved across the remap
    val total = spark.read.parquet(s"$sfTiny/orders.parquet").count()
    assert(rows.map(_.getLong(2)).sum == total)
    // spot formula: July is (fy+1, Q1), June is (fy, Q4), December (fy+1, Q2)
    for ((m, fq) <- Seq(7 -> 1, 9 -> 1, 10 -> 2, 12 -> 2, 1 -> 3, 4 -> 4, 6 -> 4))
      assert((m + 5) % 12 / 3 + 1 == fq, s"month $m should be fiscal Q$fq")
  }

  test("range-frame census rewrite matches the raw-row RANGE window, nulls included") {
    // qwin_range_frame's scale shape: the RANGE metric is a pure function
    // of (partition, sort key), so it runs over the distinct-value census
    // and joins back. Two exactness hazards this pins on a frame the
    // fixtures can't produce: (1) rows with NULL `value` must SURVIVE the
    // join-back (null-safe `<=>` — ADVICE r10: a null-unsafe join silently
    // dropped them) and (2) their n_in_range must equal the raw window's
    // null-peer-group count on both paths.
    val sch = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType, nullable = true)))
    val rows = Seq(
      Row(1L, "a", 10.0), Row(2L, "a", 50.0), Row(3L, "a", 120.0),
      Row(4L, "a", null), Row(5L, "a", null), Row(6L, "a", 10.0),
      Row(7L, "b", 5.0), Row(8L, "b", null), Row(9L, "b", 300.0))
    val e = df(rows, sch)
    e.createOrReplaceTempView("rf_nulls")
    val raw = spark.sql(
      "SELECT event_id, event_type, value, count(*) OVER (" +
        "PARTITION BY event_type ORDER BY value " +
        "RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW) AS n_in_range " +
        "FROM rf_nulls").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getLong(3))).toSet
    val m = Graft.rangeCountPreceding(e, col("event_type"), col("value"), 100.0)
      .select(col("__p").as("__mt"), col("__v").as("__mv"), col("n_in_range"))
    val census = e.join(broadcast(m),
        col("event_type") <=> col("__mt") && col("value") <=> col("__mv"))
      .select(col("event_id"), col("value"), col("n_in_range")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getLong(2))).toSet
    assert(census.size == rows.size, s"join-back dropped rows: ${census.size}")
    assert(census == raw, s"census=${census.toSeq.sortBy(_._1)}\nraw=${raw.toSeq.sortBy(_._1)}")
  }

  test("zipf: slope is negative with a sane fit over the exact vocabulary") {
    val r = graft.etl.Registry.byName("qllm_zipf").build(spark, sfTiny).collect()(0)
    val vocab = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").select(countDistinct(col("w")))
      .collect()(0).getLong(0)
    assert(r.getLong(0) == vocab)
    assert(r.getDouble(1) < 0.0, s"zipf slope should be negative: ${r.getDouble(1)}")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }
}
