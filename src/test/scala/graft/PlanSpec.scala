package graft

import graft.etl.Registry

/** Plan-shape assertions: the scale claims in PERF.md (pushdown, pruning,
  * broadcast choice, partial aggregation, bucket co-location) are read off
  * actual physical plans here, not asserted in prose. A regression that
  * silently drops a pushed filter or adds a shuffle fails the suite.
  */
class PlanSpec extends SparkFixture {

  private def plan(name: String): String =
    Registry.byName(name).build(spark, sfTiny).queryExecution.executedPlan.toString

  test("qscan_pushdown: predicates reach the parquet scan") {
    val p = plan("qscan_pushdown")
    assert(raw"PushedFilters: \[[^\]]*\w".r.findFirstIn(p).isDefined,
      s"no pushed filters in scan:\n$p")
  }

  test("qscan_project: the scan reads only the projected columns") {
    val p = plan("qscan_project")
    val read = raw"ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$p"))
    val cols = read.split(",").map(_.trim.takeWhile(_ != ':')).toSet
    // lineitem has 11 columns; a projection query must not scan them all
    assert(cols.size < 11 && cols.nonEmpty, s"scan not pruned: $cols")
  }

  test("qjoin_dpp: the declared query's fact scan carries a dynamicpruning subquery") {
    // the point of promoting DPP to the gated surface: the plan itself —
    // not just the answer — must show the partition-column join planting
    // runtime pruning in the partitioned fact scan
    val p = plan("qjoin_dpp")
    assert(p.contains("dynamicpruning"),
      s"no dynamicpruning subquery in the qjoin_dpp fact scan:\n$p")
  }

  test("qsort_keyset: cursor predicate pushes to the scan and the page is TakeOrdered") {
    val p = plan("qsort_keyset")
    assert(p.contains("TakeOrderedAndProject"), s"keyset page must not global-sort:\n$p")
    // the inferred IsNotNull(p_brand) is always pushed, so matching any
    // p_brand filter would pass vacuously — pin the cursor DISJUNCTION
    // itself (Or(GreaterThan(brand,...), ...)) inside PushedFilters
    assert(raw"PushedFilters: \[[^\]]*Or\(GreaterThan\(p_brand".r.findFirstIn(p).isDefined,
      s"cursor disjunction did not reach the parquet scan:\n$p")
  }

  test("qsink_partitioned: the year filter prunes at the partition-directory level") {
    // the declared load-step round trip: reading back a partitionBy(o_year)
    // layout with a year filter must show the filter under PartitionFilters
    // (directory pruning), not merely as a post-scan Filter — at 100 TB
    // that's the difference between opening 2/7 of the files and all of them
    val p = plan("qsink_partitioned")
    assert(raw"PartitionFilters: \[[^\]]*o_year".r.findFirstIn(p).isDefined,
      s"o_year filter did not reach PartitionFilters:\n$p")
  }

  test("qjoin_broadcast: the pinned dim side broadcasts (no shuffle join)") {
    val p = plan("qjoin_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("qagg_pricing: aggregation is partial (map-side) before the shuffle") {
    val p = plan("qagg_pricing")
    // partial + final HashAggregate pair around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("qllm_simsearch: cosine runs inside whole-stage codegen") {
    // AQE wraps the plan and defers codegen, so the adaptive explain shows
    // zero subtrees pre-execution — inspect the static plan instead
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.byName("qllm_simsearch").build(spark, sfTiny)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(raw"Found \d+ WholeStageCodegen subtrees".r.findFirstIn(p)
        .exists(s => !s.contains("Found 0")), s"no codegen span:\n${p.take(2000)}")
      assert(p.contains("cosinesimilarity") || p.contains("CosineSimilarity"),
        "cosine not in the codegen'd subtree")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qjoin_asof_native: planned by the custom AsofJoinExec, no window") {
    // physical nodes print without the Exec suffix; a bare logical AsofJoin
    // could not appear here (planning would have failed instead)
    val p = plan("qjoin_asof_native")
    assert(raw"\bAsofJoin\b".r.findFirstIn(p).isDefined, s"custom exec not planned:\n$p")
    assert(!p.contains("!AsofJoin"), s"exec reports missing input:\n$p")
    assert(!p.contains("Window"), s"native as-of must not fall back to a window:\n$p")
    // both children arrive key-clustered and (key, ts)-sorted
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 2, p)
  }

  test("qwin_ntile_dist: no un-partitioned window — every WindowExec has a partition spec") {
    // AQE hides the inner plan pre-execution; build the static plan
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Registry.byName("qwin_ntile_dist").build(spark, sfTiny)
        .queryExecution.executedPlan
      val windows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "expected the per-bucket row_number window")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"global (single-partition) window in plan:\n$exec"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qjoin_salted: the shard column is part of the join's shuffle partitioning") {
    val p = plan("qjoin_salted")
    // the skew path must actually PLAN salted: both join inputs exchange on
    // (custkey, __shard) — a plain hashpartitioning(custkey) here would mean
    // the salt was optimized away or the join broadcast, i.e. no skew relief
    assert(raw"hashpartitioning\(custkey#\d+L?, __shard".r.findAllIn(p).size >= 2,
      s"salted exchanges missing — the hot key would land in one reduce partition:\n$p")
    assert(p.contains("SortMergeJoin"), s"expected the shuffle join the salt exists for:\n$p")
  }

  test("qllm_seqs: bounded per-key state — streaming mapPartitions, no group-collect buffer") {
    val p = plan("qllm_seqs")
    // the round-3 scale-killer: sort_array(collect_list(...)) holds every
    // event of a user in ONE aggregation buffer. The bounded shape is an
    // exchange on the key, an external (spilling) sort, and a streaming
    // mapPartitions concat — no collect buffer anywhere in the plan.
    assert(!p.contains("collect_list"),
      s"unbounded per-key collect buffer is back in the plan:\n$p")
    assert(!p.contains("ObjectHashAggregate") && !p.contains("SortAggregate"),
      s"buffering aggregate in the sequence path:\n$p")
    assert(p.contains("MapPartitions"), s"expected the streaming concat:\n$p")
    assert(raw"Exchange hashpartitioning\(_1#\d+L".r.findFirstIn(p).isDefined,
      s"expected the repartition-by-user exchange feeding the secondary sort:\n$p")
  }

  test("runtime bloom filter: a selective dim filter plants might_contain on the fact side") {
    // Spark 4's InjectRuntimeFilter is the first-order 100 TB join lever
    // next to DPP: the dim's selective predicate becomes a bloom filter
    // semi-reduction on the fact scan, cutting the shuffle before the join.
    // Fixture tables sit below the size thresholds a real deployment
    // crosses naturally, so the thresholds are pinned for the audit — the
    // assertion is that the rule FIRES on this plan shape, which is what a
    // regression (a filter stuck above the join, a non-shuffle plan) breaks.
    import org.apache.spark.sql.functions.col
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = graft.etl.Tables.lineitem(spark, sfTiny)
      val dim = graft.etl.Tables.orders(spark, sfTiny)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"runtime bloom filter not injected on the star-join shape:\n$opt")
      // and the filtered plan still computes the right thing
      assert(joined.collect().map(_.getLong(1)).sum ==
        fact.join(dim, col("l_orderkey") === col("o_orderkey")).count())
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("partitioned layout: static partition pruning and dynamic partition pruning") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, year}
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    // the 100 TB layout: facts partitioned by a derived date bucket
    val orders = graft.etl.Tables.orders(spark, sfTiny)
      .withColumn("o_year", year(col("o_orderdate")))
    orders.write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val fact = spark.read.parquet(dir)
    val years = fact.select("o_year").distinct().as[Int].collect().sorted
    assert(years.length > 1, s"fixture must span years for pruning to mean anything: ${years.toSeq}")

    // static: a literal filter on the partition column reaches PartitionFilters
    val staticPlan = fact.filter(col("o_year") === years.head)
      .queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*o_year[^\]]*\]".r.findFirstIn(staticPlan).isDefined,
      s"partition filter not pushed to the scan:\n$staticPlan")

    // dynamic: joining through a filtered dim on the partition column plants
    // a dynamicpruning subquery in the fact scan (broadcast side reused).
    // Fixture tables are KBs, so the size-based benefit heuristic is forced
    // to the fallback ratio — at real scale stats make this decision.
    val prevStats = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      // the dim must be a real source (a local relation constant-folds its
      // filter away and DPP then sees no selective predicate)
      val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
      years.map(y => (y, if (y == years.head) "keep" else "drop"))
        .toSeq.toDF("o_year", "tag")
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir)
      val joined = fact.join(dim.filter(col("tag") === "keep"), "o_year")
      val dynPlan = joined.queryExecution.executedPlan.toString
      assert(dynPlan.toLowerCase.contains("dynamicpruning"),
        s"no dynamic partition pruning subquery in:\n$dynPlan")
      // and it actually computes the right thing
      assert(joined.count() == fact.filter(col("o_year") === years.head).count())
    } finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prevStats)
  }

  test("bucketed co-located join: no shuffle exchange, results exact") {
    val sp = spark
    import sp.implicits._
    val left = (0L until 1000L).map(i => (i % 100, i)).toDF("k", "v")
    val right = (0L until 500L).map(i => (i % 100, i * 2)).toDF("k", "w")
    spark.sql("DROP TABLE IF EXISTS graft_bleft")
    spark.sql("DROP TABLE IF EXISTS graft_bright")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      left.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("graft_bleft")
      right.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("graft_bright")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bleft").join(spark.table("graft_bright"), "k")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle — both sides are already hash-distributed by k:\n$p")
      // 100 keys × 10 left dups × 5 right dups
      assert(j.count() == 100L * 10 * 5)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bleft")
      spark.sql("DROP TABLE IF EXISTS graft_bright")
    }
  }

  test("qjoin_bucketed: bucketed scans feed the join with zero exchange beneath it") {
    // the declared co-located join: both scans must select real buckets and
    // the SortMergeJoin subtree must contain NO shuffle — the layout IS the
    // exchange, paid once at load time (the aggregate above it still
    // shuffles on its own group key; only the join subtree is pinned)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = Registry.byName("qjoin_bucketed").build(spark, sfTiny).queryExecution
      val p = qe.executedPlan.toString
      assert("SelectedBucketsCount: 8 out of 8".r.findAllIn(p).size == 2,
        s"expected both sides bucket-selected:\n$p")
      val smj = qe.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n$p")
      val shuffles = smj.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"shuffle under the co-located join — bucketing not recognized:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qjoin_bloom: the bloom filter sits on the fact side BEFORE the join") {
    // the runtime-filter contract: a might_contain predicate over the fact
    // key must appear in the plan (fed by the bloom aggregate subquery),
    // so non-matching fact rows die before the join's exchange — that
    // pre-shuffle placement IS the 100 TB lever
    val p = plan("qjoin_bloom")
    assert(p.contains("might_contain"), s"no bloom runtime filter in plan:\n$p")
    assert(p.contains("Subquery") || p.contains("subquery"),
      s"bloom not built as a scalar subquery:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected the shuffle join the bloom exists for:\n$p")
  }

  test("qjoin_range_binned: prefix-sum form — no match enumeration, binned window") {
    // round 11 replaced the binned match-enumerating equi-join (match
    // count is quadratic in scale: 5.7 → 42.1 s materialized sf10 → sf30)
    // with the band-aggregate prefix-sum form. The pins: no nested-loop /
    // cartesian anywhere, NO join between the customer and supplier sides
    // at all (the only joins are the metadata-scale bin-offset triangular
    // join and the offsets join-back — both broadcast), and the cumulative
    // window runs PARTITIONED by (nation, bin), never per nation alone
    // (a per-nation window caps parallelism at |nations| at any scale).
    // The binned match-join surface itself stays pinned via
    // qjoin_band_auto's rewrite-fired test below.
    val p = plan("qjoin_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range aggregate fell back to a nested loop:\n$p")
    assert(raw"SortMergeJoin|ShuffledHashJoin".r.findFirstIn(p).isEmpty,
      s"a shuffle join appeared — the customer×supplier match join is back:\n$p")
    assert(raw"Window \[.*windowspecdefinition\(nk.*bin".r.findFirstIn(p).isDefined
        || raw"Window \[.*partitionspec.*\[nk".r.findFirstIn(p).isDefined
        || raw"Window .*\[nk[#\d]*L?, bin".r.findFirstIn(p).isDefined,
      s"cumulative window not partitioned by (nation, bin):\n$p")
  }

  test("qjoin_theta_range: aggregated rank form — no pairwise residual, bounded window") {
    // round-5 verdict's one `weak` grade: the pairwise formulation was an
    // equi-join on the 25-value nationkey whose `c_acctbal > s_acctbal`
    // residual evaluated O(n·m) pairs inside every nation. The rank form
    // must show: no nested-loop/cartesian anywhere (the only joins are
    // hash equi-joins on (nation, cents)), a PARTITIONED window (no global
    // sort), and aggregation BELOW the window — the domain-bounding step
    // that keeps the 25 per-nation sorts off the raw data.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Registry.byName("qjoin_theta_range").build(spark, sfTiny)
        .queryExecution.executedPlan
      val p = exec.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"theta residual fell back to a pairwise loop:\n$p")
      val windows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "expected the per-nation cumulative-count window")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"global (single-partition) window in the rank plan:\n$exec")
        assert(w.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.nonEmpty, s"window input not pre-aggregated (domain bounding lost):\n$exec")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qwin_sessionize: both windows share one per-user partitioning") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Registry.byName("qwin_sessionize").build(spark, sfTiny)
        .queryExecution.executedPlan
      val windows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "expected the lag/running-sum windows")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"global (single-partition) window in the sessionize plan:\n$exec"))
      // lag + running sum must reuse ONE exchange on user_id, not stack two
      val p = exec.toString
      assert(raw"Exchange hashpartitioning\(user_id".r.findAllIn(p).size == 1,
        s"sessionize should shuffle by user exactly once:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qjoin_band_auto: the optimizer rule injects the bin equi-key") {
    // the naive abs-band condition would plan a per-nation nested loop;
    // BandJoinRewrite must turn it into a hash join on (nation, bin)
    val p = plan("qjoin_band_auto")
    assert(p.contains("__graft_bin"), s"BandJoinRewrite did not fire:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band join still nest-loops:\n$p")
  }

  test("qllm_srp_lsh: the within-bucket self-join is tiled (bucket + two tile keys)") {
    // the straggler-task pin (PERF.md round 9c): joining candidate pairs
    // on `bucket` ALONE puts a whole bucket's quadratic enumeration in
    // one task — a 6-minute straggler on the sf10 cluster fixture. The
    // tiled shape joins on (bucket, tile_a, tile_b) so the same pair set
    // spreads across ~g²/2 tasks. Pin the three-column equi-key so a
    // refactor back to the bucket-only join fails here, not in a bench.
    // string-match (the AQE wrapper hides its child from collect): the
    // pair join must key on [bucket…, __p…, __q…], not [bucket…] alone
    val p = plan("qllm_srp_lsh")
    assert(raw"(SortMergeJoin|ShuffledHashJoin) \[bucket#\d+L, __p#\d+, __q#\d+\]".r
      .findFirstIn(p).isDefined,
      s"the within-bucket pair join lost its tile keys:\n$p")
  }

  test("full inventory: zero CartesianProduct; BNLJ only at declared 1-row/cross sites") {
    // PERF.md's shuffle audit as a permanent gate, not prose: an
    // accidental non-equi join (the classic 100 TB killer) anywhere in
    // the 148-query inventory fails the suite. BNLJ is tolerated ONLY
    // where a side is a deliberate 1-row scalar frame (totals,
    // thresholds, query vectors) or the query IS a declared cross join.
    // qjoin_cross IS a declared cross join; every other entry cross-joins
    // a deliberate ≤ k-row scalar frame (query vector, grand totals, bin
    // bounds, sampled boundaries, vocab size, temperature weights) into a
    // projection — the broadcast side is metadata, not data
    val allowedBnlj = Set(
      "qjoin_cross", "qagg_histogram", "qagg_skew", "qwin_ntile_dist",
      "qllm_simsearch", "qllm_label_knn", "qllm_cos_neardup", "qllm_srp_lsh",
      "qllm_ivf", "qllm_tfidf", "qllm_vocab", "qllm_surprisal",
      "qllm_mix_temp", "qllm_ppl_bucket", "qllm_bigram_lm",
      // round 7: 1-row scalar frames again — distinct-user total
      // (freqpairs), node-count mass base (pagerank), triangle/wedge/edge
      // census rows (triangles)
      "qagg_freqpairs", "qgraph_pagerank", "qgraph_triangles",
      // kcore: per-round (n_nodes × n_edges) 1-row census rows
      "qgraph_kcore",
      // hardneg: ≤8-row broadcast hyperplane frame (the srp_lsh shape);
      // late: triangular self-join over ≤|buckets| per-bucket maxima
      // (the rankByBucket offsets pattern — metadata scale)
      "qllm_hardneg", "qstream_late",
      // dsir: 1-row (nr, nt, nv) totals frame into the vocab weight table
      "qllm_dsir",
      // pmi: two 1-row totals frames (N1 token count, N2 bigram count)
      // cross-joined into the collocation projection;
      // semdedup: the ≤8-row broadcast hyperplane frame inside
      // srpCandidates (the srp_lsh/hardneg shape)
      "qllm_pmi", "qllm_semdedup",
      // funnel: three 1-row step-count frames into the summary row
      "qagg_funnel",
      // pareto: globalRanks' 1-row bounds frame + the 1-row revenue total
      "qwin_pareto",
      // round 8: 1-row scalar frames again — distinct-user total (assoc),
      // order total (benford), max order date + sampled rank boundaries
      // (rfm), globalRanks' 1-row bounds frame (gini)
      "qagg_assoc", "qagg_benford", "qagg_rfm", "qwin_gini",
      // round 8b: 1-row scalar frames — (N, n_types, n_dows) contingency
      // totals (cramersv); the max-week scalar (churn)
      "qagg_cramersv", "qagg_churn",
      // round 9: srp_topk carries the same ≤planes-row broadcast
      // hyperplane frame as srp_lsh/hardneg
      "qllm_srp_topk",
      // round 11: zipf ranks via globalRanksSampled — its ≤buckets-row
      // broadcast boundary array is the same 1-row-class frame as vocab's;
      // dqaudit cross-joins its two 1-row distinct-count frames back into
      // the 1-row conditional-count frame (the Expand-×3 fix)
      "qllm_zipf", "qagg_dqaudit")
    val offenders = Registry.all.flatMap { q =>
      val p = q.build(spark, sfTiny).queryExecution.executedPlan.toString
      val cart = p.contains("CartesianProduct")
      val bnlj = p.contains("BroadcastNestedLoopJoin") && !allowedBnlj(q.name)
      if (cart) Some(s"${q.name}: CartesianProduct")
      else if (bnlj) Some(s"${q.name}: BroadcastNestedLoopJoin")
      else None
    }
    assert(offenders.isEmpty, s"unexpected non-equi join plans:\n${offenders.mkString("\n")}")
  }

  test("qgraph_jaccard: tiled wedge join — tile keys in the plan, output exact vs the naive self-join") {
    // round 10 tiled the wedge enumeration (the qllm_srp_lsh pattern):
    // hub degree grows with scale, and the naive join keyed on the shared
    // neighbor alone put a hub's whole C(deg,2) enumeration in one task
    // (3.9× cost on 3× data, sf10 → sf30). Two pins: the join must keep
    // its (center, tile_a, tile_b) key, and the tiled output must equal
    // the naive untiled recomputation row for row.
    import org.apache.spark.sql.functions._
    val p = plan("qgraph_jaccard")
    assert(raw"(SortMergeJoin|ShuffledHashJoin) \[n#\d+L, __p#\d+, __q#\d+\]".r
      .findFirstIn(p).isDefined,
      s"the wedge join lost its tile keys:\n$p")
    val got = Registry.byName("qgraph_jaccard").build(spark, sfTiny)
      .collect().toSeq.map(_.toString)
    // naive untiled recomputation of the same metric
    val small = graft.etl.Tables.part(spark, sfTiny)
      .filter(col("p_size") < 10).select(col("p_partkey"))
    val es = spark.read.schema("src BIGINT, dst BIGINT")
      .parquet(graft.etl.ExtractFixtures.copurchaseEdges(spark, sfTiny))
      .join(broadcast(small.withColumnRenamed("p_partkey", "src")), Seq("src"))
      .join(broadcast(small.withColumnRenamed("p_partkey", "dst")), Seq("dst"))
      .select(col("src"), col("dst"))
    val d = es.unionAll(es.select(col("dst").as("src"), col("src").as("dst")))
    val deg = d.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val naive = d.select(col("dst").as("a"), col("src").as("n1"))
      .join(d.select(col("src").as("n2"), col("dst").as("b")),
        col("n1") === col("n2") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= 3)
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("n_common"), col("deg_a"), col("deg_b"),
        (col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common")).cast("double")).as("jaccard"))
      .orderBy(col("n_common").desc, col("a"), col("b")).limit(100)
      .collect().toSeq.map(_.toString)
    assert(got == naive, "tiled wedge join diverged from the naive enumeration")
  }

  test("qwin_gapfill: segment form — one exchange, no join, local final sort") {
    // round 12 replaced the grid-explode + left-join + fill-window shape
    // (66 GB of sf30 spill; the window subtree ran twice under the range
    // sampler) with per-observation segments over ONE sized
    // repartitionByRange(user). The pins: no join of any kind (the dense
    // grid must never exist as a join input), exactly one shuffle
    // exchange (the range repartition — the closing orderBy must plan as
    // a LOCAL sort riding the range partitioning's ordering prefix), and
    // the lead window still partitioned (never global).
    val p = plan("qwin_gapfill")
    assert(raw"Join|CartesianProduct".r.findFirstIn(p).isEmpty,
      s"a join reappeared — the dense grid is a join input again:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected exactly 1 exchange (range repartition), got $exchanges:\n$p")
    assert(p.contains("rangepartitioning"),
      s"the one exchange is not the range repartition:\n$p")
  }

  test("qllm_boilerplate: pre-explode pair distinct and a broadcast df tail") {
    // round 12: the df count must read distinct (doc, gram) pairs off a
    // row-local array_distinct (no corpus-scale pair-distinct aggregate),
    // and the boiler set must join BROADCAST — Catalyst's fact-scale
    // static estimate for filter-over-aggregate otherwise plans a
    // sort-merge join that shuffles the whole occurrence stream by gram
    // (0.9 GB write + 6.3 GB sort spill at sf30) and strands the per-doc
    // count on gram-partitioned input.
    val p = plan("qllm_boilerplate")
    assert(raw"SortMergeJoin|ShuffledHashJoin".r.findFirstIn(p).isEmpty,
      s"the boiler join fell back to a shuffle join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected broadcast boiler + outer joins:\n$p")
  }

  test("qdate_busday: the fact join is shuffled-hash, not sort-merge") {
    // round 12: the join's only consumer is a 3-group aggregate, so an
    // SMJ's fact-side sort is pure spill (5.9 GB at sf30). The hint must
    // keep planning a ShuffledHashJoin.
    val p = plan("qdate_busday")
    assert(p.contains("ShuffledHashJoin"),
      s"busday join is not shuffled-hash:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the fact-side sort is back:\n$p")
  }

  test("full inventory: every static plan stays under the 16-exchange budget") {
    // the qagg_mad lesson (33-exchange static plan from un-materialized
    // subtree duplication) as a suite-wide gate: a future edit that drops
    // a localCheckpoint or fans a frame into N re-derived branches fails
    // here loudly instead of shipping ~10 stages of pure overhead. The
    // ceiling is a BUDGET, not a target — most declared plans sit far
    // under it (see qagg_mad's own <10 pin below). SHUFFLE exchanges
    // only: a BroadcastExchange of a 1-row/metadata frame is per-executor
    // work, not a stage boundary, and the broadcast-heavy scalar plans
    // legitimately carry many of them. Counted on the AQE-off static plan
    // so runtime reuse can't mask structural duplication; ReusedExchange
    // is structural reuse and doesn't count.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val over = Registry.all.flatMap { q =>
        val shuffles = q.build(spark, sfTiny).queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
        if (shuffles > 16) Some(s"${q.name}: $shuffles shuffle exchanges") else None
      }
      assert(over.isEmpty, s"static plans over the exchange budget:\n${over.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qagg_rfm: fused ranks — three bucket-partitioned windows, no customer-key join") {
    // round 9 fused the three globalRanksSampled passes (3 sample
    // subtrees + 3 join-backs on o_custkey) into one boundary pass and
    // three CHAINED per-bucket windows; this pins the fusion so a future
    // edit can't quietly reintroduce the 3-join shape (5.5 s of fixed
    // stage overhead at sf0.1)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.byName("qagg_rfm").build(spark, sfTiny)
        .queryExecution.executedPlan.toString
      // exactly three rank windows, each partitioned by its bucket column
      assert(raw"Window \[.*row_number".r.findAllIn(p).size == 3, p.take(2000))
      // 9 bucket-keyed exchanges: per metric ONE data-bearing window
      // shuffle plus two metadata-scale aggregates (per-bucket counts and
      // the ≤64-row triangular offsets) — anything beyond that means a
      // replayed subtree
      assert(raw"Exchange hashpartitioning\(__bk\d".r.findAllIn(p).size <= 9,
        "bucket-keyed exchange count grew — a rank subtree is replaying")
      // the fused shape has no shuffle or sort-merge join keyed on the
      // customer column — scores ride the same frame
      assert(!raw"SortMergeJoin \[o_custkey".r.findFirstIn(p).isDefined &&
        !raw"Exchange hashpartitioning\(o_custkey".r.findFirstIn(p).isDefined,
        "customer-key join-back reintroduced")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("adjBucketsFor: adjacency buckets grow with staged volume, floor 32, cap 256") {
    import graft.etl.ExtractFixtures.{adjBucketsFor, AdjBuckets}
    // test-scale graphs and everything through sf10 (~180 M doubled rows
    // at 6 M rows/bucket = 30 needed) stay at the 32-bucket floor — all
    // pre-round-12 fixture layouts and plan pins are unchanged there
    assert(adjBucketsFor(0) == AdjBuckets)
    assert(adjBucketsFor(1000) == AdjBuckets)
    assert(adjBucketsFor(180L * 1000 * 1000) == AdjBuckets)
    // sf30 (~540 M doubled rows → 90 needed) rounds up to whole 32-wide
    // scheduling waves: 96 buckets, ~5.6 M rows per task — the per-task
    // volume of the last measured-linear rung
    assert(adjBucketsFor(540L * 1000 * 1000) == 96)
    // the cap: one file per bucket keeps the write fan-out bounded
    assert(adjBucketsFor(100L * 1000 * 1000 * 1000) == 256)
    // multiples of the floor only — partial scheduling waves never appear
    assert((32L to 2000L).map(m => adjBucketsFor(m * 1000 * 1000))
      .forall(b => b % AdjBuckets == 0))
  }

  test("factBucketsFor: orders/lineitem buckets grow with scale, floor 8, cap 256") {
    import graft.etl.ExtractFixtures.{factBucketsFor, Buckets}
    // everything through sf60 (360 M lineitem rows / 45 M target = 8
    // needed) keeps the 8-bucket floor — the tracked ladder records and
    // the PlanSpec "8 out of 8" bucket-selection pin are unchanged there
    assert(factBucketsFor(0) == Buckets)
    assert(factBucketsFor(6L * 1000 * 1000) == Buckets)       // sf1
    assert(factBucketsFor(360L * 1000 * 1000) == Buckets)     // sf60
    // sf100 (~600 M rows → 14 needed) rounds up to 16: ~37.5 M rows per
    // write-task sort, inside the sf60-proven per-task envelope (the 8-
    // bucket layout put ~75 M wide rows through each sort and heap-OOM'd)
    assert(factBucketsFor(600L * 1000 * 1000) == 16)
    assert(factBucketsFor(100L * 1000 * 1000 * 1000) == 256)
    assert((1L to 2000L).map(m => factBucketsFor(m * 1000 * 1000))
      .forall(b => b % Buckets == 0))
  }

  test("qgraph_pagerank: iterations scan the bucketed adjacency table, no edge-scale heap block") {
    // Round 10 replaced the edge-scale MEMORY_AND_DISK_SER localCheckpoint
    // (which serialized to ~17 GB at sf30 and could not fit a 16 GB JVM —
    // PERF.md round 9e) with the staged sorted-bucketed adjacency TABLE
    // (ExtractFixtures.copurchaseAdjacency). Two pins: (1) each of the
    // three unrolled iterations reads the adjacency via a BUCKET-SELECTED
    // scan, so the edge side of the iteration join keeps its staged hash
    // layout; (2) the build creates ONLY node-scale persistent RDDs — deg
    // plus one rank vector per iteration boundary (the cut that stops the
    // exchange-free iteration body from fusing into one pool-exhausting
    // task pipeline; PERF.md round 10) — an edge-scale heap block
    // reappearing here is the sf30 failure mode coming back.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val qe = Registry.byName("qgraph_pagerank").build(spark, sfTiny).queryExecution
    val created = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
    try {
      val p = qe.executedPlan.toString
      val b = graft.etl.ExtractFixtures.AdjBuckets
      // the final iteration's edge join is in the static plan; earlier
      // iterations' bucketed scans ran eagerly at checkpoint time
      assert(s"SelectedBucketsCount: $b out of $b".r.findAllIn(p).nonEmpty,
        s"the iteration edge join lost its bucket-selected adjacency scan:\n$p")
      assert(created.size <= 4,
        s"pagerank build created ${created.size} persistent RDDs — only the " +
          s"node-scale deg + per-iteration rank checkpoints are allowed " +
          s"(an edge-scale heap block is the sf30 OOM failure mode)")
      val rows = created.values.map(r => r.count()).toSeq
      // mean degree ~115, so node-scale frames sit far below |E|; the
      // direction-doubled adjacency (2|E|) failing this bound is the
      // 17 GB-in-heap regression this test exists to catch
      val halfEdges = spark.table(
        graft.etl.ExtractFixtures.copurchaseAdjacency(spark, sfTiny)).count() / 2
      assert(rows.forall(_ <= halfEdges),
        s"a persistent RDD reaches edge scale (>$halfEdges rows): $rows " +
          "— edge-scale state is back in the heap")
    } finally created.values.foreach(_.unpersist(blocking = false))
  }

  test("staged adjacency scan declares its bucket sort order (legacy-conf contract)") {
    // SURVEY §4 design contract: qgraph_pagerank's zero-sort edge stream
    // DEPENDS on `spark.sql.legacy.bucketedTableScan.outputOrdering=true`
    // (set in all five session builders) PLUS the exactly-one-file-per-
    // bucket invariant the fixture writer guarantees. The fallback — a
    // per-task re-sort of the edge side every iteration — is a measured
    // 16 GB OOM at sf10 (PERF.md round 10). If a future Spark major drops
    // the legacy conf or stops honoring bucket sort metadata, the scan's
    // outputOrdering goes empty and this pin fails LOUDLY instead of the
    // suite silently re-sorting itself to death at scale.
    // A bare `spark.table(tbl)` won't do: DisableUnnecessaryBucketedScan
    // reverts an uninteresting read to a plain file scan (measured — the
    // bare scan's outputOrdering is empty). The pin runs the PAGERANK
    // SHAPE: a sort-merge join on src against a shuffled node-scale side,
    // where the bucket layout is load-bearing — and asserts the edge
    // side's scan declares its sort so the join plans WITHOUT a Sort over
    // the scan.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
    import org.apache.spark.sql.functions.{col, lit, sum}
    val tbl = graft.etl.ExtractFixtures.copurchaseAdjacency(spark, sfTiny)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val adj = spark.table(tbl)
      // node-scale side from range() so the only file-scan leaf in the
      // plan is the edge side — a Sort over a scan is then unambiguous
      val ranks = spark.range(0, 1000)
        .select(col("id").as("src"), lit(1.0).as("r"))
      val plan = adj.join(ranks, "src").groupBy(col("dst"))
        .agg(sum(col("r"))).queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, s"no file scan under:\n$plan")
      assert(scans.exists(s => s.outputOrdering.nonEmpty &&
          s.outputOrdering.head.children.exists(_.toString.contains("src"))),
        "bucketed adjacency scan lost its src sort metadata — the legacy " +
          "bucketedTableScan.outputOrdering contract is broken (every " +
          s"pagerank iteration would re-sort the edge side per task):\n$plan")
      // ...and the planner actually USES it: no Sort sits over the scan
      val sortsOverScan = plan.collect {
        case srt: SortExec
          if srt.collectLeaves().exists(_.isInstanceOf[FileSourceScanExec]) => srt
      }
      assert(sortsOverScan.isEmpty,
        s"the edge side re-sorts despite the bucket sort metadata:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("qagg_mad: checkpointed histograms keep the static plan under 10 exchanges") {
    // the median/MAD/outlier branches all re-read the two value
    // histograms; without materialization the static plan duplicated the
    // whole subtree per branch (33 Exchange nodes, ~10 stages of pure
    // overhead). The checkpoints make reuse structural.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.byName("qagg_mad").build(spark, sfTiny)
        .queryExecution.executedPlan.toString
      val exchanges = raw"(?<!Reused)Exchange".r.findAllIn(p).size
      assert(exchanges < 10, s"$exchanges exchanges in qagg_mad plan:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("z-order layout actually skips row groups for a 2-D box predicate") {
    // the claim behind qsort_zorder: sorting by the Morton key clusters
    // BOTH coordinates into every file, so parquet min/max stats prune a
    // 2-D box down to the few files whose z-range intersects it — where a
    // single-column sort only ever prunes on that one column. Measured
    // here off the scan's actual output rows (post row-group pruning),
    // not asserted in prose: 256×256 grid, 64 one-row-group files per
    // layout, box = [0,31]² (1/64 of the space).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    try {
      val grid = spark.range(65536L).select(
        (col("id") % 256).as("gx"), (col("id") / 256).cast("long").as("gy"))
      // the OPTIMIZE ZORDER BY layout: z-ranges per file, sorted within
      grid.withColumn("z", graft.api.Graft.zorderKey(col("gx"), col("gy"), bits = 8))
        .repartitionByRange(64, col("z")).sortWithinPartitions(col("z")).drop("z")
        .write.mode("overwrite").parquet(s"$dir/zorder")
      grid.repartitionByRange(64, col("gx")).sortWithinPartitions(col("gx"))
        .write.mode("overwrite").parquet(s"$dir/linear")
      def scannedRows(path: String): Long = {
        val df = spark.read.parquet(path)
          .filter(col("gx").between(0, 31) && col("gy").between(0, 31))
        assert(df.count() == 1024) // both layouts return the same box
        df.collect()
        val scan = df.queryExecution.executedPlan.collectFirst {
          case s: FileSourceScanExec => s
        }.getOrElse(fail("no FileSourceScanExec"))
        scan.metrics("numOutputRows").value
      }
      val zRows = scannedRows(s"$dir/zorder")
      val linRows = scannedRows(s"$dir/linear")
      // z-layout: the box is one contiguous z-interval (z 0..1023) → only
      // the few sampled-boundary files overlapping it survive stats
      // pruning; gx-layout: gy prunes nothing, so every file spanning
      // gx∈[0,31] is read. Bounds are RELATIVE with headroom: absolute
      // row counts drift with parquet row-group flush boundaries (the
      // writer flushes early under suite-wide memory pressure — observed
      // 4198 vs 4096 only when the full test run preceded this suite),
      // but the z-vs-linear skipping RATIO is the property under test.
      assert(zRows <= 6553, // ≤10% of the 65536-row table for a 1/64 box
        s"z-ordered scan read $zRows rows (no skipping?)")
      assert(linRows >= 4096, s"linear layout unexpectedly pruned to $linRows rows")
      assert(zRows * 3 <= linRows * 2, // ≥1.5× fewer rows than the linear layout
        s"z-order gave no row-group skipping advantage: z=$zRows linear=$linRows")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("qllm_pack: the pack window partitions by (source, shard), not source alone") {
    // a per-source pack stream funnels a 100 TB single-source corpus
    // through one task; the shard key must be in every window's
    // partition spec so parallelism scales with the data
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Registry.byName("qllm_pack").build(spark, sfTiny)
        .queryExecution.executedPlan
      val windows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"no window in qllm_pack plan:\n$exec")
      windows.foreach { w =>
        val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
        assert(keys == Set("source", "shard"),
          s"pack window partitions by $keys, not (source, shard):\n$exec")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qstream_join: the interval join keeps its equi-key (no nested loop)") {
    // the range condition must ride as a residual on the user_id equi-join;
    // losing the equi-key would nest-loop every user pair
    val p = plan("qstream_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join lost its equi-key:\n$p")
  }

  test("qllm_surprisal: the unigram table joins broadcast, not shuffled") {
    // the vocab is metadata-scale; shuffling the exploded corpus against it
    // would be the 100 TB mistake. (The 1-row total crossJoin is expected
    // to plan as a broadcast nested loop — that one is intentional.)
    val p = plan("qllm_surprisal")
    assert(raw"BroadcastHashJoin \[term".r.findFirstIn(p).isDefined,
      s"unigram join not broadcast on term:\n$p")
  }

  test("qllm_vocab: zero unpartitioned windows; the sample scan is constant-bucketed") {
    // globalRanksSampled runs ONE deliberately single-partition cumulative
    // window — over the hash-sample's DISTINCT values (≤ |sample|, the
    // same budget class as the triangular offsets join), never over the
    // vocabulary itself. The per-bucket rank window must stay partitioned.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Registry.byName("qllm_vocab").build(spark, sfTiny)
        .queryExecution.executedPlan
      val windows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      // the sample-cum window is single-partition BY DESIGN (its input is
      // the hash-sample's distinct values, metadata-scale) but declares a
      // constant-valued partition key (xxhash64 & 0 — non-foldable, so
      // EliminateWindowPartitions can't strip it), so zero windows are
      // UNpartitioned — the WindowExec warning stays reserved for real
      // mistakes
      val global = windows.filter(_.partitionSpec.isEmpty)
      assert(global.isEmpty, s"unpartitioned window leaked:\n${global.mkString("\n")}")
      assert(windows.exists(
        _.partitionSpec.flatMap(_.references).exists(_.name == "__bucket")),
        "per-bucket rank window missing")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qllm_vocab: checkpointed term counts keep the static plan small (structural reuse)") {
    // the corpus-scale explode → union → groupBy subtree feeds the
    // boundary sample, the per-bucket counts and the final rank join;
    // before the localCheckpoint the static plan replayed it per consumer
    // (runtime ReusedExchange hid the cost but the stage graph carried
    // it). With the (term, cnt) frame materialized, the remaining
    // exchanges belong to the rank machinery alone.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.byName("qllm_vocab").build(spark, sfTiny)
        .queryExecution.executedPlan.toString
      val exchanges = raw"(?<!Reused)Exchange".r.findAllIn(p).size
      // 12 = the rank machinery alone (sample groupBy + constant-bucket
      // window, bucket counts, per-bucket rank window, final sort, and
      // their partial/final pairs); before the checkpoint the corpus
      // subtree's exchanges appeared per consumer on top of these
      assert(exchanges < 13, s"$exchanges exchanges in qllm_vocab plan:\n$p")
      assert(p.contains("Scan ExistingRDD"), // the checkpointed counts frame
        s"expected the checkpointed (term, cnt) frame in the plan:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("AQE skew-join split fires on an induced-skew shuffle join (the engine lever beside qjoin_salted)") {
    // qjoin_salted demonstrates MANUAL skew relief (explicit salt shards);
    // this pins the engine's own lever so the choice between them is
    // documented by a passing plan, not prose: when one join key owns
    // ~90% of the rows, AQE must split the hot partition at runtime
    // (AQEShuffleRead marked `skewed=true`) instead of leaving one
    // straggler task. Thresholds are lowered to make a test-sized hot
    // partition (~4 MB) count as skewed; the detection RULE is the
    // production one.
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val prevConf = Seq(
      "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.coalescePartitions.enabled" ->
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled"))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // 200k rows, ~90% on key 0 — the planted hot key; dim side uniform
      val fact = spark.range(200000)
        .select(when(pmod(col("id"), lit(10)) < 9, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val dim = spark.range(64).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = fact.join(dim, "k")
      // execute THIS frame (count() would spawn its own query execution,
      // leaving joined's adaptive plan unexecuted and skew-unmarked)
      assert(joined.collect().length == 180000 + 6) // key 0 ×180k + 6 singleton keys
      val finalPlan = joined.queryExecution.executedPlan.toString
      // the final adaptive plan marks both the reader and the join:
      // `AQEShuffleRead skewed` above a `SortMergeJoin(skew=true)`
      assert(finalPlan.contains("AQEShuffleRead skewed")
          && finalPlan.contains("skew=true"),
        s"AQE did not mark the hot partition skewed:\n$finalPlan")
    } finally prevConf.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("qjoin_nullsafe: <=> stays a hashable equi-join key, never a nested loop") {
    val p = plan("qjoin_nullsafe")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"null-safe join degenerated to a loop join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"expected an equi-join:\n$p")
  }

  test("qllm_mix_temp: threshold table broadcasts; the per-doc side never shuffles") {
    val p = plan("qllm_mix_temp")
    assert(p.contains("BroadcastHashJoin"),
      s"threshold join should broadcast the |sources|-row table:\n$p")
    // the per-doc keep-filter must join broadcast-side only: the full
    // documents scan feeding the bucket filter must not hit an exchange
    // before its partial aggregate (rejected docs die at the scan)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"per-doc side of the mix should never shuffle-join:\n$p")
  }

  test("qagg_skew: top-k heavy hitters plan as TakeOrdered, never a global window") {
    // the PERF.md claim: per-partition top-k + k-row merge survives a
    // billion-key aggregate; a global row_number window would not
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Registry.byName("qagg_skew").build(spark, sfTiny)
        .queryExecution.executedPlan
      assert(exec.toString.contains("TakeOrderedAndProject"),
        s"expected TakeOrderedAndProject:\n$exec")
      val windows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"unexpected window in the top-k plan:\n$exec")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qwin_ema: ten lags and the row counter share ONE window over one sort") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Registry.byName("qwin_ema").build(spark, sfTiny)
        .queryExecution.executedPlan
      val windows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.size == 1, s"expected one shared WindowExec:\n$exec")
      assert(windows.head.partitionSpec.nonEmpty)
      assert(raw"Exchange hashpartitioning\(user_id".r
        .findAllIn(exec.toString).size == 1,
        s"ema should shuffle by user exactly once:\n$exec")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qwin_anomaly: one partitioned window computes all three moments; no value sort") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Registry.byName("qwin_anomaly").build(spark, sfTiny)
        .queryExecution.executedPlan
      val windows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.size == 1, s"expected one moments WindowExec:\n$exec")
      assert(windows.head.partitionSpec.nonEmpty)
      // whole-partition frame: the window itself imposes no value ordering
      // (Spark still clusters rows by the partition key, nothing more)
      assert(windows.head.orderSpec.isEmpty,
        s"anomaly window should not sort values:\n${windows.head}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qagg_mad / qllm_ppl_bucket: cumulative windows run over VALUE-aggregated frames") {
    // both medians (mad) and the tercile cut (ppl_bucket) must sort distinct
    // values, never raw rows — the domain-bounding that makes positional
    // stats survive 100 TB (same shape the theta-range test pins)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("qagg_mad", "qllm_ppl_bucket", "qwin_dist", "qwin_rank")) {
        val exec = Registry.byName(q).build(spark, sfTiny).queryExecution.executedPlan
        val windows = exec.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
        assert(windows.nonEmpty, s"$q: expected cumulative-count windows")
        windows.foreach { w =>
          assert(w.partitionSpec.nonEmpty, s"$q: global (single-partition) window:\n$exec")
          // a ReusedExchange child is the aggregated frame computed once and
          // shared across branches; an RDD scan is a localCheckpoint of
          // that same histogram (qagg_mad) — same domain bounding,
          // cheaper plan either way
          assert(w.collectFirst {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
            case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
            case c: org.apache.spark.sql.execution.RDDScanExec => c
          }.nonEmpty, s"$q: window input not value-aggregated:\n$exec")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qllm_pii: scrub pass is wholly map-side — only the output sort exchanges") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.byName("qllm_pii").build(spark, sfTiny)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"pii scrub should never hash-shuffle (derive/match/replace are per-row):\n$p")
      assert(raw"Exchange rangepartitioning".r.findAllIn(p).size == 1,
        s"expected exactly the output-sort exchange:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qstream_enrich: the user->segment dim joins broadcast (no fact-side shuffle for the join)") {
    val p = plan("qstream_enrich")
    assert(raw"BroadcastHashJoin \[user_id".r.findFirstIn(p).isDefined,
      s"enrichment dim not broadcast on user_id:\n$p")
  }

  test("qllm_boilerplate: gram shuffles carry hashed longs and the join stays equi") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.byName("qllm_boilerplate").build(spark, sfTiny)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"boilerplate join lost its gram equi-key:\n$p")
      // the occurrence-vs-boilerplate join shuffles on the xxhash64 long
      assert(raw"Exchange hashpartitioning\(__g#".r.findFirstIn(p).isDefined,
        s"expected a shuffle keyed on the hashed gram:\n$p")
      // text never enters an exchange: the only string column is pruned
      // before the first shuffle
      assert(!raw"Exchange [^\n]*\btext\b".r.findFirstIn(p).isDefined,
        s"document text entered a shuffle:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qjoin_interval: the overlap self-join plans as an EQUI-join (bin in the keys)") {
    // both sides are intervals: without the time-bin replication the only
    // equi-key is the customer, and the overlap residual degenerates to a
    // per-customer nested loop at scale. The bin must survive into the
    // join keys and no nested-loop / cartesian node may appear.
    val p = plan("qjoin_interval")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join fell back to a nested loop — binning was optimized away:\n$p")
    assert(raw"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[[^\]]*_bin".r
      .findFirstIn(p).isDefined,
      s"bin column not in the equi-join keys:\n$p")
  }

  test("qagg_ohlc: the OHLC resample is one partial-aggregable groupBy — no window sort") {
    // open/close are min_by/max_by over a unique order key, so the whole
    // bar folds map-side: the plan must carry partial aggregation and NO
    // WindowExec (the window form would sort every raw row per bar).
    val exec = Registry.byName("qagg_ohlc").build(spark, sfTiny)
      .queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"OHLC resample planned a window sort:\n$p")
    assert(raw"partial_min_by|HashAggregate\([^\n]*partial".r.findFirstIn(p).isDefined
      || p.contains("partial"), s"no map-side partial aggregation in:\n$p")
  }
}
