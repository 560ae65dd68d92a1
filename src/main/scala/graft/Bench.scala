package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (SURVEY §6). Prints ONE compact JSON line the driver
  * parses from the tail of the run's output — the line must stay well under
  * the driver's 2000-char tail window (round 1 proved a 73-entry per-query
  * map overflows it and fails to parse, BENCH_r01.json `parsed: null`;
  * BENCH_r02–05 confirm the window is exactly 2000 chars), so it carries
  * the suite total plus an adaptively-sized slowest-queries prefix
  * (24 entries when the budget allows, fewer once the always-on
  * isolated_detail map claims its bytes) and the 12-entry
  * isolated re-run map. The FULL
  * per-query map — which the round-5 verdict needs for cross-round
  * regression diffs — goes to `bench_full_latest.json` at the repo root,
  * a TRACKED file committed with each round, plus `target/bench_full.json`
  * for local runs that shouldn't dirty the tree.
  */
object Bench {

  /** Queries whose `.count()` plan drops operators the real execution pays
    * (Catalyst prunes joins/windows/generates that cannot change the row
    * count — the qllm_semdedup artifact, PERF.md round 9c: 0.2 s benched
    * vs full pair-enumeration cost in Verify). The suite keeps the
    * `.count()` metric for cross-round continuity, and re-benches exactly
    * this set through a MATERIALIZING noop sink (`format("noop")` — every
    * row produced, nothing written) into the `materialized` map, so the
    * honest number is in the same JSON. Membership is pinned by PlanSpec's
    * static sweep ("count-prunable queries are exactly the pinned set"): a
    * new query whose counted plan drops operators self-identifies there. */
  /** Queries whose count() plan prunes an expensive PROJECTION rather
    * than a heavy operator — invisible to PlanSpec's node-class sweep
    * (it censuses Join/Generate/Window/Aggregate/Expand and distinct
    * aggregate functions; a Project carrying per-row native compute has
    * none of those), but just as under-measured by a count() consumer.
    * qllm_repetition's round-12 rewrite is the type specimen: its whole
    * cost is the gram_run_stats projection in one narrow scan, and
    * count() strips the projected columns down to the size(w) filter.
    * qwin_gapfill joined the set with its round-12 segment rewrite: the
    * lead-window and sequence-explode DRIVE cardinality so the node
    * census sees them under count(), but the dominant costs — the
    * closing grid-scale local sort and the decStr rendering — are
    * exactly what count() elides. qllm_winnow (rolling-hash arrays) and
    * qproject_expr (exact-decimal arithmetic rendered by decStr) have
    * qllm_repetition's shape: one narrow scan whose projected columns
    * count() drops.
    * Members are consumed through the noop sink like the swept set;
    * PlanSpec pins that this set stays DISJOINT from the sweep (a member
    * the sweep starts seeing again belongs in the main list). Declared
    * BEFORE countPrunable — object vals initialize in declaration order,
    * and countPrunable concatenates this set. */
  val projectionPrunable: Set[String] =
    Set("qllm_repetition", "qllm_winnow", "qproject_expr", "qwin_gapfill")

  val countPrunable: Set[String] = Set(
    // every window query: a Window never changes cardinality, so count()
    // elides the window compute itself — the whole family under-measured
    // (qwin_gapfill moved to projectionPrunable in round 12: its segment
    // rewrite's window/explode drive cardinality, so the node census sees
    // them — the pruned cost is the closing sort + rendering projection)
    "qwin_bollinger", "qwin_cusum", "qwin_dist", "qwin_drawdown", "qwin_ema",
    "qwin_first_last", "qwin_gini", "qwin_hampel",
    "qwin_lag_lead", "qwin_median", "qwin_ntile_dist", "qwin_ordergap",
    // (qwin_pareto LEFT this set in round 12: its per-customer revenue
    // frame is now eagerly checkpointed — materialized whatever the sink —
    // so count() no longer prunes the aggregate; suite slots from here on
    // pay the honest pipeline, the rolling_dau precedent)
    "qwin_range_frame", "qwin_rank", "qwin_rsi",
    "qwin_running", "qwin_scd2", "qwin_slope", "qwin_smacross", "qwin_vwap",
    // row-preserving joins / enrichments the count plan drops
    "qjoin_left", "qjoin_right", "qjoin_range_binned", "qjoin_spatial_grid",
    "qjoin_theta_range", "qstream_join", "qstream_late", "qstream_funnel",
    // aggregate/analysis pipelines with prunable upstream ops (dqaudit:
    // column pruning strips its countDistinct functions under count(),
    // leaving metadata-count scans — 0.33 s counted vs full-scan noop).
    // qagg_assoc LEFT this set in round 15: the bitmask rewrite eagerly
    // checkpoints the users-scale aggregate at build time, so the fact
    // pipeline is materialized whatever the sink and count() prunes
    // nothing (the qwin_pareto round-12 precedent) — its suite slots from
    // round 15 on pay the honest pipeline and are comparable to the old
    // `materialized` band, not the old count() slots.
    "qagg_abtest", "qagg_distinct", "qagg_dqaudit",
    "qagg_entropy", "qagg_fdaudit", "qagg_funnel", "qagg_hllmerge",
    "qagg_incremental", "qagg_mad", "qagg_mom", "qagg_percentile",
    "qagg_pivot", "qagg_rfm", "qagg_seasonality", "qagg_skew",
    "qagg_wquantile", "qgraph_triangles",
    // round 11: the sweep's distinct-function census (not just node
    // classes) caught five more whose countDistinct stage count() prunes.
    // qagg_rolling_dau LEFT this set in round 12: its rewrite has no
    // distinct aggregate (pair-keyed min + conditional sum) and its
    // count() plan keeps every operator (the dau > 0 filter needs the
    // aggregates), so its round-12+ suite slots are directly comparable
    // to the round-11 `materialized`/noop-isolate bands, not to the
    // pruned pre-round-11 count() slots
    "qagg_freqpairs", "qgraph_kcore",
    "qllm_textstats", "qscan_metadata",
    // LLM-pipeline shapes (incl. the original qllm_semdedup artifact).
    // qllm_bigram_lm LEFT this set in round 12: with both model joins
    // broadcast (inner, cardinality-bearing) its count() plan keeps
    // every operator, so its suite slots are directly comparable to
    // noop bands from here on (the qagg_rolling_dau precedent).
    "qllm_bleu", "qllm_boilerplate", "qllm_decontam",
    "qllm_dedup_e2e", "qllm_dsir", "qllm_dupfrac", "qllm_incr_dedup",
    "qllm_lexdiv", "qllm_mix", "qllm_mix_temp", "qllm_novelty", "qllm_pack",
    "qllm_semdedup", "qllm_seqs_topn",
    "qllm_source_profile", "qllm_surprisal", "qllm_vocab", "qllm_zipf") ++
    projectionPrunable

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    // Warm up the executor pool, codegen pipeline AND the parquet reader
    // stack so one-time session cost is not attributed to whichever query
    // the Map yields first. Every fixture table is opened once: the first
    // scan of a cold file (footer reads, column-reader setup, dictionary
    // load) costs multiples of the steady-state scan, and which query pays
    // it is map-order luck (measured: the first documents-pipeline query
    // absorbed ~3 s that re-running it showed was not its own cost).
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.etl.Tables.schemas.keys.foreach { t =>
      (if (t == "events") graft.etl.Tables.events(spark, sfDir)
       else graft.etl.Tables.table(spark, sfDir, t)).count()
    }
    // Pre-warm the documents PIPELINE, not just the scan: the first query
    // through tokenization/shingling absorbs ~2.5 s of codegen + string-expr
    // warmup that a bare count() doesn't trigger (round-5 verdict item 7 —
    // qdedup_clusters, alphabetically first through that pipeline, was
    // charged 4.17 s of which 2.5 s was warmup). A tiny tokenize+hash+agg
    // over a 500-doc slice compiles the same expression shapes once,
    // un-attributed, so per-query numbers diff cleanly across rounds.
    graft.etl.Tables.documents(spark, sfDir).limit(500)
      .selectExpr("doc_id", "explode(split(lower(text), '[^a-z]+')) AS w")
      .filter("w <> ''")
      .selectExpr("hash(w) AS h", "md5(w) AS m", "xxhash64(w) AS x")
      .selectExpr("count(distinct h) AS c", "count(m)", "count(x)")
      .collect()
    // ... and the shingle → posting-list → self-join shapes the dedup
    // pipeline compiles (qdedup_clusters otherwise pays them as the
    // alphabetically-first query through that path): a 50-doc slice walks
    // shingleHashes + jaccardCandidates once, un-attributed.
    val warmShingles = graft.api.Graft.shingleHashes(
      graft.etl.Tables.documents(spark, sfDir).limit(50),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("h64").as("sh"))
    graft.api.Graft.jaccardCandidates(warmShingles).count()
    // Materialize the extract/load fixtures (write-once) up front: they
    // are one-time setup, not query cost — without this a fresh
    // environment charges qscan_csv/qscan_json/qsink_partitioned ~2.7 s
    // of fixture writing on their first (= the measured) run.
    // SPARK_GRAFT_SKIP_STAGING=1 skips the block for disk-bound rung
    // isolates of extract-free queries (qllm_srp_lsh at sf100 needs the
    // embeddings fixture and ~60 GB of shuffle headroom; materializing
    // the ~40 GB staged extract first would eat exactly that headroom
    // for tables the query never opens). Deliberately fail-loud: if an
    // isolated query DOES read a missing extract it errors and is
    // counted in "errors"/"failed" — a skipped staging can never
    // silently produce a fast number for a query that needed it.
    if (!sys.env.get("SPARK_GRAFT_SKIP_STAGING").exists(_ == "1")) {
    graft.etl.ExtractFixtures.customerCsv(spark, sfDir)
    graft.etl.ExtractFixtures.documentsJson(spark, sfDir)
    graft.etl.ExtractFixtures.ordersByYear(spark, sfDir)
    graft.etl.ExtractFixtures.ordersEvolved(spark, sfDir)
    graft.etl.ExtractFixtures.supplierOrc(spark, sfDir)
    graft.etl.ExtractFixtures.documentsText(spark, sfDir)
    graft.etl.ExtractFixtures.copurchaseEdges(spark, sfDir)
    graft.etl.ExtractFixtures.copurchaseAdjacency(spark, sfDir)
    graft.etl.ExtractFixtures.mediaBmp(spark, sfDir)
    graft.etl.ExtractFixtures.eventsDailyCsv(spark, sfDir)
    graft.etl.ExtractFixtures.eventsDailyJson(spark, sfDir)
    // the COMPACT year-partitioned layout was the one staged fixture NOT
    // in this list — on a fresh sfDir its one-time shuffle+write (orders
    // repartitioned by year) landed in qscan_metadata's slot (18.3 s
    // attributed vs 0.4 s isolated at sf30, round-10 verdict task 4)
    graft.etl.ExtractFixtures.ordersByYearCompact(spark, sfDir)
    // the sorted-bucketed orders/lineitem layout is the largest staged
    // fixture — on a fresh sfDir its one-time write was being attributed
    // to qjoin_bucketed (measured 13.9 s at sf1, ~20× its steady-state)
    graft.etl.ExtractFixtures.bucketedOrdersLineitem(spark, sfDir)
    }
    // A failed query must NEVER read as a fast one: failures are counted
    // and named in the JSON line so the driver's bench doubles as a smoke
    // gate — a regression that breaks a query shows up as "errors":N, not
    // as an improved total (round-3 verdict item 3).
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Sorted by name: hash-Map iteration order reshuffles whenever a key is
    // added, silently moving which query runs first per pipeline and
    // absorbs its codegen warmup — sorted order keeps per-query numbers
    // comparable across rounds (the round-5 lesson: qllm_ivf "regressed"
    // 1.3→3.0 s purely from map-order churn).
    // Time one query, then drop only the localCheckpoint blocks IT created:
    // the iterative operators (dedup clusters, graph family) checkpoint
    // per round, and 175 queries of leaked MEMORY_AND_DISK blocks in one
    // 8 GiB JVM turn into eviction + GC storms that charge the queries
    // running LATE in the alphabet (measured: qgraph_triangles 32 s
    // mid-suite vs 3-5 s in isolation, same code and data). Unpersist is
    // after the clock stops — cleanup is harness cost, not query cost —
    // and is scoped by diffing the persistent-RDD id set before/after, so
    // a future suite-wide cache (or anything another thread pinned)
    // survives, and no localCheckpoint'd RDD a later query still holds is
    // ever made unrecomputable by the harness.
    // Process-CPU seconds alongside wall (JMX): the graph family's sf10
    // wall-clock isolates spread 68.8–108.3 s across round-9 sessions on
    // UNCHANGED code (box-phase noise) — CPU seconds are immune to host
    // contention stalls, so a real 30% regression is visible against the
    // CPU number even when the wall band would hide it.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // Driver-JVM GC seconds alongside wall/CPU (round-13 verdict task 3's
    // instrument): the sf60 in-suite-vs-isolate premium was adjudicated to
    // first-execution warmup — post-suite SAME-JVM re-runs landed at or
    // BELOW the fresh-JVM clean isolates (srp_lsh 309.2 vs 327.6, assoc
    // 19.6 vs 25.1) despite 221 queries of heap history, which falsifies
    // cache/unpersist hygiene as the mechanism — and the per-run GC share
    // makes that attribution visible in every future record instead of
    // needing a dedicated probe session (local mode: executors live in
    // this JVM, so collector time here IS the run's GC bill).
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis: Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
              consume: org.apache.spark.sql.DataFrame => Unit = _.count())
        : (Double, Double, Double) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val g0 = gcMillis
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      try { consume(fn(spark, sfDir)) } catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = (osBean.getProcessCpuTime - c0) / 1e9
      val dg = (gcMillis - g0) / 1e3
      // BLOCKING unpersist (round-14 verdict task 3): with blocking=false
      // the removal work (block-manager bookkeeping, disk deletes) proceeds
      // asynchronously WHILE THE NEXT QUERY'S CLOCK RUNS, so one query's
      // cleanup lands in its successor's slot — the exact cross-query
      // interference signature the driver's r14 record showed (untouched
      // qllm_hardneg 8.3× its isolate in-suite). The wait happens here,
      // after the clock stopped: harness cost, never query cost.
      spark.sparkContext.getPersistentRDDs.foreach { case (rddId, rdd) =>
        if (!before.contains(rddId)) rdd.unpersist(blocking = true)
      }
      (dt, dc, dg)
    }
    // Broadcast/shuffle hygiene between measurement phases (round-14
    // verdict task 3): Spark's ContextCleaner is WEAK-REFERENCE driven —
    // broadcast blocks and shuffle files from finished queries are only
    // released after a JVM GC collects their referents, and a 16 GB heap
    // running 221 small queries may never GC, so hundreds of queries of
    // torrent-broadcast blocks and shuffle files pile into the shared
    // block manager and charge whoever runs late (driver r14: pagerank
    // auto-isolate 9.1 s vs 3.2 s clean-JVM, qagg_fdaudit materialized
    // 6.5 s vs ≤1.7 — none of it reproducible in a fresh JVM). A periodic
    // explicit GC drives the cleaner exactly like its own
    // spark.cleaner.periodicGC.interval (default 30 min — never inside a
    // 4-minute suite). Always OUTSIDE the timed region: this is the
    // harness keeping its instrument clean, not query work.
    var sinceGc = 0
    def cleanerGc(): Unit = { System.gc(); sinceGc = 0 }
    def maybeCleanerGc(): Unit = { sinceGc += 1; if (sinceGc >= 24) cleanerGc() }
    // Isolation pass (round-7 verdict item 3): suite-attributed times
    // absorb whatever warmup/box noise lands on a query's slot, so every
    // per-query perf claim used to need a manual re-run. Default runs:
    // full suite, then the 12 slowest re-run warm — `queries` stays the
    // attributed map (comparable with prior rounds), `isolated` is the
    // steady-state cost. With an explicit `--isolate k1,k2,...` the full
    // suite is SKIPPED: each named query runs twice post-warmup in an
    // otherwise-clean JVM and the second run is reported — the clean
    // instrument for single-query claims (the end-of-suite JVM carries
    // 188 queries of heap history, which the round-8 sf1 run showed can
    // inflate a post-suite re-run several-fold).
    val explicitIsolate: Option[Seq[String]] = args.toSeq match {
      case Seq("--isolate", keys, _*) =>
        Some(keys.split(",").toSeq.filter(SparkEntry.queries.contains))
      case _ => None
    }
    // SPARK_GRAFT_SKIP_KEYS: comma-listed queries excluded from a SUITE
    // run (and its materialized/auto-isolate passes), recorded in the
    // JSON as "skipped" so the record self-declares its reduced surface —
    // a record with a skip list must never diff as a full-suite total.
    // Exists for disk-contract-bound rungs: at sf100 on this box the one
    // output-quadratic-by-contract key's shuffle spill exceeds the free
    // disk left beside the staged extract (PERF.md round-13 addendum
    // sizes the envelope), so the rung's suite record runs without it and
    // the key gets its own cleared-disk isolate record instead. A name
    // not in the registry fails loudly before any timed work — a typo
    // must not silently skip nothing.
    val skipKeys: Set[String] = sys.env.get("SPARK_GRAFT_SKIP_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    // SPARK_GRAFT_SUITE_ONLY=1: run the suite pass alone — no auto-isolate
    // re-runs, no materializing re-bench. For wall-clock-bound rungs
    // (sf100: the instrument passes re-execute ~80 of the heaviest plans
    // and would double a multi-hour record). Self-declaring: the JSON
    // simply carries no isolated/materialized maps, so a suite-only record
    // can never be mistaken for one with instrument passes. The suite
    // `queries` map — the cross-round comparison surface — is complete.
    val suiteOnly = sys.env.get("SPARK_GRAFT_SUITE_ONLY").exists(_ == "1")
    skipKeys.filterNot(SparkEntry.queries.contains).foreach { k =>
      sys.error(s"SPARK_GRAFT_SKIP_KEYS names unknown query '$k'")
    }
    // per-suite-slot GC seconds, FILE record only (the warmup-vs-hygiene
    // attribution instrument — see the gcMillis note above)
    val suiteGc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = explicitIsolate match {
      case Some(_) => Seq.empty
      case None => SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot(q => skipKeys.contains(q._1)).map { case (name, fn) =>
          val (w, _, g) = timed(name, fn)
          suiteGc(name) = g
          maybeCleanerGc()
          name -> w
        }
    }
    // 12 auto-isolated entries (round-8 verdict item 5: wide enough that a
    // cross-round like-for-like table of the slow set needs no manual runs)
    val isolateKeys: Seq[String] = explicitIsolate.getOrElse(
      if (suiteOnly) Seq.empty
      else results.filterNot(r => failed.contains(r._1)).sortBy(-_._2).take(12).map(_._1))
    // A failed isolate must never read as a fast one: the interrupted sf10
    // run recorded 0.03-s "isolated" entries for queries whose re-run died
    // with the SparkContext (each count() failed instantly), which would
    // diff as a 100× improvement against any prior round. Record an
    // isolated time only when BOTH the warm and every measured run succeed
    // (and skip the measured runs entirely when the warm already failed —
    // a reproducibly failing query must not pay extra timed executions),
    // and stop isolating outright once the context is gone — every
    // subsequent entry would be the same instant failure.
    //
    // Explicit --isolate runs take BEST-OF-3 in one JVM (plus per-run wall
    // and CPU detail in the file JSON): the graph family's single-run wall
    // numbers carry a ±50% box-phase band that hid a would-be regression
    // signal (round-9 verdict task 2); min-of-3 wall plus CPU seconds is
    // the de-noised instrument. Auto-isolation after a full suite stays
    // single-run — it is a breadth instrument, and tripling it would add
    // minutes of suite cost at sf10.
    // SPARK_GRAFT_ISOLATE_RUNS widens the series for steady-state hunts:
    // the srp_lsh A/B showed a pair-quadratic query's first runs carry
    // JIT/GC ramp (sf30 CPU 7066 → 3173 → 2139 s across three runs of
    // IDENTICAL code) — a best-of-3 of that series is not yet converged.
    // Parsed defensively (round-12 advice): a malformed value must fail
    // loudly before any timed work, and a <= 0 value must not silently
    // produce an empty timing series.
    val isolateRuns =
      if (explicitIsolate.isDefined)
        sys.env.get("SPARK_GRAFT_ISOLATE_RUNS").map { s =>
          val n = s.trim.toIntOption.getOrElse(
            sys.error(s"SPARK_GRAFT_ISOLATE_RUNS must be an integer, got '$s'"))
          // <= 0 fails as loudly as a malformed string (round-13 advice:
          // the old max(1, n) clamp turned a typo like -3 into a silent
          // 1-sample series, gutting the best-of-3 instrument)
          if (n <= 0)
            sys.error(s"SPARK_GRAFT_ISOLATE_RUNS must be >= 1, got $n")
          n
        }.getOrElse(3)
      else 1
    // Explicit --isolate of a COUNT-PRUNABLE query consumes through the
    // noop sink, not count(): isolating e.g. qllm_semdedup with count()
    // would time the pruned plan — exactly the under-measurement the
    // `materialized` map exists to correct (round-10 verdict task 1 asks
    // for clean isolate bands OF the materialized costs). Auto-isolation
    // keeps count() so its cross-round continuity with prior `isolated`
    // records holds; the JSON carries a per-query `isolate_consume` map
    // ("noop"|"count") so a cross-round isolate diff knows which
    // instrument produced each number (round-11 advice: the key was
    // documented here but never emitted, so noop-sink isolates of
    // prunable queries were indistinguishable from historical count()
    // records in the JSON alone).
    def isoConsumeName(name: String): String =
      if (explicitIsolate.isDefined && countPrunable.contains(name)) "noop"
      else "count"
    val isoConsume: String => (org.apache.spark.sql.DataFrame => Unit) = name =>
      if (isoConsumeName(name) == "noop")
        (df => df.write.mode("overwrite").format("noop").save())
      else (df => { df.count(); () })
    // clean instrument at each phase boundary: the isolate and materialized
    // passes re-measure single queries in the end-of-suite JVM, the exact
    // spot the driver's r14 record showed 3–5× contamination
    if (explicitIsolate.isEmpty) cleanerGc()
    val isolatedDetail: Seq[(String, Seq[(Double, Double, Double)])] =
      isolateKeys.sorted.flatMap { name =>
        if (spark.sparkContext.isStopped) None
        else {
          val failedBefore = failed.size
          // warm the exact subtree first
          timed(name, SparkEntry.queries(name), isoConsume(name))
          if (failed.size > failedBefore) None
          else {
            val runs = (1 to isolateRuns)
              .map(_ => timed(name, SparkEntry.queries(name), isoConsume(name)))
            if (failed.size > failedBefore) None else Some(name -> runs)
          }
        }
      }
    val isolated = isolatedDetail.map { case (n, runs) => n -> runs.map(_._1).min }
    // Materializing re-bench of the count-prunable set (countPrunable
    // scaladoc): `.count()` lets Catalyst drop operators that can't change
    // the row count, so these queries' suite slots under-measure. A noop
    // sink forces every operator to produce every row without write cost;
    // the `materialized` map is the honest number beside the continuity
    // metric. Skipped in --isolate mode (that instrument times what it's
    // told) and once the context is dead.
    // A failure in this INSTRUMENT pass must not report the query itself
    // as failed: its count()-consumed suite slot already succeeded, and
    // the cross-round "errors":0 continuity signal must track query
    // health, not noop-sink health — so materialize-pass failures move to
    // their own list/JSON key instead of the shared `failed` set.
    val materializeFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    if (explicitIsolate.isEmpty) cleanerGc()
    val materialized: Seq[(String, Double)] =
      if (explicitIsolate.isDefined || suiteOnly) Seq.empty
      else Bench.countPrunable.toSeq.sorted.filterNot(skipKeys.contains).flatMap { name =>
        if (spark.sparkContext.isStopped || !SparkEntry.queries.contains(name)) None
        else {
          val failedBefore = failed.size
          val dt = timed(name, SparkEntry.queries(name),
            _.write.mode("overwrite").format("noop").save())._1
          maybeCleanerGc()
          if (failed.size > failedBefore) {
            materializeFailed ++= failed.drop(failedBefore)
            failed.remove(failedBefore, failed.size - failedBefore)
            None
          } else Some(name -> dt)
        }
      }
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def toJson(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = r3(results.map(_._2).sum)
    // Box-phase forensics (round-11 verdict task 2). Three rounds running,
    // the driver's headline total needed manual cross-checking against the
    // last committed quiet-box record (round 11: 119.3 s driver-run vs
    // 95.8 s committed on IDENTICAL code — a uniform 1.25× host phase with
    // zero per-query outliers, not a regression). The record now carries
    // the forensics itself: `phase_factor` = median per-query ratio of
    // THIS run vs the last committed record at the SAME scale factor
    // (bench_full_latest.json for the sf the driver benches, the tracked
    // BENCH_sf*.json ladder rows otherwise — read BEFORE this run's sink
    // overwrites them), and `regressions` = the queries ≥ 2× AND ≥ 1 s
    // above that record. Reading rule: a host phase moves phase_factor
    // with an empty regressions list; a plan change names its queries.
    // Committed slots < 0.05 s are excluded from the median — their
    // ratios measure scheduler jitter, not the box.
    def parseRecord(path: String): Option[(String, Map[String, Double])] =
      try {
        val p = java.nio.file.Paths.get(path)
        if (!java.nio.file.Files.exists(p)) None
        else {
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          for {
            sfm <- """"sf":"([^"]*)"""".r.findFirstMatchIn(txt)
            qm <- """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
          } yield (sfm.group(1), """"([^"]+)":([-0-9.eE+]+)""".r
            .findAllMatchIn(qm.group(1))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap)
        }
      } catch { case _: Throwable => None }
    // "/root/testdata/sf0.1" and "/tmp/graft_sf0.1" are the same scale
    def sfToken(dir: String): String =
      """sf([0-9.]+)/?$""".r.findFirstMatchIn(dir).map(_.group(1)).getOrElse("")
    // bench_full_latest.json is clobbered by EVERY full run regardless of
    // sf, so mid-ladder it holds the previous rung, not an sf0.1 record —
    // the round-12 closing sf0.1 run found no same-sf reference and emitted
    // no phase_factor at all. The tracked BENCH_sf0.1.json row (committed,
    // never written by Bench itself) is the stable sf0.1 reference.
    val phaseRef: Option[Map[String, Double]] =
      if (results.isEmpty || sfToken(sfDir).isEmpty) None
      else Seq("bench_full_latest.json", "BENCH_sf0.1.json", "BENCH_sf1.json",
        "BENCH_sf3.json", "BENCH_sf10.json", "BENCH_sf30.json", "BENCH_sf60.json")
        .iterator.flatMap(parseRecord(_))
        .find { case (sf, qs) => qs.nonEmpty && sfToken(sf) == sfToken(sfDir) }
        .map(_._2)
    val (phaseJsonFile, phaseJsonStdout) = phaseRef.map { ref =>
      val ratios = results.collect {
        case (k, v) if ref.get(k).exists(_ >= 0.05) => v / ref(k)
      }.sorted
      val med =
        if (ratios.isEmpty) 1.0
        else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
        else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
      val regs = results
        .filter { case (k, v) => ref.get(k).exists(r => v >= 2 * r && v >= r + 1.0) }
        .sortBy(-_._2)
      val regDetail = regs.map { case (k, v) =>
        "\"" + k + "\":[" + r3(v) + "," + r3(ref(k)) + "]"
      }.mkString("{", ",", "}")
      // stdout budget: names only, capped — the file carries (now, ref)
      val regNames = regs.take(8).map("\"" + _._1 + "\"").mkString("[", ",", "]")
      (s""","phase_factor":${r3(med)},"regressions":$regDetail""",
        s""","phase_factor":${r3(med)},"n_regressions":${regs.size},"regressions":$regNames""")
    }.getOrElse(("", ""))
    val slowestAll = results.sortBy(-_._2)
    // Distinct: a query whose warm AND measured isolate runs both die (e.g.
    // a dead SparkContext) appends its name twice — one broken query must
    // read as one error, not two, or cross-round "errors":N diffs lie.
    val errJson = s""","errors":${failed.distinct.size},"failed":${failed.distinct.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    // a suite record with skipped keys must carry the list (see skipKeys),
    // and a suite-only record must say so explicitly
    val skipJson =
      (if (skipKeys.isEmpty || explicitIsolate.isDefined) ""
       else s""","skipped":${skipKeys.toSeq.sorted
           .map("\"" + _ + "\"").mkString("[", ",", "]")}""") +
        (if (suiteOnly && explicitIsolate.isEmpty) ""","suite_only":true""" else "")
    val matFailJson =
      if (materializeFailed.isEmpty) ""
      else s""","materialize_failed":${materializeFailed.distinct.sorted
          .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    // n=3 explicit isolates report min under `isolated` (biased low vs the
    // single samples every pre-round-10 record holds) — annotate the
    // sampling AND the consumption instrument so cross-round isolate
    // diffs know what they're comparing. The FILE record carries the
    // per-query map; stdout (2000-char tail budget) collapses to the
    // scalar "count" in auto mode, where consumption is uniform.
    val isoConsumeMapJson = isolated.map { case (k, _) =>
      "\"" + k + "\":\"" + isoConsumeName(k) + "\""
    }.mkString("{", ",", "}")
    def isoJsonWith(consume: String) =
      s""","isolate_runs":$isolateRuns,"isolate_consume":$consume,"isolated":${toJson(isolated)}"""
    val isoJson = isoJsonWith(isoConsumeMapJson)
    val isoJsonStdout =
      if (explicitIsolate.isDefined) isoJson else isoJsonWith("\"count\"")
    // per-run (wall, cpu) detail for EVERY record that has isolates — the
    // n=3 min/median/cpu instrument the heavy-tail BASELINE entries cite.
    // `series_index` makes each sample's position in ONE JVM's run series
    // explicit (round-12 verdict task 5: same-code sf30 CPU ramped
    // 7066 → 3173 → 2139 across one JVM's three runs — JIT/GC warmup, not
    // a regression; cross-round isolate diffs must compare like positions).
    // Index 0 is the unrecorded warm run, so recorded samples start at 1.
    // Round 14 (round-13 verdict task 4): auto-isolation's single-run
    // samples carry the detail too — a driver record's `isolated` map now
    // self-qualifies each sample as series position 1, instead of leaving
    // the BASELINE.md protocol satisfiable only by manual --isolate runs.
    val detailJson =
      if (isolatedDetail.isEmpty) ""
      else s""","isolated_detail":${isolatedDetail.map { case (k, runs) =>
        "\"" + k + "\":{\"series_index\":[" + runs.indices.map(_ + 1).mkString(",") +
          "],\"wall\":[" + runs.map(r => r3(r._1)).mkString(",") +
          "],\"cpu\":[" + runs.map(r => r3(r._2)).mkString(",") +
          "],\"gc\":[" + runs.map(r => r3(r._3)).mkString(",") + "]}"
      }.mkString("{", ",", "}")}"""
    // The FILE record carries the full materialized map (73 keys as of
    // round 11 — countPrunable is the source of truth); the
    // stdout line (driver-parsed from a 2000-char tail window — the
    // round-1 overflow lesson) carries the total + the 8 slowest entries.
    val matJson = if (materialized.isEmpty) "" else s""","materialized":${toJson(materialized)}"""
    // stdout names its truncated top-8 map DISTINCTLY from the file JSON's
    // full `materialized` map — one key must never carry two shapes
    val matJsonStdout =
      if (materialized.isEmpty) ""
      else s""","n_materialized":${materialized.size},"materialized_total":${r3(
          materialized.map(_._2).sum)},"materialized_top8":${toJson(
          materialized.sortBy(-_._2).take(8))}"""
    val gcJson =
      if (suiteGc.isEmpty) ""
      else s""","queries_gc":${toJson(suiteGc.toSeq)}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size}$errJson$skipJson$matFailJson$phaseJsonFile,"queries":${toJson(results)}$isoJson$detailJson$gcJson$matJson,"sf":"$sfDir"}"""
    // target/ copy for local iteration; the repo-root copy is tracked so the
    // driver's round-end commit preserves all per-query times for the judge.
    // An --isolate run skips the suite (results is empty) and must NOT
    // clobber the tracked full-suite record with an empty one.
    val sinks =
      if (explicitIsolate.isDefined) Seq("target/bench_isolate.json")
      else Seq("target/bench_full.json", "bench_full_latest.json")
    sinks.foreach { f =>
      try {
        val p = java.nio.file.Paths.get(f)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, full.getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    }
    // The driver reads this line from a 2000-char stdout TAIL window: a
    // line longer than that loses its HEAD ("metric","value", errors) and
    // the round record fails to parse. The slowest-queries map yields bytes
    // adaptively — the largest prefix of the sorted slow set that keeps
    // the line under budget. The FILE record always carries all queries.
    // isolated_detail is FILE-ONLY (round-14 verdict task 2): riding it on
    // stdout shrank the visible per-query map from 24 to 8 entries, so the
    // driver's cross-round PERF diff could compare only 5 queries and
    // printed 19 phantom "dropped_from_bench" rows — the detail's value is
    // forensic, and the tracked bench_full_latest.json carries it intact.
    def stdoutLine(nSlow: Int) =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size}$errJson$skipJson$matFailJson$phaseJsonStdout,"queries":${toJson(slowestAll.take(nSlow))}$isoJsonStdout$matJsonStdout,"sf":"$sfDir"}"""
    val line = Seq(24, 16, 12, 8, 4, 0).map(stdoutLine)
      .find(_.length <= 1950).getOrElse(stdoutLine(0))
    println(line)
    spark.stop()
  }
}
