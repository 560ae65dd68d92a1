package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (SURVEY §6). Runs three passes in one JVM:
  *   - the suite: every declared query consumed with `.count()`; its sum is
  *     the headline `value`, kept for cross-round continuity;
  *   - auto-isolation: the 12 slowest suite slots re-run warm, count()-consumed;
  *   - `materialized`: every declared query again, consumed through the
  *     noop sink (`noop`), so no query's cost hides behind a pruned plan.
  * `--isolate k1,k2,...` replaces all three with best-of-3 noop runs of the
  * named queries.
  *
  * Prints ONE compact JSON line, which the run recorder parses from the
  * tail of the output. The line must stay under its 2000-char tail
  * window (a 73-entry per-query map overflowed it, BENCH_r01.json
  * `parsed: null`), so it carries the suite total, an adaptively-sized
  * slowest-queries prefix, the isolated map and the materialized total
  * with its 8 slowest entries. The FULL record goes to
  * `bench_full_latest.json` at the repo root, a TRACKED file committed
  * with each round, plus `target/bench_full.json` for local runs that
  * shouldn't dirty the tree.
  */
object Bench {

  /** Materializing consumption: every operator produces every row and
    * nothing is written. `.count()` lets Catalyst drop the joins, windows,
    * distinct aggregates and projections that cannot change the row count,
    * so a count()-consumed slot can under-measure a query by several×. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Comma-listed query names, refused before any timed work if one is not
    * in the registry: a typo must not silently measure or skip nothing. */
  def queryNames(list: String, source: String): Seq[String] = {
    val keys = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    keys.filterNot(SparkEntry.queries.contains).foreach { k =>
      sys.error(s"$source names unknown query '$k'")
    }
    keys
  }

  def main(args: Array[String]): Unit = {
    // Isolation pass (round-7 verdict item 3): suite-attributed times
    // absorb whatever warmup/box noise lands on a query's slot, so every
    // per-query perf claim used to need a manual re-run. Default runs:
    // full suite, then the 12 slowest re-run warm — `queries` stays the
    // attributed map (comparable with prior rounds), `isolated` is the
    // steady-state cost. With an explicit `--isolate k1,k2,...` the full
    // suite is SKIPPED: each named query runs once to warm, then three
    // measured times in an otherwise-clean JVM — the clean
    // instrument for single-query claims (the end-of-suite JVM carries
    // 188 queries of heap history, which the round-8 sf1 run showed can
    // inflate a post-suite re-run several-fold).
    val explicitIsolate: Option[Seq[String]] = args.toSeq match {
      case Seq("--isolate", keys, _*) =>
        val names = queryNames(keys, "--isolate")
        if (names.isEmpty) sys.error("--isolate needs at least one query name")
        Some(names)
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
    // the key gets its own cleared-disk isolate record instead.
    val skipKeys: Set[String] = sys.env.get("SPARK_GRAFT_SKIP_KEYS")
      .map(queryNames(_, "SPARK_GRAFT_SKIP_KEYS").toSet)
      .getOrElse(Set.empty)
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
    graft.etl.Tables.schemas.keys.foreach(graft.etl.Tables.table(spark, sfDir, _).count())
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
    // are one-time setup, not query cost, and a fixture left out here is
    // charged to the first query that reads it. SPARK_GRAFT_SKIP_STAGING=1
    // skips the block for disk-bound rung isolates of extract-free
    // queries (qllm_srp_lsh at sf100 needs the embeddings fixture and
    // ~60 GB of shuffle headroom that the ~40 GB staged extract would
    // eat). Deliberately fail-loud: an isolated query that DOES read a
    // missing extract errors and is counted in "errors"/"failed", so a
    // skipped staging never produces a fast number for a query that
    // needed it.
    if (!sys.env.get("SPARK_GRAFT_SKIP_STAGING").exists(_ == "1"))
      graft.etl.ExtractFixtures.staging.foreach(_._2(spark, sfDir))
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
    /** Times one query (wall, process CPU and GC seconds), then releases
      * the checkpoints it created ([[graft.etl.Ckpt.releasing]]): leaked
      * blocks from the per-round checkpoints of the iterative operators
      * turn into eviction and GC storms that charge the queries running
      * late in the suite. The release is scoped, so nothing a later query
      * holds becomes unrecomputable, and blocking and outside the clock,
      * so cleanup never lands in the next query's time. */
    def timed(name: String, fn: (SparkSession, String) => DataFrame,
              consume: DataFrame => Unit = _.count())
        : (Double, Double, Double) = graft.etl.Ckpt.releasing(spark) {
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
    // SPARK_GRAFT_SUITE_ONLY=1: run the suite pass alone — no auto-isolate
    // re-runs, no materializing re-bench. For wall-clock-bound rungs
    // (sf100: the instrument passes re-execute every query and would
    // double a multi-hour record). Self-declaring: the JSON
    // simply carries no isolated/materialized maps, so a suite-only record
    // can never be mistaken for one with instrument passes. The suite
    // `queries` map — the cross-round comparison surface — is complete.
    val suiteOnly = sys.env.get("SPARK_GRAFT_SUITE_ONLY").exists(_ == "1")
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
    val isolateRuns = if (explicitIsolate.isDefined) 3 else 1
    // An explicit --isolate consumes through the noop sink: it is the clean
    // instrument for single-query claims, and a count()-consumed isolate
    // would time whatever plan Catalyst pruned. Auto-isolation keeps
    // count(), because it re-times suite slots and must stay comparable
    // with them. The JSON's scalar `isolate_consume` names the rule used.
    val isolateConsume = if (explicitIsolate.isDefined) "noop" else "count"
    val isoConsume: DataFrame => Unit =
      if (explicitIsolate.isDefined) noop else _.count()
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
          timed(name, SparkEntry.queries(name), isoConsume)
          if (failed.size > failedBefore) None
          else {
            val runs = (1 to isolateRuns)
              .map(_ => timed(name, SparkEntry.queries(name), isoConsume))
            if (failed.size > failedBefore) None else Some(name -> runs)
          }
        }
      }
    val isolated = isolatedDetail.map { case (n, runs) => n -> runs.map(_._1).min }
    // Materializing re-bench of every query through the noop sink (see
    // `noop`): the `materialized` map is the full-work number beside the
    // count()-consumed continuity metric. Skipped in --isolate mode (that
    // instrument times what it's told), in suite-only mode and once the
    // context is dead.
    // A failure in this INSTRUMENT pass must not report the query itself
    // as failed: its count()-consumed suite slot already succeeded, and
    // the cross-round "errors":0 continuity signal must track query
    // health, not noop-sink health — so materialize-pass failures move to
    // their own list/JSON key instead of the shared `failed` set.
    val materializeFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    if (explicitIsolate.isEmpty) cleanerGc()
    val materialized: Seq[(String, Double)] =
      if (explicitIsolate.isDefined || suiteOnly) Seq.empty
      else SparkEntry.queries.keys.toSeq.sorted.filterNot(skipKeys.contains).flatMap { name =>
        if (spark.sparkContext.isStopped) None
        else {
          val failedBefore = failed.size
          val dt = timed(name, SparkEntry.queries(name), noop)._1
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
    // diffs know what they're comparing.
    val isoJson =
      s""","isolate_runs":$isolateRuns,"isolate_consume":"$isolateConsume","isolated":${toJson(isolated)}"""
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
    // The FILE record carries the full materialized map (every query); the
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
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size}$errJson$skipJson$matFailJson$phaseJsonStdout,"queries":${toJson(slowestAll.take(nSlow))}$isoJson$matJsonStdout,"sf":"$sfDir"}"""
    val line = Seq(24, 16, 12, 8, 4, 0).map(stdoutLine)
      .find(_.length <= 1950).getOrElse(stdoutLine(0))
    println(line)
    spark.stop()
  }
}
