package graft
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge

/** Benchmark main (SURVEY §6). By default it runs two passes in one JVM:
  *   - the suite: every declared query consumed with `.count()`; its sum is
  *     the headline `value`, kept for cross-round continuity;
  *   - `materialized`: every declared query again, consumed through the
  *     noop sink (`noop`), so no query's cost hides behind a pruned plan.
  *     It is also each query's warm second run.
  * `--isolate k1,k2,...` replaces both with the clean per-query instrument:
  * for each named query an untimed warm run, then best of 3 noop runs, each
  * run's stages printed one line per stage.
  *
  * `measure` runs the passes and `render` turns what they measured into the
  * full record and the ONE compact JSON line printed last on stdout. The
  * run recorder parses that line from a 2000-char tail window, so it
  * carries totals and bounded maps; the FULL record goes to
  * `bench_full_latest.json` at the repo root (a TRACKED file committed with
  * each round) and `target/bench_full.json` for local runs that shouldn't
  * dirty the tree.
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

  /** Measured runs of each `--isolate` query after its warm run. */
  private val isolateRuns = 3

  /** One timed run: wall, process-CPU and driver-JVM GC seconds. */
  final case class Run(wall: Double, cpu: Double, gc: Double)

  /** What one invocation measured. `isolated` is `Some` exactly for an
    * `--isolate` run, whose suite and materialized maps are empty. */
  final case class Measured(
      sfDir: String,
      suite: Seq[(String, Run)],
      materialized: Seq[(String, Double)],
      isolated: Option[Seq[(String, Seq[Run])]],
      failed: Seq[String],
      materializeFailed: Seq[String],
      skipped: Seq[String],
      suiteOnly: Boolean)

  def main(args: Array[String]): Unit = {
    val isolate: Option[Seq[String]] = args.toSeq match {
      case Seq("--isolate", keys, _*) =>
        val names = queryNames(keys, "--isolate")
        if (names.isEmpty) sys.error("--isolate needs at least one query name")
        Some(names)
      case _ => None
    }
    // SPARK_GRAFT_SKIP_KEYS: comma-listed queries left out of a suite run,
    // for rungs whose disk cannot hold one key's spill. The record lists
    // them as "skipped", so it never diffs as a full-suite total.
    val skipKeys: Seq[String] = sys.env.get("SPARK_GRAFT_SKIP_KEYS")
      .map(queryNames(_, "SPARK_GRAFT_SKIP_KEYS").distinct.sorted)
      .getOrElse(Seq.empty)
    // SPARK_GRAFT_SUITE_ONLY=1: the suite pass alone, for wall-clock-bound
    // rungs where the materialized pass would double a multi-hour record.
    // The record says "suite_only":true and carries no materialized map.
    val suiteOnly = sys.env.get("SPARK_GRAFT_SUITE_ONLY").exists(_ == "1")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    // read before this run's sinks overwrite bench_full_latest.json
    val ref = phaseReference(sfDir)
    val m = measure(spark, sfDir, isolate, skipKeys, suiteOnly)
    val (full, line) = render(m, ref)
    // An --isolate run must NOT clobber the tracked full-suite record.
    val sinks =
      if (isolate.isDefined) Seq("target/bench_isolate.json")
      else Seq("target/bench_full.json", "bench_full_latest.json")
    sinks.foreach { f =>
      try {
        val p = java.nio.file.Paths.get(f)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, full.getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    }
    println(line)
    spark.stop()
  }

  /** Runs the suite and materialized passes, or the `--isolate` runs of the
    * named queries, on `spark` at `sfDir`. */
  def measure(spark: SparkSession, sfDir: String, isolate: Option[Seq[String]],
      skipKeys: Seq[String], suiteOnly: Boolean): Measured = {
    // Warm up the executor pool, codegen and the parquet reader stack, so
    // one-time session cost is not charged to whichever query runs first:
    // the first scan of a cold file (footer reads, column-reader setup,
    // dictionary load) costs multiples of a steady-state scan.
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.etl.Tables.schemas.keys.foreach(graft.etl.Tables.table(spark, sfDir, _).count())
    // The first query through tokenization/shingling pays seconds of
    // codegen and string-expression warm-up that a bare count() does not
    // trigger; a tiny tokenize+hash+agg over a 500-doc slice compiles the
    // same expression shapes once, unattributed.
    graft.etl.Tables.documents(spark, sfDir).limit(500)
      .selectExpr("doc_id", "explode(split(lower(text), '[^a-z]+')) AS w")
      .filter("w <> ''")
      .selectExpr("hash(w) AS h", "md5(w) AS m", "xxhash64(w) AS x")
      .selectExpr("count(distinct h) AS c", "count(m)", "count(x)")
      .collect()
    // ... and the shingle → posting-list → self-join shapes of the dedup
    // pipeline: a 50-doc slice walks shingleHashes + jaccardCandidates once.
    val warmShingles = graft.api.Graft.shingleHashes(
      graft.etl.Tables.documents(spark, sfDir).limit(50), col("doc_id"), col("text"))
      .select(col("doc_id"), col("h64").as("sh"))
    graft.api.Graft.jaccardCandidates(warmShingles).count()
    // The suite materializes the extract/load fixtures (write-once) up
    // front: they are one-time setup, and a fixture left out here is
    // charged to the first query that reads it. --isolate stages nothing
    // here: its untimed warm run stages whatever the query reads, and
    // nothing else then takes disk.
    if (isolate.isEmpty) graft.etl.ExtractFixtures.staging.foreach(_._2(spark, sfDir))
    // Process-CPU seconds beside wall (JMX): CPU seconds are immune to
    // host contention stalls, so a real regression shows in CPU even when
    // a box-phase band hides it in wall.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // Driver-JVM GC seconds beside wall and CPU: in local mode the
    // executors live in this JVM, so collector time here is the run's GC
    // bill, and warm-up can be told from heap history per record.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis: Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    /** Times one query and says whether it succeeded, then releases the
      * checkpoints it created ([[graft.etl.Ckpt.releasing]]): leaked blocks
      * from the per-round checkpoints of the iterative operators turn into
      * eviction and GC storms that charge the queries running late in the
      * suite. The release is scoped, so nothing a later query holds
      * becomes unrecomputable, and blocking and outside the clock, so
      * cleanup never lands in the next query's time. */
    def timed(name: String, consume: DataFrame => Unit): (Run, Boolean) =
      graft.etl.Ckpt.releasing(spark) {
        val g0 = gcMillis
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val ok = try { consume(SparkEntry.queries(name)(spark, sfDir)); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            false
        }
        (Run((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9,
          (gcMillis - g0) / 1e3), ok)
      }
    // A failed query must NEVER read as a fast one: failures are counted
    // and named in the record, so a regression that breaks a query shows
    // up as "errors":N, not as an improved total.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]

    isolate match {
      case Some(names) =>
        // A query's isolate is recorded only when its warm AND every
        // measured run succeed; the measured runs are skipped once the warm
        // run failed, and isolating stops once the context is gone (every
        // later run would fail at once). Best of 3 in one JVM, because a
        // single run's wall carries a box-phase band of up to ±50%; per-run
        // CPU and GC go to the file.
        val label = new AtomicReference[String](null)
        spark.sparkContext.addSparkListener(stageLines(label))
        def labelled(run: String, name: String): (Run, Boolean) = {
          label.set(s"$name $run")
          try timed(name, noop)
          finally if (!spark.sparkContext.isStopped) Bridge.drainListeners(spark)
        }
        val isolated = names.distinct.sorted.iterator.takeWhile(_ => !spark.sparkContext.isStopped)
          .flatMap { name =>
            val runs =
              if (labelled("warm", name)._2) (1 to isolateRuns).map(i => labelled(s"run$i", name))
              else Seq.empty
            if (runs.nonEmpty && runs.forall(_._2)) Some(name -> runs.map(_._1))
            else { failed += name; None }
          }.toSeq
        Measured(sfDir, Seq.empty, Seq.empty, Some(isolated), failed.toSeq, Seq.empty,
          Seq.empty, suiteOnly = false)
      case None =>
        // Spark's ContextCleaner releases broadcast blocks and shuffle files
        // of finished queries only after a JVM GC collects their referents,
        // and a big heap running 221 small queries may never GC: the blocks
        // pile into the shared block manager and charge whoever runs late.
        // An explicit GC every 24 queries and at the phase boundary drives
        // the cleaner, always outside the timed region.
        var sinceGc = 0
        def cleanerGc(): Unit = { System.gc(); sinceGc = 0 }
        def maybeCleanerGc(): Unit = { sinceGc += 1; if (sinceGc >= 24) cleanerGc() }
        // Sorted by name: hash-Map iteration order reshuffles whenever a key
        // is added, moving which query runs first through a pipeline and
        // absorbs its warm-up; sorted order keeps per-query numbers
        // comparable across rounds.
        val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(skipKeys.contains)
        val suite = names.map { name =>
          val (r, ok) = timed(name, _.count())
          if (!ok) failed += name
          maybeCleanerGc()
          name -> r
        }
        // A failure in the noop pass must not report the query itself as
        // failed: its count()-consumed suite slot already succeeded, and
        // "errors" must track query health, not noop-sink health, so these
        // failures get their own list.
        val materializeFailed = scala.collection.mutable.ArrayBuffer.empty[String]
        val materialized = if (suiteOnly) Seq.empty else {
          cleanerGc()
          names.iterator.takeWhile(_ => !spark.sparkContext.isStopped).flatMap { name =>
            val (r, ok) = timed(name, noop)
            maybeCleanerGc()
            if (!ok) materializeFailed += name
            if (ok) Some(name -> r.wall) else None
          }.toSeq
        }
        Measured(sfDir, suite, materialized, None, failed.toSeq, materializeFailed.toSeq,
          skipKeys, suiteOnly)
    }
  }

  /** One line per completed stage while `label` is set, labelled with it:
    * tasks, wall, summed executor run and CPU time, shuffle read/write and
    * memory/disk spill, then the operator scopes of the stage's RDDs (the
    * stage name, a CompletableFuture lambda under AQE, does not say which
    * plan fragment a stage executes). The caller drains the listener bus
    * before it changes the label, so each line names the run it belongs
    * to, and before the record line, which stays the last stdout line. */
  private def stageLines(label: AtomicReference[String]): SparkListener = new SparkListener {
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
      Option(label.get).foreach { run =>
        val i = ev.stageInfo
        val m = i.taskMetrics
        val wall = (for (s <- i.submissionTime; c <- i.completionTime)
          yield (c - s) / 1000.0).getOrElse(-1.0)
        println(f"[stage $run%s] stage=${i.stageId}%-4d tasks=${i.numTasks}%-4d " +
          f"wall=$wall%7.2f run=${m.executorRunTime / 1000.0}%8.2f " +
          f"cpu=${m.executorCpuTime / 1e9}%8.2f " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fM " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fM " +
          f"spillM=${m.memoryBytesSpilled / 1e6}%9.1fM " +
          f"spillD=${m.diskBytesSpilled / 1e6}%9.1fM  ${i.name.take(80)}%s")
        println("    | " + i.rddInfos.sortBy(_.id)
          .flatMap(r => r.scope.map(_.name)).distinct.mkString(" <- "))
      }
  }

  /** The per-query suite times of the last committed record at `sfDir`'s
    * scale factor: `bench_full_latest.json` when it holds that scale, else
    * the tracked `BENCH_sf*.json` ladder rows (never written by Bench, so
    * they survive a ladder session that overwrites the latest record). */
  private def phaseReference(sfDir: String): Option[Map[String, Double]] = {
    // a missing or unreadable record is no reference
    def parseRecord(path: String): Option[(String, Map[String, Double])] = scala.util.Try {
      val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      for {
        sfm <- """"sf":"([^"]*)"""".r.findFirstMatchIn(txt)
        qm <- """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
      } yield (sfm.group(1), """"([^"]+)":([-0-9.eE+]+)""".r
        .findAllMatchIn(qm.group(1))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap)
    }.toOption.flatten
    if (sfToken(sfDir).isEmpty) None
    else Seq("bench_full_latest.json", "BENCH_sf0.1.json", "BENCH_sf1.json",
      "BENCH_sf3.json", "BENCH_sf10.json", "BENCH_sf30.json", "BENCH_sf60.json")
      .iterator.flatMap(parseRecord(_))
      .find { case (sf, qs) => qs.nonEmpty && sfToken(sf) == sfToken(sfDir) }
      .map(_._2)
  }

  /** "testdata/sf0.1" and "graft_sf0.1/" name the same scale. */
  private def sfToken(dir: String): String =
    """sf([0-9.]+)/?$""".r.findFirstMatchIn(dir).map(_.group(1)).getOrElse("")

  /** The full record and the stdout line for `m`. `phaseRef` holds the
    * suite times of the last committed record at the same scale. */
  def render(m: Measured, phaseRef: Option[Map[String, Double]]): (String, String) = {
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def toJson(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    def names(ks: Seq[String]): String = ks.map("\"" + _ + "\"").mkString("[", ",", "]")
    val results = m.suite.map { case (k, r) => k -> r.wall }
    val total = r3(results.map(_._2).sum)
    // `phase_factor`: the median per-query ratio of this run to the
    // reference record; `regressions`: the queries ≥ 2× AND ≥ 1 s above it.
    // A host phase moves phase_factor with an empty regressions list; a
    // plan change names its queries. Reference slots < 0.05 s are left out
    // of the median: their ratios measure scheduler jitter, not the box.
    val (phaseJsonFile, phaseJsonStdout) = phaseRef.filter(_ => results.nonEmpty).map { ref =>
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
      // stdout budget: names only, capped; the file carries (now, ref)
      (s""","phase_factor":${r3(med)},"regressions":$regDetail""",
        s""","phase_factor":${r3(med)},"n_regressions":${regs.size},"regressions":${names(
          regs.take(8).map(_._1))}""")
    }.getOrElse(("", ""))
    val errJson = s""","errors":${m.failed.size},"failed":${names(m.failed.sorted)}"""
    val skipJson =
      (if (m.skipped.isEmpty) "" else s""","skipped":${names(m.skipped)}""") +
        (if (m.suiteOnly) ""","suite_only":true""" else "")
    val matFailJson =
      if (m.materializeFailed.isEmpty) ""
      else s""","materialize_failed":${names(m.materializeFailed.sorted)}"""
    // `isolated` is each query's best wall of its 3 runs; `isolated_detail`
    // (file only) has every run's wall, CPU and GC seconds with its
    // position in the JVM's run series (index 0 is the unrecorded warm
    // run): same-code CPU can ramp 3× across one JVM's runs, so isolate
    // comparisons must compare like positions.
    val (isoJson, detailJson) = m.isolated.map { iso =>
      (s""","isolate_runs":$isolateRuns,"isolated":${toJson(iso.map { case (n, rs) => n -> rs.map(_.wall).min })}""",
        s""","isolated_detail":${iso.map { case (k, runs) =>
          "\"" + k + "\":{\"series_index\":[" + runs.indices.map(_ + 1).mkString(",") +
            "],\"wall\":[" + runs.map(r => r3(r.wall)).mkString(",") +
            "],\"cpu\":[" + runs.map(r => r3(r.cpu)).mkString(",") +
            "],\"gc\":[" + runs.map(r => r3(r.gc)).mkString(",") + "]}"
        }.mkString("{", ",", "}")}""")
    }.getOrElse(("", ""))
    // The file carries the full materialized map; the stdout line the total
    // and the 8 slowest, under distinct key names, so one key never carries
    // two shapes.
    val matJson = if (m.materialized.isEmpty) "" else s""","materialized":${toJson(m.materialized)}"""
    val matJsonStdout =
      if (m.materialized.isEmpty) ""
      else s""","n_materialized":${m.materialized.size},"materialized_total":${r3(
          m.materialized.map(_._2).sum)},"materialized_top8":${toJson(
          m.materialized.sortBy(-_._2).take(8))}"""
    val gcJson =
      if (m.suite.isEmpty) "" else s""","queries_gc":${toJson(m.suite.map { case (k, r) => k -> r.gc })}"""
    val head = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size}$errJson$skipJson$matFailJson"""
    val full =
      s"""$head$phaseJsonFile,"queries":${toJson(results)}$isoJson$detailJson$gcJson$matJson,"sf":"${m.sfDir}"}"""
    // The stdout line is read from a 2000-char TAIL window: a longer line
    // loses its head ("metric", "value", errors) and the record fails to
    // parse. The slowest-queries map takes the largest prefix of the
    // sorted slow set that keeps the line within budget; isolated_detail
    // stays in the file, where it does not crowd out per-query entries.
    val slowestAll = results.sortBy(-_._2)
    def stdoutLine(nSlow: Int) =
      s"""$head$phaseJsonStdout,"queries":${toJson(slowestAll.take(nSlow))}$isoJson$matJsonStdout,"sf":"${m.sfDir}"}"""
    val line = Seq(24, 16, 12, 8, 4, 0).map(stdoutLine)
      .find(_.length <= 1950).getOrElse(stdoutLine(0))
    (full, line)
  }
}
