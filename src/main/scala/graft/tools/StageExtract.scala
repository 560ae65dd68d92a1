package graft.tools

import graft.etl.ExtractFixtures

/** Pre-stages the derived extract fixtures for one sf directory — the
  * rung-staging step the scale ladder does before timing anything, split
  * out of the bench so a disk-bound box can sequence it explicitly
  * (PERF.md round 13: sf60 staging peaks at ~26 GB of transient shuffle
  * ON TOP of the staged extract, and the first sf60 attempt filled the
  * disk mid-staging inside the suite run; at sf100 the transient is the
  * binding constraint, so staging runs FIRST, copurchase — the hungriest
  * transient — while the disk is emptiest, and each step logs free
  * space so the ladder script can abort before the box wedges).
  *
  *   java -cp target/scala-2.13/classes:/opt/spark/jars/\* \
  *     graft.tools.StageExtract /tmp/graft_sf100 [step ...]
  *
  * Steps default to all; naming a subset stages just those (order kept).
  * SPARK_GRAFT_STAGE_CONF adds session confs for the STAGING session only.
  * `spark.io.compression.codec=zstd` there makes shuffle transients ≈ 1.5×
  * smaller than the lz4 default and leaves the staged outputs
  * byte-identical, so timed sessions never see a difference.
  */
object StageExtract {
  /** Staging shuffles (the orderkey self-join inside copurchase edges and
    * the src-keyed distinct after it) carry data that grows with the
    * rung, so a partition count pinned to the thread count is the exact
    * fixed-partition defect the sf60 probe convicted twice — and it
    * reproduced here: the first sf100 staging attempt died in the
    * adjacency shuffle with UNABLE_TO_ACQUIRE_MEMORY at 32 partitions.
    * Size reduce partitions from the fixture's on-disk bytes instead
    * (~64 MB of source parquet per reduce task, the same
    * bytes-per-task discipline maxPartitionBytes applies to scans),
    * never below the thread count, capped at 1024. At the proven ≤ sf30
    * rungs the clamp floors at the thread count, so re-staging those is
    * byte-identical to the old `partitions = cpus` behavior. */
  def sizedShufflePartitions(sfDir: String, cpus: Int): Int = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
      else f.length()
    val fixtureBytes = bytes(new java.io.File(sfDir))
    math.max(cpus, math.min(1024, (fixtureBytes / (64L << 20)).toInt)).toInt
  }

  /** The heap's old-generation pools (G1 Old Gen, PS Old Gen, Tenured Gen).
    * Each step resets their peak before it starts and reads it before the
    * post-step GC, so the log names the step that sets the heap a rung
    * needs. */
  private val oldGen = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val only = args.drop(1).toSet
    val cpus = graft.GraftSession.cpus
    val parts = sizedShufflePartitions(sfDir, cpus)
    val b = graft.GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions", parts.toLong)
      // 8m, NOT 16m: G1 regions top out at 32 MB, so 16 MB sorter pages
      // are humongous allocations — at sf100 the bucketed-write sorts
      // allocate thousands of them while zstd/lz4 JNI streams hold the
      // GCLocker, and the JVM throws heap OOM with free heap ("Retried
      // waiting for GCLocker too often allocating 2097154 words",
      // stage_sf100_b/_c). Half-region pages never go humongous; pair
      // with -XX:G1HeapRegionSize=32m on the staging JVM.
      .config("spark.buffer.pageSize", "8m")
      // drive the weak-ref cleaner aggressively: staging JVMs are big-heap
      // and shuffle-heavy, so finished shuffles' files otherwise outlive
      // their step and stack up against the disk budget (see the step-loop
      // note below)
      .config("spark.cleaner.periodicGC.interval", "60s")
    // extra session confs, "k=v;k=v" — the disk-bound rungs trade the
    // staging JVM's heap against sort-spill bytes (e.g. a high
    // spark.memory.fraction keeps the sf100 lineitem bucketed-write sort
    // in memory where the box's disk cannot hold a second spilled copy)
    sys.env.get("SPARK_GRAFT_STAGE_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k, v)
      })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"[stage] sfDir=$sfDir cpus=$cpus shufflePartitions=$parts")
    val steps: Seq[(String, () => Any)] = Seq(
      "copurchase" -> (() => ExtractFixtures.copurchaseAdjacency(spark, sfDir)),
      "bucketed" -> (() => ExtractFixtures.bucketedOrdersLineitem(spark, sfDir)),
      "years" -> (() => {
        ExtractFixtures.ordersByYear(spark, sfDir)
        ExtractFixtures.ordersByYearCompact(spark, sfDir)
      }),
      "evolved" -> (() => ExtractFixtures.ordersEvolved(spark, sfDir)),
      "documents" -> (() => {
        ExtractFixtures.documentsJson(spark, sfDir)
        ExtractFixtures.documentsText(spark, sfDir)
      }),
      "csvjson" -> (() => {
        ExtractFixtures.customerCsv(spark, sfDir)
        ExtractFixtures.eventsDailyCsv(spark, sfDir)
        ExtractFixtures.eventsDailyJson(spark, sfDir)
      }),
      "media" -> (() => ExtractFixtures.mediaBmp(spark, sfDir)),
      "orc" -> (() => ExtractFixtures.supplierOrc(spark, sfDir)))
    steps.filter(s => only.isEmpty || only(s._1)).foreach { case (n, f) =>
      oldGen.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      f()
      val oldPeak = oldGen.map(_.getPeakUsage.getUsed).sum
      // Shuffle files from a finished step are deleted by the weak-ref
      // ContextCleaner, which never runs in a big-heap JVM that never
      // GCs — measured: 33 GB of DEAD shuffle files from completed
      // extracts sat under /tmp while the sf100 lineitem bucketed write
      // ran the box out of disk (round 15; the bench-side round-15 fix is
      // the same mechanism). An explicit GC after each step frees them
      // before the next step's transient peak; the 60 s periodicGC conf
      // set on this session covers the two-shuffle steps internally.
      System.gc()
      println(f"[stage] $n done in ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
        f"old-gen peak=${oldPeak / 1e6}%.0f MB, " +
        f"free=${new java.io.File("/tmp").getUsableSpace / 1e9}%.1f GB")
    }
    spark.stop()
  }
}
