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
  * Steps default to all of `ExtractFixtures.staging`, in its order
  * (copurchaseEdges first); naming a subset of its names (customerCsv,
  * bucketedOrdersLineitem, ...) stages just those, in the list's order. An
  * unknown name fails before the session starts.
  * Extra session confs come as `-Dspark.*` system properties, which the
  * session's SparkConf reads: `-Dspark.io.compression.codec=zstd` makes
  * shuffle transients ≈ 1.5× smaller than the lz4 default, and
  * `-Dspark.sql.parquet.compression.codec=zstd` writes smaller staged
  * tables. Shuffle partitions are the session's: a staging shuffle whose
  * rows grow with the data sizes itself from footer row counts
  * ([[graft.etl.TableStats.sizedPartitions]]), so this main, `graft.Bench`
  * and the benchmark harness stage the same layout at every scale.
  */
object StageExtract {
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
    val unknown = only -- ExtractFixtures.staging.map(_._1)
    require(unknown.isEmpty, s"unknown staging steps: ${unknown.mkString(", ")}; " +
      s"known: ${ExtractFixtures.staging.map(_._1).mkString(", ")}")
    val cpus = graft.GraftSession.cpus
    val spark = graft.GraftSession.builder(cpus)
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
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"[stage] sfDir=$sfDir cpus=$cpus " +
      s"shuffleCodec=${spark.conf.get("spark.io.compression.codec", "lz4")} " +
      s"parquetCodec=${spark.conf.get("spark.sql.parquet.compression.codec")}")
    ExtractFixtures.staging.filter(s => only.isEmpty || only(s._1)).foreach { case (n, f) =>
      oldGen.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      f(spark, sfDir)
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
