package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session. Bench, Verify, Explain, the
  * tools and the test fixture all plan queries under these
  * confs, so a plan read off one of them is the plan the others run.
  * Extensions need no call here: [[GraftExtensions]] registers itself on
  * every session through Spark's ServiceLoader, and no query build
  * registers anything on the session it is given. */
object GraftSession {

  /** Local thread count: `SPARK_GRAFT_CPUS` when set, else the box's cores.
    * A fixed small default misreads every per-query time: pagerank read
    * 428.9 s at local[4] vs 99.1 s at local[32] on the same box. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Builder carrying the shared confs; a caller may override any of them
    * on the returned builder before `getOrCreate()`. */
  def builder(cpus: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // Tungsten's default 64 MB page is sized for ≥1 GB of heap per
      // core; at local[32] each concurrent task's fair share of the
      // unified pool is a few hundred MB, and 32 concurrent 64 MB-page
      // consumers heap-OOM'd the 100× fixture's graph aggregates in an
      // 8 GB JVM (PERF.md round 9d). 16 MB pages match the page size to
      // the per-task budget: the sf10 suite runs 460 s / 0 errors at
      // 16 GB (65 s faster than with default pages) and the graph
      // family's non-checkpoint-bound queries clear an 8 GB heap too.
      .config("spark.buffer.pageSize", "16m")
      // Trust the staged bucketed tables' sortBy metadata (off by default
      // since Spark 3.0; only honored when a bucket is exactly one file,
      // which the fixture writer guarantees via repartition-on-the-bucket
      // key). Without it every iteration join over the sorted-bucketed
      // adjacency re-sorts 5.6 M rows per task — 32 concurrent ~250 MB
      // sort pointer arrays heap-OOM'd the 16 GB JVM at sf10 (round 10);
      // with it the edge side streams pre-sorted from disk, which is the
      // entire point of the sorted-bucketed layout.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // date assertions and the oracle's timestamps are UTC (SURVEY §7.6)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** A session with the shared confs and WARN logging. */
  def create(cpus: Int = cpus): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
