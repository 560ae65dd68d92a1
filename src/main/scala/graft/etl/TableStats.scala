package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Table statistics read from parquet metadata on the driver, never from a
  * Spark job: sizing a layout must not cost a scan of the data it sizes.
  * Also the one partition-sizing rule those statistics feed: the per-task
  * row budget, the check against the session default, and bucket counts. */
object TableStats {

  /** Row count of a parquet dataset, summed from the footers of its data
    * files. */
  def rows(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Data files of a parquet dataset — one file, or a directory tree of
    * part files (partition subdirectories included), in name order. Hidden
    * entries (`_SUCCESS`, `_GRAFT_FIXTURE_OK`, `.crc` checksums) are
    * skipped, as Spark's file index skips them. `conf` is the session's
    * Hadoop configuration, so the files come from the same filesystem a
    * Spark read of `path` would use. */
  private def dataFiles(conf: Configuration, path: String): Iterator[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def walk(dir: Path): Iterator[Path] = fs.listStatus(dir).sortBy(_.getPath.getName).iterator
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .flatMap(s => if (s.isDirectory) walk(s.getPath) else Iterator.single(s.getPath))
    if (fs.getFileStatus(p).isDirectory) walk(p) else Iterator.single(p)
  }

  /** Rows of hash state one task may hold: the unified memory region
    * ((max heap − 300 MB reserved) × `spark.memory.fraction`) of the JVM
    * that runs the tasks, split over its concurrent tasks, at 200 B a row. A
    * (long, long) hash build costs about 100 B a row with page growth: at
    * GenData sf1 in a 1 GB heap with 4 threads (~108 MB a task), 1.2 M
    * rows a task failed and 1 M passed, so this keeps a 2× margin. That is
    * ~1.58 M rows at a 16 GB heap with 32 threads, ~1.37 M at 2 GB with 4
    * and ~570 k at 1 GB with 4 (PERF.md, "The hash build at sf1"). */
  def rowsPerTask(spark: SparkSession): Long =
    rowsPerTask(spark.sparkContext.getConf, Runtime.getRuntime.maxMemory,
      spark.sparkContext.defaultParallelism)

  /** `rowsPerTask(spark)` as a pure function of the session's conf, the
    * driver's max heap and the session's default parallelism. In local
    * mode the driver JVM runs every task, `localThreads` at a time. On a
    * cluster an executor runs them: its heap is `spark.executor.memory`
    * and its task slots are `spark.executor.cores / spark.task.cpus`, while
    * the driver's heap and the whole cluster's cores say nothing of it. */
  def rowsPerTask(conf: SparkConf, driverHeap: Long, localThreads: Int): Long = {
    val fraction = conf.getDouble("spark.memory.fraction", 0.6)
    val master = conf.get("spark.master", "local")
    if (master == "local" || master.startsWith("local[")) rowsPerTask(driverHeap, fraction, localThreads)
    else rowsPerTask(conf.getSizeAsMb("spark.executor.memory", "1g") << 20, fraction,
      math.max(1, conf.getInt("spark.executor.cores", 1) / conf.getInt("spark.task.cpus", 1)))
  }

  /** The budget for one JVM's heap, memory fraction and concurrent tasks;
    * never below 1. */
  def rowsPerTask(maxHeap: Long, memoryFraction: Double, threads: Int): Long = {
    val region = ((maxHeap - (300L << 20)) * memoryFraction).toLong
    math.max(1L, region / threads / 200)
  }

  /** The partition count that gives each task about `rowsPerTask` of
    * `rows` (`rows / rowsPerTask + 1`, capped at 4096), when it is more
    * than `margin` × the session's shuffle partitions; `None` when the
    * session default already gives that density, so the caller keeps its
    * plan as it is.
    *
    * The margin is the cost of the repartition the count buys:
    *  - 1.0 where the sized exchange replaces one the plan has anyway:
    *    both sides of a hash join repartition on the join key with the
    *    same count, so the join plans no shuffle of its own, or a numbered
    *    repartition replaces an unnumbered one. A count barely above the
    *    default costs nothing extra there.
    *  - 1.25 where the sized repartition feeds an aggregate or a sort
    *    that would otherwise run at the session default. A barely bigger
    *    count buys little per-task density there for an exchange of its
    *    own: measured at sf10, where `qgraph_jaccard`'s wedge count sized
    *    33 partitions against the session's 32. */
  def sizedPartitions(spark: SparkSession, rows: Long, rowsPerTask: Long,
      margin: Double): Option[Int] = {
    val n = math.min(4096L, rows / rowsPerTask + 1).toInt
    if (n > spark.sessionState.conf.numShufflePartitions * margin) Some(n) else None
  }

  /** Bucket count for a bucketed write of `rows`: `rows / rowsPerBucket`
    * rounded up, then up to a multiple of `floor` (whole scheduling waves,
    * and never fewer than `floor`), capped at 256 (each bucket is one
    * write task and one file, so the cap bounds the write fan-out). */
  def bucketsFor(rows: Long, rowsPerBucket: Long, floor: Int): Int = {
    val needed = (rows + rowsPerBucket - 1) / rowsPerBucket
    math.min(256L, math.max(1L, (needed + floor - 1) / floor) * floor).toInt
  }
}
