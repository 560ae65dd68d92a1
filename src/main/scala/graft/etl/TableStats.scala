package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Table statistics read from parquet metadata on the driver, never from a
  * Spark job: sizing a layout must not cost a scan of the data it sizes. */
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

  /** Partitions that give each task about `rowsPerTask` of `rows`:
    * `rows / rowsPerTask + 1`, capped at 4096. Callers compare it with the
    * session default under their own trip point. */
  def partsFor(rows: Long, rowsPerTask: Long): Int =
    math.min(4096L, rows / rowsPerTask + 1).toInt
}
