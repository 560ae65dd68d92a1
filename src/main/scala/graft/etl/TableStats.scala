package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Table statistics read from parquet metadata on the driver, never from a
  * Spark job: sizing a layout must not cost a scan of the data it sizes. */
object TableStats {

  /** Row count of a parquet dataset — one file, or a directory tree of part
    * files (partition subdirectories included) — summed from the footers.
    * Hidden entries (`_SUCCESS`, `_GRAFT_FIXTURE_OK`, `.crc` checksums)
    * are skipped, as Spark's file index skips them. Files are opened with
    * the session's Hadoop configuration, so the footers come from the same
    * filesystem a Spark read of `path` would use. */
  def rows(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def footerRows(f: Path): Long = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount finally reader.close()
    }
    def walk(dir: Path): Long = fs.listStatus(dir).iterator
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .map(s => if (s.isDirectory) walk(s.getPath) else footerRows(s.getPath))
      .sum
    if (fs.getFileStatus(p).isDirectory) walk(p) else footerRows(p)
  }

  /** Partitions that give each task about `rowsPerTask` of `rows`:
    * `rows / rowsPerTask + 1`, capped at 4096. Callers compare it with the
    * session default under their own trip point. */
  def partsFor(rows: Long, rowsPerTask: Long): Int =
    math.min(4096L, rows / rowsPerTask + 1).toInt
}
