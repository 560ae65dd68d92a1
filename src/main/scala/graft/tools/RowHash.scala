package graft.tools

import org.apache.spark.sql.functions._

/** Order-insensitive result fingerprint for run-twice determinism checks at
  * scales where `graft.Verify`'s parquet dump is write-bound (its
  * `coalesce(1)` echoes the full result single-threaded — fine at the
  * sf0.01 oracle gate, hours for the 10^8-row pair outputs at sf10).
  *
  * For each named query prints one line `name rows sumhash`, where
  * `sumhash` is the exact DECIMAL(38,0) sum of `xxhash64(*)` over all
  * columns of every result row (a Long sum would ANSI-overflow on ~10^8
  * random 64-bit terms) — insensitive to row order, sensitive to any value
  * or multiplicity change (the same instrument as the round-9 sf3 DuckDB
  * order-insensitive hash, computed engine-side so nothing is
  * materialized). Two fresh-JVM runs printing identical lines = the plan
  * is deterministic at that scale.
  *
  * Usage: runMain graft.tools.RowHash <sfDir> <queryName> [queryName ...]
  */
object RowHash {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = graft.Bench.queryNames(args.drop(1).mkString(","), "graft.tools.RowHash")
    val spark = graft.GraftSession.create()
    names.foreach { name =>
      val row = graft.etl.Ckpt.releasing(spark) {
        val df = graft.etl.Registry.byName(name).build(spark, sfDir)
        df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
          .agg(count(lit(1)).as("rows"),
            sum(col("h").cast("decimal(38,0)")).as("sumhash"))
          .head()
      }
      println(s"[rowhash] $name rows=${row.getLong(0)} sumhash=${row.get(1)}")
    }
    spark.stop()
  }
}
