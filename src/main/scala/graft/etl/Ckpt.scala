package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one checkpoint policy: the only code that materializes a frame or
  * releases a materialization.
  *
  * `Ckpt(df)` cuts the lineage of a frame that more than one consumer
  * reads (or that an iteration re-reads), eagerly, at ONE storage level,
  * MEMORY_AND_DISK_SER, whatever the frame's size:
  *
  *  - serialized rows are packed contiguously (about 3× smaller than row
  *    objects), unroll incrementally and spill cleanly, so a frame that
  *    grows with the data degrades to disk instead of failing;
  *  - the deserialized level heap-OOM'd qgraph_pagerank at sf10 (an
  *    edge-scale frame unrolled as row objects across 32 tasks killed the
  *    SparkContext; PERF.md, round 9b);
  *  - serialized checkpoints measured faster end to end at sf1, sf3 and
  *    sf10 (sf1 180.7 → 167.5 s): deserialized caching paid its memory
  *    pressure back as GC even where it survived (PERF.md, round 9b).
  *
  * Small frames pay for the one level: at sf0.1 the serialized level
  * made the census queries up to ~27% slower in isolation than the
  * deserialized one (PERF.md, "One checkpoint policy").
  *
  * The level does not depend on the frame, so a call site says only why
  * its frame is materialized (who reads it), never how it is stored. */
object Ckpt {

  def apply(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)

  /** Runs `body`, then drops, blocking, every persisted RDD it created;
    * RDDs persisted before `body` stay. Scoped, so no checkpoint a caller
    * still holds is made unrecomputable; blocking, so the removal work
    * (block-manager bookkeeping, disk deletes) never runs on into what
    * the caller does next, such as timing the next query. Releases also
    * when `body` throws. */
  def releasing[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
  }
}
