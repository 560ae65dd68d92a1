package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage attribution probe — the instrument `--isolate` doesn't have.
  *
  * `--isolate` answers "how much" (clean wall + process CPU for one
  * query); this answers "WHERE": it replays one registry query under the
  * exact Bench session (same master, shuffle partitions, page size,
  * bucketed-sort trust) with a stage listener attached, and prints one
  * line per completed stage — tasks, wall, summed executor run/CPU time,
  * shuffle read/write bytes, memory/disk spill — for the warmup run and
  * the measured run separately. Built round 12 for the pagerank
  * sf10→sf30 CPU curve (600 → 2857 s on 3× data), where the obvious
  * suspect (per-task partial-agg state in the 32 fixed bucket-scan
  * tasks) was A/B-falsified by a 96-bucket re-stage and stage-level
  * numbers were the only way forward.
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf30 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.StageProbe qgraph_pagerank"
  *
  * Consumption is Bench's noop sink (`Bench.noop`), so every operator of
  * the query runs and the stage shapes match the `materialized` record.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val name = Bench.queryNames(args.mkString(","), "graft.StageProbe") match {
      case Seq(n) => n
      case _ => sys.error("usage: StageProbe <query-name>")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()

    @volatile var phase = "setup"
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val i = ev.stageInfo
        val m = i.taskMetrics
        val wall = (for (s <- i.submissionTime; c <- i.completionTime)
          yield (c - s) / 1000.0).getOrElse(-1.0)
        // one parseable line per stage; name is the stage's callsite-ish
        // label Spark assigns (enough to match against the plan)
        println(f"[probe $phase%s] stage=${i.stageId}%-4d tasks=${i.numTasks}%-4d " +
          f"wall=$wall%7.2f run=${m.executorRunTime / 1000.0}%8.2f " +
          f"cpu=${m.executorCpuTime / 1e9}%8.2f " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1e9}%7.3fG " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1e9}%7.3fG " +
          f"spillM=${m.memoryBytesSpilled / 1e9}%7.3fG " +
          f"spillD=${m.diskBytesSpilled / 1e9}%7.3fG  ${i.name.take(80)}%s")
        // the operator scopes of the stage's RDDs: the name line (a
        // CompletableFuture lambda under AQE) does not say WHICH plan
        // fragment a stage executes
        println("    | " + i.rddInfos.sortBy(_.id)
          .flatMap(r => r.scope.map(_.name)).distinct.mkString(" <- "))
      }
    })

    val q = graft.etl.Registry.byName(name)
    // fixture staging + first-run codegen land in the warmup phase so the
    // measured phase's stages carry steady-state numbers only; each run
    // releases its checkpoints, so the measured run starts from the block
    // manager state of a fresh query, not holding the warmup's blocks
    phase = "warmup"
    graft.etl.Ckpt.releasing(spark)(Bench.noop(q.build(spark, sfDir)))
    phase = "measured"
    val wall = graft.etl.Ckpt.releasing(spark) {
      val t0 = System.nanoTime()
      Bench.noop(q.build(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[probe total] $name measured wall=$wall%.2f s  (sf=$sfDir, local[${GraftSession.cpus}])")
    spark.stop()
  }
}
