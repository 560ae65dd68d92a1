package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{ExtractFixtures, Registry, Tables}

/** One benchmark run in one fresh JVM: set up, run the timed pass as a
  * closed loop with one client, hash every result for the golden check,
  * then set up again for the set-up samples. Writes one raw JSON record;
  * `perfbench/run.py` derives the metrics from it.
  *
  * Usage: Harness <plan file>. The plan lists `key value` settings and one
  * `op <id> <phase> <kind> <name>` line per operation, in run order.
  */
object Harness {

  final case class Op(id: String, phase: String, kind: String, name: String)

  final case class Plan(settings: Map[String, String], ops: Seq[Op]) {
    def apply(k: String): String = settings.getOrElse(k, sys.error(s"plan lacks '$k'"))
  }

  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty)
    val ops = lines.filter(_.startsWith("op ")).map { l =>
      val Array(_, id, phase, kind, name) = l.split("\\s+")
      Op(id, phase, kind, name)
    }
    val settings = lines.filterNot(_.startsWith("op ")).map { l =>
      val i = l.indexOf(' ')
      l.substring(0, i) -> l.substring(i + 1).trim
    }.toMap
    Plan(settings, ops.toSeq)
  }

  /** The session confs of every run, in one place; the record carries them. */
  def sessionConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.buffer.pageSize" -> "16m",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def startSession(cpus: Int): SparkSession = {
    val b = SparkSession.builder().appName("graft-perfbench")
    sessionConfs(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Opens every table once and compiles the tokenizing expression shapes
    * on a small slice, so one-time session cost is not charged to whichever
    * operation runs first. Runs no declared query. */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.schemas.keys.toSeq.sorted.foreach { t =>
      (if (t == "events") Tables.events(spark, dataDir) else Tables.table(spark, dataDir, t)).count()
    }
    Tables.documents(spark, dataDir).limit(500)
      .selectExpr("doc_id", "explode(split(lower(text), '[^a-z]+')) AS w")
      .filter("w <> ''")
      .selectExpr("hash(w) AS h", "md5(w) AS m", "xxhash64(w) AS x")
      .selectExpr("count(distinct h) AS c", "count(m)", "count(x)")
      .collect()
  }

  /** The staging calls of `graft.etl.ExtractFixtures`, by name. */
  val stagingCalls: Map[String, (SparkSession, String) => Any] = Map(
    "customerCsv" -> ExtractFixtures.customerCsv,
    "documentsJson" -> ExtractFixtures.documentsJson,
    "documentsText" -> ExtractFixtures.documentsText,
    "ordersByYear" -> ExtractFixtures.ordersByYear,
    "ordersByYearCompact" -> ExtractFixtures.ordersByYearCompact,
    "ordersEvolved" -> ExtractFixtures.ordersEvolved,
    "supplierOrc" -> ExtractFixtures.supplierOrc,
    "copurchaseEdges" -> ExtractFixtures.copurchaseEdges,
    "copurchaseAdjacency" -> ExtractFixtures.copurchaseAdjacency,
    "mediaBmp" -> ExtractFixtures.mediaBmp,
    "eventsDailyCsv" -> ExtractFixtures.eventsDailyCsv,
    "eventsDailyJson" -> ExtractFixtures.eventsDailyJson,
    "bucketedOrdersLineitem" -> ExtractFixtures.bucketedOrdersLineitem)

  /** Order-insensitive result fingerprint: rows and the exact decimal sum
    * of `xxhash64(*)`, the `graft.tools.RowHash` instrument. */
  def rowHash(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  def treeBytesAndFiles(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.iterator().asScala.filter(p => Files.isRegularFile(p)).toSeq
        val data = files.filterNot { p =>
          val n = p.getFileName.toString
          n.startsWith(".") || n.startsWith("_")
        }
        (files.map(Files.size).sum, data.size.toLong)
      } finally s.close()
    }

  /** Old-generation occupancy after every GC, as (JVM uptime ms at GC end,
    * bytes, cause). Filled by the GC notification thread. */
  final class OldGenAfterGc extends NotificationListener {
    private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala.map(_.getName)
      .find(n => n.contains("Old Gen") || n.contains("Tenured"))
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()

    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        oldPool.flatMap(after.get).foreach { u =>
          samples.add((info.getGcInfo.getEndTime, u.getUsed, info.getGcCause))
        }
      }

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val dataDir = plan("data")
    val cpus = plan("cpus").toInt
    val traced = plan("trace") == "1"
    val runDir = Paths.get(plan("run_dir"))
    val writes = plan("sink") == "parquet"
    // ExtractFixtures stages under java.io.tmpdir, beside Spark's own
    // scratch directories; only its directories count as fixture bytes.
    def fixtureBytes(): Long = {
      val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_extract"))
        .map(d => treeBytesAndFiles(d)._1).sum
      finally s.close()
    }
    def sinkPath(name: String): Path = runDir.resolve("out").resolve(name)
    val runtime = ManagementFactory.getRuntimeMXBean
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    val oldGen = new OldGenAfterGc
    oldGen.install()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

    // ---- set-up: session, (untimed) fixture staging, table open, warm-up
    val launchMs = plan("launch_ms").toLong
    val jvmStartMs = runtime.getStartTime
    var spark = startSession(cpus)
    val sessionMs = System.currentTimeMillis()
    val stageStart = System.nanoTime()
    if (plan("prestage") == "1") stagingCalls.toSeq.sortBy(_._1).foreach(_._2(spark, dataDir))
    val prestageS = (System.nanoTime() - stageStart) / 1e9
    val warm0 = System.nanoTime()
    warmUp(spark, dataDir)
    System.gc()
    val setupParts = Map("jvm_start_s" -> (jvmStartMs - launchMs) / 1e3,
      "session_s" -> (sessionMs - jvmStartMs) / 1e3,
      "warmup_s" -> (System.nanoTime() - warm0) / 1e9)
    val setupS = mutable.ArrayBuffer((System.currentTimeMillis() - launchMs) / 1e3 - prestageS)

    // ---- the timed pass: one client, next operation after the previous
    val sc = spark.sparkContext
    val traceListener = new TraceListener
    val planListener = new PlanListener
    if (traced) {
      sc.addSparkListener(traceListener)
      spark.listenerManager.register(planListener)
    }
    val opRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
    val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var contextDead = false
    val passStartUptime = runtime.getUptime
    plan.ops.foreach { op =>
      if (contextDead || sc.isStopped) {
        contextDead = true
        opRecords += Map("id" -> op.id, "phase" -> op.phase, "kind" -> op.kind,
          "name" -> op.name, "ok" -> false, "error" -> "SparkContext stopped")
      } else {
        val before = sc.getPersistentRDDs.keySet
        val stageBefore = if (op.kind == "stage") fixtureBytes() else 0L
        sc.setLocalProperty(Props.Op, op.id)
        sc.setLocalProperty(Props.Phase, if (op.kind == "stage") "fixtures" else "build")
        var error: String = null
        var buildEnd = 0L
        val g0 = gcMs
        val c0 = osBean.getProcessCpuTime
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try {
          op.kind match {
            case "stage" =>
              stagingCalls(op.name)(spark, dataDir)
            case "query" =>
              val df = Registry.byName(op.name).build(spark, dataDir)
              buildEnd = System.nanoTime()
              sc.setLocalProperty(Props.Phase, "exec")
              if (writes) df.write.mode("overwrite").parquet(sinkPath(op.name).toString)
              else df.write.mode("overwrite").format("noop").save()
          }
        } catch {
          case e: Throwable =>
            error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
            System.err.println(s"[perfbench] ${op.name} FAILED: $error")
        }
        val t1 = System.nanoTime()
        val c1 = osBean.getProcessCpuTime
        val g1 = gcMs
        sc.setLocalProperty(Props.Op, null)
        sc.setLocalProperty(Props.Phase, null)
        // ---- outside the clock: drain events, measure, clean up
        if (!sc.isStopped) org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
        val fresh = if (sc.isStopped) Map.empty[Int, org.apache.spark.rdd.RDD[_]]
          else sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }.toMap
        val ckptBytes = if (traced && fresh.nonEmpty) {
          sc.getRDDStorageInfo.filter(i => fresh.contains(i.id))
            .map(i => i.memSize + i.diskSize).sum
        } else 0L
        val cl0 = System.nanoTime()
        fresh.values.foreach(_.unpersist(blocking = true))
        val cleanupS = (System.nanoTime() - cl0) / 1e9
        val sinkFiles =
          if (writes && op.kind == "query") treeBytesAndFiles(sinkPath(op.name))._2 else 0L
        val stageWritten = if (op.kind == "stage") fixtureBytes() - stageBefore else 0L
        if (traced) plans ++= planListener.takeAll().map(_ + ("op" -> op.id))
        opRecords += Map(
          "id" -> op.id, "phase" -> op.phase, "kind" -> op.kind,
          "name" -> op.name, "ok" -> (error == null), "error" -> error,
          "start_ms" -> (w0 + 0.0),
          "end_ms" -> (w0 + (t1 - t0) / 1e6),
          "wall_s" -> (t1 - t0) / 1e9,
          "build_s" -> (if (buildEnd > 0) (buildEnd - t0) / 1e9 else 0.0),
          "cpu_s" -> (c1 - c0) / 1e9,
          "gc_s" -> (g1 - g0) / 1e3,
          "cleanup_s" -> cleanupS,
          "ckpt_rdds" -> fresh.size, "ckpt_bytes" -> ckptBytes,
          "stage_write_bytes" -> stageWritten,
          "sink_files" -> sinkFiles)
        contextDead = sc.isStopped
        if (!contextDead) System.gc()
      }
    }
    val passEndUptime = runtime.getUptime
    if (traced && !sc.isStopped) {
      sc.removeSparkListener(traceListener)
      spark.listenerManager.unregister(planListener)
    }

    // ---- check pass, outside the timed run: each query's result, or for a
    // writing workload the parquet it wrote
    val check0 = System.nanoTime()
    val checks = plan.ops.filter(_.kind == "query").map { op =>
      val base = Map("id" -> op.id, "name" -> op.name)
      if (sc.isStopped) base + ("error" -> "SparkContext stopped")
      else try {
        val df =
          if (writes) spark.read.parquet(sinkPath(op.name).toString)
          else Registry.byName(op.name).build(spark, dataDir)
        val (rows, sumhash) = rowHash(df)
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        base ++ Map("rows" -> rows, "sumhash" -> sumhash)
      } catch {
        case e: Throwable =>
          base + ("error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }
    val checkS = (System.nanoTime() - check0) / 1e9

    // ---- further set-up samples: a new session, table open, warm-up
    val header = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "shuffle_codec" -> sc.getConf.get("spark.io.compression.codec", "lz4"),
      "session_confs" -> sessionConfs(cpus).toMap)
    val extraSetups = plan("setups").toInt - 1
    if (!sc.isStopped) (0 until extraSetups).foreach { _ =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = startSession(cpus)
      warmUp(spark, dataDir)
      System.gc()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    spark.stop()

    val oldSamples = oldGen.samples.asScala.toSeq
      .filter { case (t, _, _) => t >= passStartUptime && t <= passEndUptime }
    val record = Map(
      "header" -> header,
      "setup_s" -> setupS.toSeq,
      "setup_parts_s" -> setupParts,
      "prestage_s" -> prestageS,
      "check_s" -> checkS,
      "context_dead" -> contextDead,
      "ops" -> opRecords.toSeq,
      "old_gen_after_gc" -> oldSamples.map { case (t, b, cause) =>
        Map("uptime_ms" -> t, "bytes" -> b, "cause" -> cause) },
      "checks" -> checks,
      "trace" -> (if (traced) Map(
        "jobs" -> traceListener.jobRecords,
        "stages" -> traceListener.stageRecords,
        "plans" -> plans.toSeq) else null))
    Files.write(Paths.get(plan("record")), mapper.writeValueAsBytes(record))
  }
}

/** Content digest of a GenData directory: one `table rows sumhash` line per
  * table. The parquet bytes of two generations differ; their rows do not.
  *
  * Usage: DataDigest <data dir>
  */
object DataDigest {
  def main(args: Array[String]): Unit = {
    val spark = Harness.startSession(1)
    Tables.schemas.keys.toSeq.sorted.foreach { t =>
      val df = if (t == "events") Tables.events(spark, args(0)) else Tables.table(spark, args(0), t)
      val (rows, sumhash) = Harness.rowHash(df)
      println(s"$t $rows $sumhash")
    }
    spark.stop()
  }
}
