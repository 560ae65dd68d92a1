package graft

import graft.etl.{ExtractFixtures, Tables, TableStats}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.datasources.SchemaColumnConvertNotSupportedException
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.TimestampType

import java.io.File
import java.nio.file.Files

/** Staged fixture derivations on a hand-built lineitem holding the shapes
  * the generated tables never do: duplicate (order, part) lines, a NULL
  * part, a single-line order and NULL order keys. */
class FixturesSpec extends SparkFixture {

  /** (l_orderkey, l_partkey); every other lineitem column is NULL. */
  private val lines: Seq[(java.lang.Long, java.lang.Long)] = Seq(
    (1L, 10L), (1L, 20L), (1L, 20L), (1L, 30L), // duplicate line
    (2L, 20L), (2L, 30L), (2L, null),           // NULL part; (20, 30) again
    (3L, 40L),                                  // single-line order
    (4L, 30L), (4L, 10L),                       // (10, 30) again, reversed
    (null, 50L), (null, 60L),                   // NULL orders never pair
    (5L, 60L), (5L, 70L), (5L, 70L))

  /** A scale-factor directory with only `lineitem.parquet`, written as
    * three part files. */
  private def withLineitem(f: String => Unit): Unit = {
    val sfDir = Files.createTempDirectory("graft_fixtures_sf").toString
    try {
      val rows = lines.map { case (ok, pk) =>
        Row.fromSeq(ok +: pk +: Seq.fill(Tables.lineitemSchema.size - 2)(null))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Tables.lineitemSchema)
        .repartition(3)
        .write.parquet(Tables.path(sfDir, "lineitem"))
      f(sfDir)
    } finally FileUtils.deleteQuietly(new File(sfDir))
  }

  test("copurchaseEdges equals the oracle's DISTINCT pair self-join, NULL keys included") {
    withLineitem { sfDir =>
      val staged = ExtractFixtures.copurchaseEdges(spark, sfDir)
      try {
        val got = spark.read.schema("src BIGINT, dst BIGINT").parquet(staged)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        Tables.lineitem(spark, sfDir).createOrReplaceTempView("fixtures_lineitem")
        val oracle = spark.sql(
          "WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
            "FROM fixtures_lineitem) " +
            "SELECT DISTINCT a.pk AS src, b.pk AS dst FROM lp a " +
            "JOIN lp b ON a.ok = b.ok AND a.pk < b.pk")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got.size == got.toSet.size, s"staged edges hold duplicates: $got")
        assert(got.toSet == oracle)
        assert(oracle == Set((10L, 20L), (10L, 30L), (20L, 30L), (60L, 70L)))
      } finally FileUtils.deleteQuietly(new File(staged).getParentFile)
    }
  }

  test("TableStats.rows: footer row counts equal count() for a directory and a single file") {
    withLineitem { sfDir =>
      val multi = Tables.path(sfDir, "lineitem")
      assert(new File(multi).listFiles().count(_.getName.startsWith("part-")) == 3)
      assert(TableStats.rows(spark, multi) == spark.read.parquet(multi).count())
      assert(TableStats.rows(spark, multi) == lines.size)

      val partitioned = s"$sfDir/by_order"
      spark.read.parquet(multi).write.partitionBy("l_orderkey").parquet(partitioned)
      assert(TableStats.rows(spark, partitioned) == lines.size)

      val oneDir = s"$sfDir/one"
      spark.read.parquet(multi).coalesce(1).write.parquet(oneDir)
      val single = new File(oneDir).listFiles().filter(_.getName.startsWith("part-"))
      assert(single.length == 1)
      val file = Tables.path(sfDir, "single")
      Files.copy(single.head.toPath, new File(file).toPath)
      assert(new File(file).isFile)
      assert(TableStats.rows(spark, file) == spark.read.parquet(file).count())
      assert(TableStats.rows(spark, file) == lines.size)
    }
  }

  test("TableStats.rowsPerTask: the hash-state budget follows heap, memory fraction and threads") {
    val gb = 1L << 30
    // 16 GiB with 32 threads: 1.58 M, 5.4% above the fixed 1.5 M rows a
    // task the sized sites used before the budget
    assert(TableStats.rowsPerTask(16 * gb, 0.6, 32) == 1581121L)
    assert(TableStats.rowsPerTask(2 * gb, 0.6, 4) == 1374683L)
    // 1 GiB with 4 threads: 1.2 M hash-build rows a task failed there and
    // 1 M passed (PERF.md, "The hash build at sf1"), so the budget keeps
    // about a 2x margin below what passed
    val at1g4 = TableStats.rowsPerTask(gb, 0.6, 4)
    assert(at1g4 == 569376L)
    // a smaller memory fraction or more threads only shrink the budget
    assert(TableStats.rowsPerTask(gb, 0.3, 4) < at1g4)
    assert(TableStats.rowsPerTask(gb, 0.6, 8) < at1g4)
    // never below one row, even when the heap is under the reserved 300 MB
    assert(TableStats.rowsPerTask(200L << 20, 0.6, 4) == 1L)
    assert(TableStats.rowsPerTask(300L << 20, 0.6, 4) == 1L)
    assert(TableStats.rowsPerTask(spark) >= 1L)
  }

  test("TableStats.rowsPerTask: the driver's heap and threads in local mode, an executor's on a cluster") {
    val gb = 1L << 30
    def conf(kvs: (String, String)*) = new org.apache.spark.SparkConf(false).setAll(kvs)
    // local mode: the driver JVM runs every task, whatever executor confs say
    Seq("local", "local[4]", "local[*]").foreach { m =>
      assert(TableStats.rowsPerTask(conf("spark.master" -> m, "spark.executor.memory" -> "64g"),
        2 * gb, 4) == TableStats.rowsPerTask(2 * gb, 0.6, 4), m)
    }
    assert(TableStats.rowsPerTask(conf("spark.master" -> "local[4]",
      "spark.memory.fraction" -> "0.3"), gb, 4) == TableStats.rowsPerTask(gb, 0.3, 4))
    // a cluster: one executor's heap over its task slots, not the driver's
    // heap over the cluster's cores
    val yarn = conf("spark.master" -> "yarn", "spark.executor.memory" -> "16g",
      "spark.executor.cores" -> "8", "spark.task.cpus" -> "2")
    assert(TableStats.rowsPerTask(yarn, gb, 400) == TableStats.rowsPerTask(16 * gb, 0.6, 4))
    // a bare executor memory is MiB, as Spark reads it; cores and task cpus
    // default to 1
    assert(TableStats.rowsPerTask(conf("spark.master" -> "spark://h:7077",
      "spark.executor.memory" -> "2048"), gb, 400) == TableStats.rowsPerTask(2 * gb, 0.6, 1))
    // more cpus a task than cores an executor still leaves one slot
    assert(TableStats.rowsPerTask(conf("spark.master" -> "k8s://h", "spark.executor.cores" -> "1",
      "spark.task.cpus" -> "2"), gb, 400) == TableStats.rowsPerTask(gb, 0.6, 1))
  }

  test("TableStats.sizedPartitions: a sized count only when it beats the session default by the margin") {
    val d = spark.sessionState.conf.numShufflePartitions
    val perTask = 1000L
    // rows / perTask + 1 partitions
    def sized(parts: Int, margin: Double) =
      TableStats.sizedPartitions(spark, (parts - 1) * perTask, perTask, margin)
    assert(sized(d, 1.0).isEmpty)
    assert(sized(d + 1, 1.0).contains(d + 1))
    // 1.25: the count must exceed 1.25 x the default, not merely reach it
    val trip = math.floor(d * 1.25).toInt
    assert(sized(trip, 1.25).isEmpty)
    assert(sized(trip + 1, 1.25).contains(trip + 1))
    assert(TableStats.sizedPartitions(spark, 0L, perTask, 1.0).isEmpty)
    // capped at 4096 partitions
    assert(TableStats.sizedPartitions(spark, Long.MaxValue / 2, 1L, 1.0).contains(4096))
  }

  test("a bucketed fixture whose marker holds no bucket count fails to re-attach") {
    val sfDir = Files.createTempDirectory("graft_bkt_sf").toString
    try {
      Seq("orders", "lineitem").foreach { t =>
        FileUtils.copyFile(new File(Tables.path(sfTiny, t)), new File(Tables.path(sfDir, t)))
      }
      val (orders, lineitem) = ExtractFixtures.bucketedOrdersLineitem(spark, sfDir)
      val dir = new File(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(orders)).location)
      try {
        val marker = new File(dir, "_GRAFT_FIXTURE_OK")
        assert(FileUtils.readFileToString(marker, "UTF-8").trim.toInt > 0)
        // the table files persist; a later JVM re-attaches them from the marker
        spark.sql(s"DROP TABLE $orders")
        FileUtils.write(marker, "", "UTF-8")
        val err = intercept[RuntimeException](ExtractFixtures.bucketedOrdersLineitem(spark, sfDir))
        assert(err.getMessage.contains("holds no bucket count"), err.getMessage)
      } finally {
        Seq(orders, lineitem).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
        FileUtils.deleteQuietly(dir.getParentFile)
      }
    } finally FileUtils.deleteQuietly(new File(sfDir))
  }

  test("Tables.events reads a MICROS ts to the exact µs and fails on a NANOS ts") {
    val nanosDir = Files.createTempDirectory("graft_nanos_sf").toString
    val microsDir = Files.createTempDirectory("graft_micros_sf").toString
    try {
      // 2024-01-02T03:04:05.123456Z and one µs later
      val micros = Seq(1704164645123456L, 1704164645123457L)
      FixturesSpec.writeEvents(microsDir, "MICROS",
        micros.zipWithIndex.map { case (us, i) => (i.toLong, us, 7L, Some("view")) })
      FixturesSpec.writeEvents(nanosDir, "NANOS",
        micros.zipWithIndex.map { case (us, i) => (i.toLong, us * 1000L + 789L, 7L, Some("view")) })
      val ev = Tables.events(spark, microsDir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.orderBy(col("event_id")).select(unix_micros(col("ts"))).collect()
        .map(_.getLong(0)).toSeq == micros)
      // a NANOS ts is refused at its first read, never returned 1000× off
      val err = intercept[Exception](Tables.events(spark, nanosDir).select("ts").collect())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[SchemaColumnConvertNotSupportedException]), err)
    } finally Seq(nanosDir, microsDir).foreach(d => FileUtils.deleteQuietly(new File(d)))
  }
}

object FixturesSpec {

  /** Writes `sfDir/events.parquet` as one file whose `ts` is parquet
    * TIMESTAMP(`unit`) adjusted to UTC, as a non-Spark writer stores it.
    * Rows are (event_id, ts in `unit` since the epoch, user_id,
    * event_type); `value` and `props` are NULL. */
  def writeEvents(sfDir: String, unit: String,
      rows: Seq[(Long, Long, Long, Option[String])]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  optional int64 event_id;
         |  optional int64 ts (TIMESTAMP($unit, true));
         |  optional int64 user_id;
         |  optional binary event_type (STRING);
         |  optional double value;
         |  optional binary props (STRING);
         |}""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new Path(Tables.path(sfDir, "events")))
      .withType(schema).build()
    try rows.foreach { case (id, ts, user, eventType) =>
      val g = groups.newGroup().append("event_id", id).append("ts", ts).append("user_id", user)
      eventType.foreach(g.append("event_type", _))
      writer.write(g)
    } finally writer.close()
  }
}
