package graft

import graft.etl.Tables
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** SURVEY §2.2.A sink coverage: csv / json / partitioned-parquet writers
  * round-trip (the reference genre's load step). Parquet write of every
  * query is already exercised by graft.Verify.
  */
class SinkSpec extends SparkFixture {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("csv round-trip preserves rows and values") {
    val out = tmp("graft_csv")
    val df = Tables.nation(spark, sfTiny)
    df.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true").schema(Tables.nationSchema).csv(out)
    assert(back.count() == 25)
    assert(back.orderBy("n_nationkey").collect().map(_.toString).toSeq ==
      df.orderBy("n_nationkey").collect().map(_.toString).toSeq)
  }

  test("json round-trip preserves rows and values") {
    val out = tmp("graft_json")
    val df = Tables.region(spark, sfTiny)
    df.write.mode("overwrite").json(out)
    val back = spark.read.schema(Tables.regionSchema).json(out)
    assert(back.orderBy("r_regionkey").collect().map(_.toString).toSeq ==
      df.orderBy("r_regionkey").collect().map(_.toString).toSeq)
  }

  test("orc round-trip preserves rows and values") {
    val out = tmp("graft_orc")
    val df = Tables.supplier(spark, sfTiny)
    df.write.mode("overwrite").orc(out)
    val back = spark.read.schema(Tables.supplierSchema).orc(out)
    assert(back.orderBy("s_suppkey").collect().map(_.toString).toSeq ==
      df.orderBy("s_suppkey").collect().map(_.toString).toSeq)
  }

  test("parquet schema evolution: mergeSchema unions columns across file generations") {
    val sp = spark
    import sp.implicits._
    val out = tmp("graft_evolve")
    // generation 1: (id, a); generation 2 adds column b — the schema-drift
    // shape a long-lived 100 TB table accumulates
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.mode("overwrite").parquet(s"$out/g=1")
    Seq((3L, "z", 30)).toDF("id", "a", "b")
      .write.mode("overwrite").parquet(s"$out/g=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.toSet == Set("id", "a", "b", "g"))
    val rows = merged.orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Any]("b"))).toSeq
    assert(rows == Seq((1L, null), (2L, null), (3L, 30))) // old files read b as null
  }

  test("corrupt JSON records: PERMISSIVE captures, DROPMALFORMED drops, FAILFAST raises") {
    import org.apache.spark.sql.types._
    val dir = tmp("graft_corrupt")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data.json"),
      """{"id": 1, "v": "ok"}
        |{"id": 2, "v": "also ok"}
        |{"id": 3, "v": BROKEN not json
        |""".stripMargin.getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache() // required before filtering on the corrupt column
    assert(permissive.count() == 3)
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(permissive.filter(col("_corrupt_record").isNull).count() == 2)
    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() == 2)
    intercept[Exception] {
      spark.read.schema(StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").json(dir).collect()
    }
    permissive.unpersist()
  }

  test("corrupt CSV records: quarantine is decided on REFERENCED columns (pruning semantics)") {
    // Pins the behavior qscan_csv's fixture design relies on (see
    // ExtractFixtures.customerCsv): under CSV column pruning, a row is
    // flagged corrupt only when a column the query actually parses fails —
    // a structurally short row whose referenced fields are merely ABSENT
    // reads as nulls with NO corrupt flag. If a Spark upgrade changes
    // this, the declared query's corrupt counts shift — fail here first.
    import org.apache.spark.sql.types._
    val dir = tmp("graft_corrupt_csv")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data.csv"),
      """1,alpha,10,1.5,SEG
        |2,beta,xx,2.5,SEG
        |SHORT
        |""".stripMargin.getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("n", IntegerType), StructField("bal", DoubleType),
      StructField("seg", StringType), StructField("_corrupt", StringType)))
    def read() = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir)
    // referencing n: row 2 fails the int parse → corrupt; the SHORT row's
    // n is absent, not malformed → NOT corrupt (the pruning trap)
    val byN = read().select(col("n"), col("_corrupt")).cache()
    assert(byN.filter(col("_corrupt").isNotNull).count() == 1)
    assert(byN.filter(col("n").isNull && col("_corrupt").isNull).count() == 1)
    byN.unpersist()
    // referencing id too: SHORT's single token lands in id, fails the long
    // parse → now 2 corrupt rows
    val byId = read().select(col("id"), col("n"), col("_corrupt")).cache()
    assert(byId.filter(col("_corrupt").isNotNull).count() == 2)
    byId.unpersist()
    // DROPMALFORMED keeps only the fully-parseable row; FAILFAST raises
    val strict = StructType(schema.dropRight(1))
    assert(spark.read.schema(strict).option("mode", "DROPMALFORMED")
      .csv(dir).collect().length == 1)
    intercept[Exception] {
      spark.read.schema(strict).option("mode", "FAILFAST").csv(dir).collect()
    }
  }

  test("partitioned parquet write creates lang= directories and prunes on read") {
    val out = tmp("graft_part")
    Tables.documents(spark, sfTiny)
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("lang=")), dirs)
    val en = spark.read.parquet(out).filter(col("lang") === "en")
    // partition pruning: the physical scan should touch only the en partition
    val scanned = en.queryExecution.executedPlan.collectLeaves().head.toString
    assert(en.count() > 0)
    assert(scanned.contains("lang"), scanned.take(200))
    val exact = Tables.documents(spark, sfTiny).filter(col("lang") === "en").count()
    assert(en.count() == exact)
  }
}
