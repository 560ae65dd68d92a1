package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.concurrent.TrieMap

/** Fixture table access with explicit, declared schemas (never inferred —
  * SURVEY.md §1.2) and a per-(session, sfDir) memo so repeated query builds
  * skip file re-listing / footer reads (SURVEY.md §6 cost trap).
  *
  * Schemas are the verified dumps in FIXTURES.md. At 100 TB scale the same
  * pattern holds: one declared StructType per table, reads validated against
  * it, schema drift surfaces as an analysis error instead of silent nulls.
  */
object Tables {

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  // `ts` is parquet TIMESTAMP(MICROS); a NANOS file fails when `ts` is first read.
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema,
    "nation" -> nationSchema,
    "customer" -> customerSchema,
    "supplier" -> supplierSchema,
    "part" -> partSchema,
    "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema,
    "events" -> eventsSchema,
    "documents" -> documentsSchema,
    "embeddings" -> embeddingsSchema)

  // DataFrames are session-bound, so the memo is keyed by the session
  // OBJECT (no identity-hash collision against a new session). Weak keys
  // alone can NOT collect stopped sessions here — the cached Datasets
  // strongly reference their session through queryExecution, the exact
  // value→key strong reference the WeakHashMap javadoc warns about — so
  // eviction is explicit: a listener registered per session clears its
  // entry when the application ends. Limitation (documented, acceptable
  // here): SparkListenerApplicationEnd fires on CONTEXT stop, so sessions
  // minted via newSession()/cloneSession() over one long-lived context
  // accumulate entries (and are pinned by their listeners) until that
  // context stops — every process in this repo is one-session-per-context,
  // which is exactly the lifetime the listener covers.
  private val memo =
    new java.util.WeakHashMap[SparkSession, TrieMap[(String, String), DataFrame]]()

  private def sessionMemo(spark: SparkSession): TrieMap[(String, String), DataFrame] =
    memo.synchronized {
      var m = memo.get(spark)
      if (m == null) {
        m = TrieMap.empty
        memo.put(spark, m)
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            memo.synchronized { memo.remove(spark) }
        })
      }
      m
    }

  /** Location of table `name` under `sfDir`: one parquet file or a
    * directory of part files. */
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    sessionMemo(spark).getOrElseUpdate(
      (sfDir, name),
      spark.read.schema(schemas(name)).parquet(path(sfDir, name)))

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
