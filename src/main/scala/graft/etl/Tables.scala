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

  // `ts` precision has CHANGED ACROSS ROUNDS: rounds ≤ 6 shipped Parquet
  // TIMESTAMP(NANOS) (unreadable as TimestampType in Spark 4 — read as
  // LongType + nanosAsLong, then `div 1000`); the round-7 regeneration
  // (2026-08-13 19:29) ships TIMESTAMP(MICROS), which Spark reads as
  // TimestampType natively. events() sniffs the parquet footer ONCE per
  // (session, dir) and picks the right path — a silent mis-read is a
  // 1000× timestamp shift that fails every ts query's oracle, so the
  // sniff is load-bearing, not defensive decoration.
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

  /** Registers `name` as a temp view (unique per sfDir) and returns the
    * view name, for queries expressed as SQL text. `events` goes through
    * [[events]] so the view exposes the converted µs TimestampType `ts`. */
  def view(s: SparkSession, sfDir: String, name: String): String = {
    val vname = s"${name}_v${math.abs(sfDir.hashCode)}"
    val df = if (name == "events") events(s, sfDir) else table(s, sfDir, name)
    df.createOrReplaceTempView(vname)
    vname
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** Events with `ts` as TimestampType (µs) regardless of the fixture's
    * on-disk precision: MICROS reads natively; NANOS (rounds ≤ 6) reads as
    * LongType epoch nanos and converts via integral `div 1000` (a double
    * division would lose precision: epoch nanos > 2^53). The NANOS read
    * needs `spark.sql.legacy.parquet.nanosAsLong`, which the session must
    * set at build time ([[graft.GraftSession]] does); a build never sets
    * it on the session it is given. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    if (eventsTsIsNanos(s, d)) {
      require(s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false").toBoolean,
        s"$d/events.parquet stores ts as TIMESTAMP(NANOS), which reads only with " +
          "spark.sql.legacy.parquet.nanosAsLong=true: build the session with graft.GraftSession")
      val nanosSchema = StructType(eventsSchema.map {
        case f if f.name == "ts" => f.copy(dataType = LongType)
        case f => f
      })
      s.read.schema(nanosSchema).parquet(s"$d/events.parquet")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    } else table(s, d, "events")
  }

  /** One footer read per directory: is events.ts physical NANOS? A plain
    * INT64 with no timestamp annotation counts as nanos: only the nanos era
    * shipped that. */
  private val tsNanosCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def eventsTsIsNanos(s: SparkSession, d: String): Boolean =
    tsNanosCache.computeIfAbsent(d, dir =>
      TableStats.timestampUnit(s, path(dir, "events"), "ts")
        .forall(_ == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
