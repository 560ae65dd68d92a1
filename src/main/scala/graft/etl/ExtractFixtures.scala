package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Extract-side fixtures for the declared csv / json / partitioned-layout
  * queries (SURVEY §2.A — the genre's extract and load steps). Each fixture
  * is DERIVED deterministically from the canonical parquet tables, so the
  * DuckDB oracles stay on the parquet tables and the round trip itself —
  * text serialization, schema-declared re-read, PERMISSIVE corrupt-record
  * isolation, partition-directory layout — is the thing under test.
  *
  * The csv/json fixtures also carry exactly [[CorruptLines]] deliberately
  * unparseable lines (one structurally broken, one type-broken), so the
  * corrupt-record bucket the queries must report is a known constant the
  * oracle can state.
  *
  * Write-once per (JVM, sfDir): a marker file skips re-writing when an
  * earlier build (this process or a previous one) already produced the
  * fixture — repeated query builds in tests/bench must not race a reader
  * against an overwrite. The tmp layout is versioned (`_v4`) so a future
  * change to fixture CONTENT must bump the version rather than silently
  * reuse stale files, and the directory tag fingerprints the SOURCE
  * parquet files (see [[pathTag]]) so the driver regenerating testdata
  * in place invalidates every staged derivation automatically.
  */
object ExtractFixtures {

  /** Number of corrupt lines appended to each text fixture. */
  val CorruptLines = 2

  private val ready = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Source-derived tag safe for identifiers and dir names: hex MD5 prefix
    * of the full path PLUS every source parquet's (name, size, mtime).
    * (`math.abs(hashCode)` was wrong twice over: abs(Int.MinValue) is
    * still negative, and two sfDir paths can collide — silently attaching
    * a catalog table to another directory's data.)
    *
    * The fingerprint half matters because the driver regenerates the
    * testdata IN PLACE between rounds (round 7 changed events.ts
    * NANOS→MICROS with the same file names): every staged fixture here is
    * derived from those parquet files, while the DuckDB oracle always
    * reads the fresh ones — a regeneration must therefore land the
    * fixtures in a NEW directory (and new catalog table names), not
    * silently reuse the stale staging. Memoized per JVM: regeneration
    * never happens mid-process, and a stable tag within one run keeps a
    * fixture writer from racing its own readers. */
  private val tagCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def pathTag(sfDir: String): String =
    tagCache.computeIfAbsent(sfDir, { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(sfDir.getBytes("UTF-8"))
      val d = Paths.get(sfDir)
      if (Files.isDirectory(d)) {
        val s = Files.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .sortBy(_.getFileName.toString)
            .foreach { p =>
              val sz = if (Files.isRegularFile(p)) Files.size(p) else -1L
              md.update(s"${p.getFileName}:$sz:${Files.getLastModifiedTime(p).toMillis};"
                .getBytes("UTF-8"))
            }
        } finally s.close()
      }
      md.digest().take(6).map("%02x".format(_)).mkString
    })

  private def root(sfDir: String): Path =
    Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_extract_v4_${pathTag(sfDir)}")

  private def ensure(dir: Path)(write: => Unit): String = {
    ready.computeIfAbsent(dir.toString, { _ =>
      val marker = dir.resolve("_GRAFT_FIXTURE_OK")
      if (!Files.exists(marker)) {
        write
        Files.write(marker, Array.emptyByteArray)
      }
      dir.toString
    })
  }

  /** Staged co-purchase edge table (src < dst, distinct) — the analytics
    * layout a production graph pipeline materializes ONCE and every graph
    * query reads, instead of five queries each re-deriving the pairs from
    * the fact table. Written partitioned by `src` hash so downstream keyed
    * shuffles read a balanced layout; at cluster scale this would be a
    * bucketed table (the qjoin_bucketed path) so per-iteration joins skip
    * the shuffle entirely.
    *
    * Derivation: the oracle's own self-join of (order, part) on order with
    * `a.pk < b.pk` — equality never matches a NULL order key and the
    * comparison drops NULL parts — then one `src`-keyed shuffle that the
    * `distinct` reuses (hash(src) clusters every (src, dst) key), so the
    * dedup runs inside the output partitions. Both join sides are the same
    * exchange, which Spark reuses: lineitem's two columns shuffle once.
    * Plain relational operators run as compiled, pipelined code; the
    * per-order `collect_set` this replaced was object-state aggregation
    * that fell back to sort-based aggregation and set the staging heap
    * peak (PERF.md, "copurchase self-join").
    *
    * SHUFFLE_HASH is pinned because at GenData sf0.1 the default planner
    * broadcasts the 600 k-row fact side, and the relation then stays on
    * the driver heap; a forced sort-merge join there measured a higher
    * heap peak than the hash join. That comparison was made at sf0.1 only.
    * A hash build cannot spill, so when lineitem's footer row count needs
    * more partitions than the session default at
    * [[TableStats.rowsPerTask]], `lp` is key-repartitioned to that count
    * first. Both join sides reuse that one exchange, so it replaces the
    * join's own shuffle instead of adding one. The `src`-keyed shuffle
    * takes the same count: the pair rows it carries grow with lineitem's
    * rows (897,843 pairs from 600 k lineitem rows at GenData sf0.1, ≈ 1.5×),
    * so a partition count sized for lineitem keeps each distinct task
    * within a small multiple of the budget. Below the trip point both
    * shuffles keep the session default. */
  def copurchaseEdges(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("copurchase_edges")
    ensure(dir) {
      val pairs = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val parts = TableStats.sizedPartitions(spark,
        TableStats.rows(spark, Tables.path(sfDir, "lineitem")),
        TableStats.rowsPerTask(spark), margin = 1.0)
      val lp = parts.fold(pairs)(n => pairs.repartition(n, col("ok")))
      val edges = lp.as("a")
        .join(lp.as("b").hint("shuffle_hash"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      parts.fold(edges.repartition(col("src")))(n => edges.repartition(n, col("src")))
        .distinct()
        .write.mode("overwrite").parquet(dir.toString)
    }
  }

  /** A directory of 200 real BMP files (media_<id>.bmp, ids 0–199 — the
    * doc_id < 200 slice, dense at every sf), each the 32×32 formula image
    * [[graft.multimodal.Multimodal.phashPixel]] encodes. The raw-blob
    * ingest fixture for the `binaryFile` source: every file is 1078-byte
    * header + 1024 pixel bytes = 2102 bytes, so the oracle pins per-file
    * identity and size from the documents table alone. Driver-side writes:
    * 200 × 2 KB is setup cost, the same class as the corrupt-line CSV
    * fixtures. */
  def mediaBmp(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("media_bmp")
    ensure(dir) {
      Files.createDirectories(dir)
      (0 until 200).foreach { id =>
        val data = Array.tabulate(32 * 32) { i =>
          graft.multimodal.Multimodal.phashPixel(id.toLong, i / 32, i % 32).toByte
        }
        Files.write(dir.resolve(s"media_$id.bmp"),
          graft.multimodal.Multimodal.encodeBmpGray(data, w = 32))
      }
    }
  }

  /** Daily per-type event aggregates written through Spark's CSV WRITER
    * (header row, exact decimal strings via the D15 cast) — the staged
    * half of the qsink_csv round trip. What's under test is the writer:
    * quoting, header handling, and decimal round-tripping back through a
    * declared-schema read. coalesce(1): the aggregate is metadata-scale
    * (days × types), and one file keeps the fixture layout deterministic. */
  def eventsDailyCsv(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("events_daily_csv")
    ensure(dir) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      Tables.events(spark, sfDir)
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          Dets.decStr(sum(Dets.d124(col("value"))).cast(DecimalType(38, 4))).as("sum_v"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(dir.toString)
    }
  }

  /** The qsink_csv aggregate written as JSON LINES with the measures
    * NESTED under a `stats` struct — the sink twin for the JSON format,
    * exercising the nested-object encode/decode path the flat CSV twin
    * cannot. Decimal masses ride as exact strings (D15), so the
    * round trip is associativity-proof like the CSV one. */
  def eventsDailyJson(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("events_daily_json")
    ensure(dir) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      Tables.events(spark, sfDir)
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          Dets.decStr(sum(Dets.d124(col("value"))).cast(DecimalType(38, 4))).as("sum_v"))
        .select(col("day"), col("event_type"),
          struct(col("n"), col("sum_v")).as("stats"))
        .coalesce(1)
        .write.mode("overwrite").json(dir.toString)
    }
  }

  /** customer as header-less CSV plus two corrupt lines. Spark's CSV
    * writer emits shortest-round-trip doubles, so the re-read values are
    * bit-identical to the parquet originals.
    *
    * Both corrupt lines carry unparseable values in the columns the
    * declared query actually REFERENCES (c_nationkey int, c_acctbal
    * double): under CSV column pruning (on by default) the parser only
    * parses referenced columns, so a structurally short row whose
    * referenced fields are merely *absent* reads as nulls without tripping
    * the corrupt-record column — only a parse failure in a parsed column
    * flags the row (observed against Spark 4.1.2; this is why neither
    * fixture line is a token-count-short row). */
  def customerCsv(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("customer_csv")
    ensure(dir) {
      Tables.customer(spark, sfDir)
        .write.mode("overwrite").option("header", "false").csv(dir.toString)
      Files.write(dir.resolve("zz_corrupt.csv"),
        "THIS,IS,NOT,A,CSVROW\n99999,Customer#bad,xx,9.9.9,BUILDING\n".getBytes("UTF-8"))
    }
  }

  /** documents as JSON lines plus two corrupt lines (truncated object /
    * non-JSON). Text with newlines/quotes rides on JSON escaping. */
  def documentsJson(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("documents_json")
    ensure(dir) {
      Tables.documents(spark, sfDir)
        .write.mode("overwrite").json(dir.toString)
      Files.write(dir.resolve("zz_corrupt.json"),
        "{\"doc_id\": \"truncated\nnot json at all\n".getBytes("UTF-8"))
    }
  }

  /** Two parquet "epochs" of orders with DRIFTED schemas — epoch v1
    * (even orderkeys) predates the `o_orderstatus` column, epoch v2 (odd
    * orderkeys) carries it. The schema-evolution read (`mergeSchema`)
    * must unify them with nulls for the missing column, the day-one
    * reality of any long-lived warehouse layout. Returns the two epoch
    * dirs (Spark reads both; the oracle derives the same split from the
    * parquet original). */
  def ordersEvolved(spark: SparkSession, sfDir: String): (String, String) = {
    val v1 = root(sfDir).resolve("orders_evolved/v1")
    val v2 = root(sfDir).resolve("orders_evolved/v2")
    ensure(v1) {
      Tables.orders(spark, sfDir)
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(v1.toString)
    }
    ensure(v2) {
      Tables.orders(spark, sfDir)
        .filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .write.mode("overwrite").parquet(v2.toString)
    }
    (v1.toString, v2.toString)
  }

  /** supplier serialized to ORC — the columnar format round trip beside
    * parquet (ORC is self-describing, so unlike csv/json there is no
    * corrupt-record surface; the read still declares the schema, D-rule
    * style, so drift fails analysis instead of silently casting). */
  def supplierOrc(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("supplier_orc")
    ensure(dir) {
      Tables.supplier(spark, sfDir).write.mode("overwrite").orc(dir.toString)
    }
  }

  /** supplier serialized to Avro — only reachable when the `spark-avro`
    * connector is on the classpath (see `ScanOps.avroAvailable`); the
    * ORC twin otherwise. */
  def supplierAvro(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("supplier_avro")
    ensure(dir) {
      Tables.supplier(spark, sfDir).write.mode("overwrite")
        .format("avro").save(dir.toString)
    }
  }

  /** documents' text as raw line-oriented text files (one doc per line —
    * the fixture corpus carries no newlines), the log-file / corpus-dump
    * extract format. No corrupt-record surface: every line IS a valid
    * value by definition. */
  def documentsText(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("documents_text")
    ensure(dir) {
      Tables.documents(spark, sfDir).select(col("text"))
        .write.mode("overwrite").text(dir.toString)
    }
  }

  /** FLOOR bucket count for the orders⋈lineitem co-located join fixture:
    * 8 buckets keeps one file per bucket at test scale. Both join sides
    * MUST agree on the count. */
  val Buckets = 8

  /** Lineitem rows per bucket of the orders⋈lineitem pair. Each bucketed
    * write task sorts its bucket, so a fixed count means a per-task sort
    * that grows with scale: at sf100 the 8-bucket layout put ~75 M wide
    * rows through each write-side sort and died with a heap OOM. 45 M is
    * the volume the sf60 rung (360 M rows / 8 buckets) is measured to
    * stage and query cleanly, so every rung through sf60 keeps exactly 8
    * (PERF.md, "One partition-sizing rule"). */
  val FactRowsPerBucket = 45L * 1000 * 1000

  /** FLOOR bucket count for the staged adjacency table, matched to the
    * bench session's parallelism (local[32] / shuffle.partitions=32) so a
    * bucketed scan feeds every core and lines up 1:1 with the rank-side
    * hash partitioning in the PageRank iteration joins. */
  val AdjBuckets = 32

  /** Direction-doubled adjacency rows per bucket. The binding constraint
    * is the per-iteration PageRank `groupBy(dst)` partial aggregate, which
    * runs inside the bucket-scan tasks: at sf30's 540 M rows in 32 buckets
    * each task's map held ~4.6 M of the graph's 4.7 M dst keys and fell
    * back to sorts. 6 M rows per bucket keeps each task at the volume
    * sf10, the last linear rung, is measured to handle (PERF.md, "One
    * partition-sizing rule"). */
  val AdjRowsPerBucket = 6L * 1000 * 1000

  /** The DIRECTION-DOUBLED co-purchase adjacency staged as a sorted-
    * bucketed parquet TABLE (bucketBy src), not an in-heap checkpoint —
    * the layout [[graft.etl.ops.GraphOps]]'s header promises at 100 TB,
    * now the actual plan shape. Round 9 held this 2×|E|-row frame as a
    * MEMORY_AND_DISK_SER localCheckpoint; at sf30 the 540 M-row frame
    * serializes to ~17 GB and cannot fit a 16 GB JVM (PERF.md round 9e —
    * the suite's only scale failure). A disk-resident bucketed table has
    * ZERO heap residency: each PageRank iteration re-reads a columnar
    * two-long scan (cheap) whose bucket layout already matches the
    * iteration join's src hash distribution, so the edge side needs no
    * exchange and no sort. Derived from the staged canonical edges;
    * write-once per (JVM, sfDir) like every fixture here. */
  def copurchaseAdjacency(spark: SparkSession, sfDir: String): String = {
    val edgesDir = copurchaseEdges(spark, sfDir)
    val edges = spark.read.schema("src BIGINT, dst BIGINT").parquet(edgesDir)
    val doubled = edges.unionAll(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    // sized only when the fixture is actually (re)written, from the staged
    // edges' footers, doubled
    ensureBucketed(spark, sfDir, s"graft_adj_bkt_${pathTag(sfDir)}",
      "copurchase_adj", doubled,
      org.apache.spark.sql.types.StructType.fromDDL("src BIGINT, dst BIGINT"),
      "src", () => TableStats.bucketsFor(2L * TableStats.rows(spark, edgesDir), AdjRowsPerBucket,
        AdjBuckets), Seq("src", "dst"))
  }

  /** orders and lineitem written SORTED-BUCKETED by orderkey
    * (`bucketBy(8).sortBy` + `saveAsTable`) — the pre-shuffled layout a
    * 100 TB warehouse keeps its biggest fact tables in so that the
    * fact⋈fact join runs with ZERO exchange on either side: bucket i of
    * orders only ever meets bucket i of lineitem, and both arrive sorted.
    * Returns the (orders, lineitem) catalog table names.
    *
    * The upfront `repartition(Buckets, key)` uses the same murmur3 hash
    * family as the bucket spec, so each write task holds exactly one
    * bucket → one file per bucket (the layout sorted-bucket reads need).
    * Catalog entries are session-scoped while the files persist, so a
    * later JVM re-attaches the existing layout via CREATE TABLE …
    * CLUSTERED BY … LOCATION instead of rewriting it. */
  def bucketedOrdersLineitem(spark: SparkSession, sfDir: String): (String, String) = {
    val tag = pathTag(sfDir)
    // one shared bucket count: orders and lineitem MUST agree or the
    // co-located join grows an exchange. Sized from lineitem's footer row
    // count (the wide side — its per-bucket sort is the binding write
    // cost), read at most once, and only when a fixture is actually
    // (re)written, never on marker re-attach.
    lazy val buckets = TableStats.bucketsFor(
      TableStats.rows(spark, Tables.path(sfDir, "lineitem")), FactRowsPerBucket, Buckets)
    (ensureBucketed(spark, sfDir, s"graft_orders_bkt_$tag", "orders_bucketed",
       Tables.orders(spark, sfDir), Tables.ordersSchema, "o_orderkey", () => buckets),
     ensureBucketed(spark, sfDir, s"graft_lineitem_bkt_$tag", "lineitem_bucketed",
       Tables.lineitem(spark, sfDir), Tables.lineitemSchema, "l_orderkey", () => buckets))
  }

  private def ensureBucketed(
      spark: SparkSession, sfDir: String, table: String, sub: String,
      df: org.apache.spark.sql.DataFrame, schema: org.apache.spark.sql.types.StructType,
      key: String, buckets: () => Int,
      sortCols: Seq[String] = Nil): String = synchronized {
    val sorted = if (sortCols.isEmpty) Seq(key) else sortCols
    if (!spark.catalog.tableExists(table)) {
      val dir = root(sfDir).resolve(sub)
      val marker = dir.resolve("_GRAFT_FIXTURE_OK")
      if (Files.exists(marker)) {
        // re-attach with the count the FILES were written with, which the
        // marker persists (a wrong count here silently mis-buckets every
        // downstream join), so one that holds no count fails
        val n = new String(Files.readAllBytes(marker), "UTF-8").trim.toIntOption
          .getOrElse(sys.error(s"$marker holds no bucket count"))
        spark.sql(
          s"CREATE TABLE $table (${schema.toDDL}) USING PARQUET " +
            s"CLUSTERED BY ($key) SORTED BY (${sorted.mkString(", ")}) " +
            s"INTO $n BUCKETS LOCATION '${dir.toUri}'")
      } else {
        val n = buckets()
        df.repartition(n, col(key))
          .write.mode("overwrite").format("parquet")
          .bucketBy(n, key).sortBy(sorted.head, sorted.tail: _*)
          .option("path", dir.toString)
          .saveAsTable(table)
        Files.write(marker, n.toString.getBytes("UTF-8"))
      }
    }
    table
  }

  /** orders written `partitionBy(o_year)` — the genre's load-step layout.
    * Reading it back with a year filter must prune at the DIRECTORY level
    * (PartitionFilters, no data files of other years opened) — the
    * strongest 100 TB lever a warehouse layout has. */
  def ordersByYear(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("orders_by_year")
    ensure(dir) {
      Tables.orders(spark, sfDir)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(dir.toString)
    }
  }

  /** orders partitioned by year with a `repartition(o_year)` BEFORE the
    * write — the production fix for the small-files problem. A bare
    * `partitionBy` fans every write task out across every year it holds
    * rows for (tasks × years files); shuffling on the partition column
    * first lands each year in exactly ONE task, so each partition
    * directory holds exactly one data file. That invariant is what makes
    * the `_metadata` accounting in `qscan_metadata` deterministic. */
  def ordersByYearCompact(spark: SparkSession, sfDir: String): String = {
    val dir = root(sfDir).resolve("orders_by_year_compact")
    ensure(dir) {
      Tables.orders(spark, sfDir)
        .withColumn("o_year", year(col("o_orderdate")))
        .repartition(col("o_year"))
        .write.mode("overwrite").partitionBy("o_year").parquet(dir.toString)
    }
  }

  /** Every staging call by name, copurchase first: its transient shuffle
    * is the largest, so a disk-bound rung stages it while the disk is
    * emptiest. `graft.Bench`'s warm-up and `graft.tools.StageExtract` both
    * run this list; StageExtract's step names are these names. */
  val staging: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "copurchaseEdges" -> copurchaseEdges,
    "copurchaseAdjacency" -> copurchaseAdjacency,
    "bucketedOrdersLineitem" -> bucketedOrdersLineitem,
    "ordersByYear" -> ordersByYear,
    "ordersByYearCompact" -> ordersByYearCompact,
    "ordersEvolved" -> ordersEvolved,
    "documentsJson" -> documentsJson,
    "documentsText" -> documentsText,
    "customerCsv" -> customerCsv,
    "eventsDailyCsv" -> eventsDailyCsv,
    "eventsDailyJson" -> eventsDailyJson,
    "mediaBmp" -> mediaBmp,
    "supplierOrc" -> supplierOrc)
}
