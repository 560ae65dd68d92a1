package graft.etl.ops

import graft.etl.{ExtractFixtures, QueryDef, Tables}
import graft.etl.Dets._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** §2.A scans + §2.B projection/filter.
  *
  * Scale notes (100 TB): these shapes exist to prove pushdown — the filter
  * and the projection must reach `FileSourceScanExec` (`PushedFilters`,
  * `ReadSchema`) so a petabyte scan reads only the row groups and columns
  * it needs. Declarative `.select`/`.filter` + Catalyst guarantees that;
  * nothing here materializes more than the projected columns.
  */
object ScanOps {

  private val qscanProject = QueryDef(
    "qscan_project",
    build = (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    oracle = Some(
      "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber"))

  private val qscanPushdown = QueryDef(
    "qscan_pushdown",
    build = (spark, sfDir) =>
      Tables.lineitem(spark, sfDir)
        .filter(col("l_quantity") > 45 && col("l_shipdate") >= lit("2000-01-01").cast(TimestampType))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_shipdate").cast(DateType).as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    oracle = Some(
      "SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS ship_date " +
        "FROM lineitem WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' " +
        "ORDER BY l_orderkey, l_linenumber"))

  private val qscanUnionFiles = QueryDef(
    "qscan_union_files",
    build = (spark, sfDir) => {
      val o = Tables.orders(spark, sfDir)
      val f = o.filter(col("o_orderstatus") === "F")
      val open = o.filter(col("o_orderstatus") === "O")
      f.unionByName(open)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate").cast(DateType).as("order_date"))
        .orderBy(col("o_orderkey"))
    },
    oracle = Some(
      "SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS order_date FROM " +
        "(SELECT * FROM orders WHERE o_orderstatus = 'F' " +
        "UNION ALL SELECT * FROM orders WHERE o_orderstatus = 'O') " +
        "ORDER BY o_orderkey"))

  /** The genre's EXTRACT step (SURVEY.md:60-65): raw CSV read with a
    * declared schema — never inferred — and PERMISSIVE corrupt-record
    * handling. The fixture is the customer table serialized to CSV plus
    * exactly 2 lines with unparseable values in the referenced columns
    * (see ExtractFixtures.customerCsv on why, under CSV column pruning,
    * the corrupt lines must break a column the query reads); good
    * rows aggregate per nation, corrupt rows land in the NULL-nation bucket
    * with `n_corrupt` = 2. The oracle reads the parquet original, so the
    * gate proves the text round trip is lossless (shortest-round-trip
    * doubles included) AND that corrupt lines are isolated, not dropped or
    * crashed on. Scale: schema-on-read + quarantine column is exactly the
    * 100 TB ingest pattern — one malformed line in a petabyte must cost one
    * quarantined row, not a job. */
  private val qscanCsv = QueryDef(
    "qscan_csv",
    build = (spark, sfDir) => {
      val dir = ExtractFixtures.customerCsv(spark, sfDir)
      val schema = Tables.customerSchema.add("_corrupt", StringType)
      spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(dir)
        .groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("_corrupt")).as("n_corrupt"),
          decStr(sum(d124(col("c_acctbal"))).cast(DecimalType(38, 4))).as("sum_bal"))
        .orderBy(col("c_nationkey").asc_nulls_last)
    },
    oracle = Some(
      "SELECT c_nationkey, count(*) AS n_rows, CAST(0 AS BIGINT) AS n_corrupt, " +
        "CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS sum_bal " +
        "FROM customer GROUP BY c_nationkey " +
        "UNION ALL SELECT CAST(NULL AS INTEGER), CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(NULL AS VARCHAR) " +
        "ORDER BY c_nationkey NULLS LAST"))

  /** JSON-lines extract with declared schema + PERMISSIVE quarantine —
    * same contract as [[qscanCsv]] but over the documents table, whose
    * `text` column exercises JSON string escaping (newlines, quotes).
    * Corrupt fixture lines: one truncated object, one non-JSON line. */
  private val qscanJson = QueryDef(
    "qscan_json",
    build = (spark, sfDir) => {
      val dir = ExtractFixtures.documentsJson(spark, sfDir)
      val schema = Tables.documentsSchema.add("_corrupt", StringType)
      spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("_corrupt")).as("n_corrupt"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source").asc_nulls_last)
    },
    oracle = Some(
      "SELECT source, count(*) AS n_docs, CAST(0 AS BIGINT) AS n_corrupt, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY source " +
        "UNION ALL SELECT CAST(NULL AS VARCHAR), CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(NULL AS BIGINT) " +
        "ORDER BY source NULLS LAST"))

  /** The genre's LOAD step round-tripped: orders written
    * `partitionBy(o_year)` (ExtractFixtures), read back with a year
    * filter, aggregated. The filter must prune at the DIRECTORY level —
    * PlanSpec pins `PartitionFilters` on the read-back scan — because
    * partition pruning is the single strongest lever a 100 TB warehouse
    * layout has: a two-year query over a seven-year table must open ~2/7
    * of the files, not all of them. The oracle derives the same years from
    * the parquet original, so the gate proves the partitioned layout loses
    * no rows and the partition column survives the directory encoding. */
  private val qsinkPartitioned = QueryDef(
    "qsink_partitioned",
    build = (spark, sfDir) => {
      val dir = ExtractFixtures.ordersByYear(spark, sfDir)
      spark.read.parquet(dir)
        .filter(col("o_year").between(1996, 1997))
        .groupBy(col("o_year"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          decStr(sum(d124(col("o_totalprice"))).cast(DecimalType(38, 4))).as("revenue"))
        .orderBy(col("o_year"), col("o_orderstatus"))
    },
    oracle = Some(
      "SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS o_year, o_orderstatus, " +
        "count(*) AS n_orders, " +
        "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS revenue " +
        "FROM orders WHERE date_part('year', o_orderdate) BETWEEN 1996 AND 1997 " +
        "GROUP BY o_year, o_orderstatus ORDER BY o_year, o_orderstatus"))

  /** ORC extract round trip — the second columnar format beside parquet
    * (vectorized reader, predicate pushdown, same declared-schema read
    * discipline). The oracle reads the parquet original, so the gate
    * proves the ORC serialization lossless. */
  private val qscanOrc = QueryDef(
    "qscan_orc",
    build = (spark, sfDir) => {
      val dir = ExtractFixtures.supplierOrc(spark, sfDir)
      spark.read.schema(Tables.supplierSchema).orc(dir)
        .groupBy(col("s_nationkey"))
        .agg(
          count(lit(1)).as("n_supp"),
          decStr(sum(d124(col("s_acctbal"))).cast(DecimalType(38, 4))).as("sum_bal"))
        .orderBy(col("s_nationkey"))
    },
    oracle = Some(
      "SELECT s_nationkey, count(*) AS n_supp, " +
        "CAST(CAST(sum(CAST(s_acctbal AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS sum_bal " +
        "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"))

  /** Schema EVOLUTION across file epochs: an old epoch without
    * `o_orderstatus` and a new epoch with it, read together via
    * `mergeSchema` — old rows surface NULL status instead of failing or
    * silently dropping the column. The aggregate proves both the unified
    * schema and the null fill; the oracle derives the same epoch split
    * from the parquet original. Scale: schema merge is a FOOTER-level
    * operation (no data rewrite) — exactly how a 100 TB layout absorbs a
    * new column without a backfill. */
  private val qscanEvolution = QueryDef(
    "qscan_evolution",
    build = (spark, sfDir) => {
      val (v1, v2) = ExtractFixtures.ordersEvolved(spark, sfDir)
      spark.read.option("mergeSchema", "true").parquet(v1, v2)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          decStr(sum(d124(col("o_totalprice"))).cast(DecimalType(38, 4))).as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_last)
    },
    oracle = Some(
      "SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus, " +
        "count(*) AS n_orders, " +
        "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS revenue " +
        "FROM orders GROUP BY 1 ORDER BY o_orderstatus NULLS LAST"))

  private val qfilterPredicates = QueryDef(
    "qfilter_predicates",
    build = (spark, sfDir) =>
      Tables.part(spark, sfDir)
        .filter(
          col("p_size").between(10, 40) &&
            col("p_type").isin("PROMO", "ECONOMY", "SMALL") &&
            col("p_brand") =!= "Brand#13" &&
            (col("p_name").like("%bolt%") || col("p_retailprice") < 950.0) &&
            !(col("p_size") === 25))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
        .orderBy(col("p_partkey")),
    oracle = Some(
      "SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part WHERE " +
        "p_size BETWEEN 10 AND 40 AND p_type IN ('PROMO','ECONOMY','SMALL') " +
        "AND p_brand <> 'Brand#13' AND (p_name LIKE '%bolt%' OR p_retailprice < 950.0) " +
        "AND NOT (p_size = 25) ORDER BY p_partkey"))

  private val qprojectExpr = QueryDef(
    "qproject_expr",
    build = (spark, sfDir) => {
      import graft.etl.Dets._
      Tables.lineitem(spark, sfDir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          decStr((d124(col("l_extendedprice")) * (one124 - d124(col("l_discount")))
            * (one124 + d124(col("l_tax")))).cast(DecimalType(38, 12))).as("gross"),
          when(col("l_quantity") >= 40, "bulk")
            .when(col("l_quantity") >= 10, "mid")
            .otherwise("small").as("size_class"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag2"),
          greatest(col("l_tax"), col("l_discount")).as("hi_rate"),
          least(col("l_tax"), col("l_discount")).as("lo_rate"),
          col("l_quantity").cast(LongType).as("qty_int"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some(
      "SELECT l_orderkey, l_linenumber, " +
        "CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) * (CAST(1 AS DECIMAL(12,4)) + CAST(l_tax AS DECIMAL(12,4))) AS DECIMAL(38,12)) AS STRING) AS gross, " +
        "CASE WHEN l_quantity >= 40 THEN 'bulk' WHEN l_quantity >= 10 THEN 'mid' ELSE 'small' END AS size_class, " +
        "coalesce(nullif(l_returnflag, 'N'), 'none') AS flag2, " +
        "greatest(l_tax, l_discount) AS hi_rate, " +
        "least(l_tax, l_discount) AS lo_rate, " +
        "CAST(l_quantity AS BIGINT) AS qty_int " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"))

  /** Raw text-lines extract (log files / corpus dumps): one `value`
    * column per line, no schema to declare. File and line ORDER are
    * layout artifacts of the writer's partitioning, so the query
    * aggregates order-insensitively per leading character — counts,
    * exact byte totals, min/max md5 — and any lost, duplicated, or
    * mangled line moves at least one group's row. The oracle derives the
    * same aggregate from the parquet table the fixture serialized, so
    * the text round trip itself is the thing under test. */
  private val qscanText = QueryDef(
    "qscan_text",
    build = (spark, sfDir) => {
      val dir = ExtractFixtures.documentsText(spark, sfDir)
      spark.read.text(dir)
        .groupBy(substring(col("value"), 1, 1).as("c"))
        .agg(count(lit(1)).as("n_lines"),
          sum(length(col("value"))).as("n_chars"),
          min(md5(col("value"))).as("min_md5"),
          max(md5(col("value"))).as("max_md5"))
        .orderBy(col("c"))
    },
    oracle = Some(
      "SELECT substring(text, 1, 1) AS c, count(*) AS n_lines, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars, " +
        "min(md5(text)) AS min_md5, max(md5(text)) AS max_md5 " +
        "FROM documents GROUP BY c ORDER BY c"))

  /** File-metadata accounting via the hidden `_metadata` struct — the
    * source-layer observability surface (file_path / file_size /
    * row_index) a warehouse audit job reads without any extra scan cost
    * (metadata columns are populated by the reader, not stored). Runs over
    * the COMPACT year-partitioned layout (one file per partition by
    * construction — ExtractFixtures.ordersByYearCompact), which makes
    * every output deterministic and oracle-checkable:
    *   - n_files: distinct file_path per year = 1 (the compact-layout
    *     invariant itself, i.e. the small-files fix verified);
    *   - n_path_match: the partition VALUE recovered from the file PATH
    *     (`o_year=YYYY` dir component) equals the column for every row —
    *     pins partition-directory encoding end to end;
    *   - min_ri/max_ri: row_index spans exactly [0, n_rows-1] in a
    *     single-file partition.
    * At 100 TB this exact query is the layout auditor: n_files per
    * partition exposes small-file explosions, row_index gaps expose
    * short-circuited writes — all from reader metadata, zero data read
    * beyond the partition filter. */
  private val qscanMetadata = QueryDef(
    "qscan_metadata",
    build = (spark, sfDir) => {
      val dir = ExtractFixtures.ordersByYearCompact(spark, sfDir)
      spark.read.parquet(dir)
        .filter(col("o_year").between(1995, 1996))
        .select(
          col("o_year"),
          col("_metadata.file_path").as("fp"),
          col("_metadata.file_size").as("fsz"),
          col("_metadata.row_index").as("ri"))
        .groupBy(col("o_year"))
        .agg(
          countDistinct(col("fp")).as("n_files"),
          count(lit(1)).as("n_rows"),
          sum(when(regexp_extract(col("fp"), "o_year=(\\d+)", 1)
            .cast("int") === col("o_year"), 1L).otherwise(0L)).as("n_path_match"),
          min(col("ri")).as("min_ri"),
          max(col("ri")).as("max_ri"),
          min(when(col("fsz") > 0, 1L).otherwise(0L)).as("files_nonempty"))
        .orderBy(col("o_year"))
    },
    oracle = Some(
      "SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS o_year, " +
        "1 AS n_files, count(*) AS n_rows, count(*) AS n_path_match, " +
        "0 AS min_ri, count(*) - 1 AS max_ri, 1 AS files_nonempty " +
        "FROM orders WHERE date_part('year', o_orderdate) BETWEEN 1995 AND 1996 " +
        "GROUP BY o_year ORDER BY o_year"))

  /** qfilter_subquery's SQL text, identical on both engines. */
  private val subquerySql =
    "SELECT c_custkey, c_nationkey, c_acctbal FROM customer c " +
      "WHERE CAST(c_acctbal AS DECIMAL(12,4)) * (SELECT COUNT(*) FROM customer c2 " +
      "WHERE c2.c_nationkey = c.c_nationkey) > " +
      "(SELECT SUM(CAST(c_acctbal AS DECIMAL(12,4))) FROM customer c3 " +
      "WHERE c3.c_nationkey = c.c_nationkey) " +
      "AND EXISTS (SELECT 1 FROM customer c4 " +
      "WHERE c4.c_nationkey = c.c_nationkey AND c4.c_acctbal < 0) " +
      "ORDER BY c_custkey"

  /** Correlated-subquery surface — the SQL-text entry point (SURVEY §3.2)
    * exercising Catalyst's RewriteCorrelatedScalarSubquery + exists→semi
    * decorrelation (§4): customers strictly above their own nation's
    * average balance, in nations carrying at least one negative-balance
    * customer. The average compare is multiplied through by the (always
    * positive) member count so both sides stay EXACT decimals — no
    * division, no fp, engine-independent. Catalyst decorrelates both
    * subqueries into per-nation aggregates + equi-joins, so the executed
    * plan is the same keyed-shuffle shape a hand-written join would give —
    * declared here precisely to pin that the declarative form pays no
    * nested-loop penalty (the full-inventory BNLJ audit covers it). */
  private val qfilterSubquery = QueryDef(
    "qfilter_subquery",
    build = (spark, sfDir) => Bridge.sqlOver(spark, subquerySql,
      Map("customer" -> Tables.customer(spark, sfDir))),
    oracle = Some(subquerySql))

  /** Raw-binary ingest via the `binaryFile` source — the image/audio-dir
    * entry path of a multimodal pipeline (a directory of opaque blobs →
    * (path, length, content) rows). Reads the 200-file staged BMP dir
    * ([[ExtractFixtures.mediaBmp]]), recovers each file's identity from
    * its NAME (regexp on the path — the filename-as-key convention of
    * every crawl dump), and DECODES the payload for real (header parse +
    * dimension extraction via the qmm decode kit, one narrow
    * mapPartitions — payloads never shuffle). The oracle pins identity,
    * count, size, and dimensions from the documents table alone: every
    * staged file is deterministically 2102 bytes of 32×32 BMP, so a
    * wrong/missed/truncated file breaks the match. Content-level
    * integrity is qmm_phash's job (same formula pixels, oracle-checked);
    * this query owns the SOURCE plumbing. */
  private val qscanBinary = QueryDef(
    "qscan_binary",
    build = (spark, sfDir) => {
      val dir = ExtractFixtures.mediaBmp(spark, sfDir)
      val sp = spark
      import sp.implicits._
      spark.read.format("binaryFile").load(dir)
        .select(
          regexp_extract(col("path"), "media_(\\d+)\\.bmp$", 1).cast(LongType).as("media_id"),
          col("length").as("n_bytes"), col("content"))
        .as[(Long, Long, Array[Byte])]
        .mapPartitions { rows =>
          rows.map { case (id, n, bytes) =>
            val img = graft.multimodal.Multimodal.decodeBmpGray(bytes)
            (id, n, img.width.toLong, img.height.toLong)
          }
        }
        .toDF("media_id", "n_bytes", "width", "height")
        .orderBy(col("media_id"))
    },
    oracle = Some(
      "SELECT doc_id AS media_id, CAST(2102 AS BIGINT) AS n_bytes, " +
        "CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height " +
        "FROM documents WHERE doc_id < 200 ORDER BY doc_id"))

  /** CSV as a SINK round trip — the other half of the extract story
    * (qscan_csv reads foreign CSV; this WRITES our own and proves it
    * re-reads losslessly): daily per-type aggregates go out through
    * Spark's CSV writer (header + exact decimal STRINGS, D15), come back
    * through a declared-schema read, and re-aggregate to per-type
    * totals. The oracle recomputes the same two-level aggregate from the
    * parquet ORIGINAL, so any writer/reader corruption — quoting, header
    * offset, decimal formatting, locale drift — breaks the hash match.
    * Decimal exactness makes the two-level sum associativity-proof. */
  private val qsinkCsv = QueryDef(
    "qsink_csv",
    build = (spark, sfDir) => {
      val dir = ExtractFixtures.eventsDailyCsv(spark, sfDir)
      spark.read
        .schema("day BIGINT, event_type STRING, n BIGINT, sum_v STRING")
        .option("header", "true")
        .csv(dir)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_events"),
          count(lit(1)).as("n_days"),
          decStr(sum(col("sum_v").cast(DecimalType(38, 4))).cast(DecimalType(38, 4)))
            .as("total_value"))
        .orderBy(col("event_type"))
    },
    oracle = Some(
      "WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, " +
        "CAST(value AS DECIMAL(12,4)) AS v FROM events), " +
        "d AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(v) AS DECIMAL(38,4)) AS sv FROM e GROUP BY 1, 2) " +
        "SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events, " +
        "CAST(count(*) AS BIGINT) AS n_days, " +
        "CAST(CAST(sum(sv) AS DECIMAL(38,4)) AS STRING) AS total_value " +
        "FROM d GROUP BY event_type ORDER BY event_type"))

  /** Is the `spark-avro` DataSource connector on the classpath? This box
    * ships core avro but NOT the connector, and the environment is
    * zero-egress (SURVEY §2.2.A documents the gap) — hand-writing an Avro
    * reader would be the wrong move. The probe lets [[qscanAvro]]
    * self-register on any real deployment that adds
    * `org.apache.spark:spark-avro`, where the [[qscanOrc]] pattern runs
    * verbatim. */
  private[graft] val avroAvailable: Boolean =
    // probe the DataSource LOOKUP, not a class: this distribution ships
    // some org.apache.spark.sql.avro classes inside spark-sql (the
    // from_avro/to_avro expression kit) while the "avro" FORMAT still
    // fails to resolve — Class.forName alone probes true and then every
    // read/write dies with "Failed to find data source: avro"
    scala.util.Try(org.apache.spark.sql.execution.datasources.DataSource
      .lookupDataSource("avro", org.apache.spark.sql.internal.SQLConf.get)).isSuccess

  /** Avro extract round trip — registered only when [[avroAvailable]];
    * same shape and oracle as [[qscanOrc]] (the oracle reads the parquet
    * original, so the gate proves the Avro serialization lossless). */
  private def qscanAvro = QueryDef(
    "qscan_avro",
    build = (spark, sfDir) => {
      val dir = ExtractFixtures.supplierAvro(spark, sfDir)
      spark.read.schema(Tables.supplierSchema).format("avro").load(dir)
        .groupBy(col("s_nationkey"))
        .agg(
          count(lit(1)).as("n_supp"),
          decStr(sum(d124(col("s_acctbal"))).cast(DecimalType(38, 4))).as("sum_bal"))
        .orderBy(col("s_nationkey"))
    },
    oracle = Some(
      "SELECT s_nationkey, count(*) AS n_supp, " +
        "CAST(CAST(sum(CAST(s_acctbal AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS STRING) AS sum_bal " +
        "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"))

  /** JSON sink round trip — the qsink_csv story through the JSON-lines
    * writer with the measures NESTED under a struct (the decode surface
    * CSV cannot exercise): daily per-type aggregates out through
    * `write.json`, back through a declared nested-schema read, struct
    * fields projected out and re-aggregated per day across types. The
    * oracle recomputes the two-level aggregate from the parquet ORIGINAL,
    * so quoting, nesting, or decimal-string corruption in the sink breaks
    * the hash; exact decimal strings make the re-sum associativity-proof. */
  private val qsinkJson = QueryDef(
    "qsink_json",
    build = (spark, sfDir) => {
      val dir = ExtractFixtures.eventsDailyJson(spark, sfDir)
      spark.read
        .schema("day BIGINT, event_type STRING, stats STRUCT<n: BIGINT, sum_v: STRING>")
        .json(dir)
        .select(col("day"), col("stats.n").as("n"),
          col("stats.sum_v").cast(DecimalType(38, 4)).as("sv"))
        .groupBy(col("day"))
        .agg(sum(col("n")).cast(LongType).as("n_events"),
          count(lit(1)).as("n_types"),
          decStr(sum(col("sv")).cast(DecimalType(38, 4))).as("total_value"))
        .orderBy(col("day"))
    },
    oracle = Some(
      "WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, " +
        "CAST(value AS DECIMAL(12,4)) AS v FROM events), " +
        "d AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(v) AS DECIMAL(38,4)) AS sv FROM e GROUP BY 1, 2) " +
        "SELECT day, CAST(sum(n) AS BIGINT) AS n_events, " +
        "CAST(count(*) AS BIGINT) AS n_types, " +
        "CAST(CAST(sum(sv) AS DECIMAL(38,4)) AS STRING) AS total_value " +
        "FROM d GROUP BY day ORDER BY day"))

  def defs: Seq[QueryDef] = Seq(
    qscanProject, qscanPushdown, qscanUnionFiles, qscanCsv, qscanJson,
    qscanOrc, qscanText, qscanEvolution, qscanMetadata, qscanBinary,
    qsinkPartitioned, qsinkCsv, qsinkJson, qfilterPredicates, qprojectExpr,
    qfilterSubquery) ++
    (if (avroAvailable) Seq(qscanAvro) else Nil)
}
