package graft.etl.ops

import graft.etl.{Ckpt, QueryDef, Tables, TableStats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** §2.I LLM-training-data pipeline operators: dedup (exact-normalized,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine), similarity
  * search (brute-force top-k + IVF bucketed), text analysis (language-ID,
  * quality scoring, token counting, fingerprinting), corpus profiling.
  *
  * Vector determinism (D12, strengthened): cosine is computed with the SAME
  * fold shape on both engines — a sequential left fold over per-index
  * products (Spark `aggregate`/`zip_with`, DuckDB `list_reduce`/`list_zip`)
  * then dot/(sqrt(n2a)*sqrt(n2b)). IEEE ops on identical operand sequences
  * → bit-identical doubles → thresholds and ORDER BY sim are exact, no
  * rounding fallback needed.
  *
  * Scale notes (100 TB):
  *   - near-dup candidate generation is always bucketed (LSH bands /
  *     shingle inverted index with a frequency cap / IVF cells) — never an
  *     unbucketed all-pairs join; the bounded slices here (`vec_id < 800`,
  *     doc-freq cap 20) stand in for per-bucket work.
  *   - signatures/fingerprints are fixed-width columns so dedup joins
  *     shuffle small keys, not document bodies.
  */
object LlmOps {

  // ---- shared Spark-side vector kit ----------------------------------
  // Native codegen'd Catalyst expression; accumulates in the same index
  // order as the DuckDB oracle's list_reduce fold → bit-identical doubles
  // (see graft.functions.CosineSimilarity).
  private def scos(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_similarity(a, b)

  // ---- shared DuckDB-side vector kit (same fold order) ---------------
  private def ddot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)"
  private def dnorm2(a: String): String =
    s"list_reduce(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)"
  private def dcos(a: String, b: String): String =
    s"(${ddot(a, b)} / (sqrt(${dnorm2(a)}) * sqrt(${dnorm2(b)})))"

  // ---- shared normalization (qllm_dedup_norm; qllm_fingerprint reaches
  // the same expression through graft.api.Graft.fingerprint) -----------
  // single-pass native normalizer, bit-identical to
  // trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))
  // (PropertySpec pins the parity; see graft.functions.NormalizeText)
  private def snorm(c: Column): Column =
    graft.functions.TextFunctions.normalize_text(c)
  private val dnormSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** Normalized-text dedup over a PLANTED twin corpus (round-13 verdict
    * task 1): the fixture has zero normalized full-text dups below sf0.1,
    * so the original documents-only form passed its oracle gate on an
    * EMPTY frame (0 = 0 — a broken `>1` filter or groupBy key would have
    * passed too). The declared corpus is now documents ⊎ perturbed copies
    * of the three lowest doc_ids (leading/trailing whitespace + stripped
    * punctuation — perturbations the normalizer must erase; plain-ASCII
    * spaces/`!`/`?` only, so Spark's and DuckDB's string semantics cannot
    * diverge), with one doc planted TWICE so a 3-copy group exercises the
    * count. The gate row is ≥ 3 groups at every sf, and min/max doc_id pin
    * which side of the union won. The twin offsets are 10¹²-scale
    * (round-13 advice: the original +1e6/+2e6 offsets collided with real
    * doc_ids once the corpus passed 1 M documents — sf60 has 3 M — which
    * broke the min/max forensics above that scale; 10¹² is beyond any
    * plausible sf on a 2⁶³ id space, so the pins now hold at EVERY rung).
    * Scale: the plant is O(1) rows; the groupBy still carries
    * (md5-sized norm key, id) only. */
  private val qllmDedupNorm = QueryDef(
    "qllm_dedup_norm",
    build = (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      val plantA = docs.filter(col("doc_id") < 3)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          concat(lit("  "), col("text"), lit(" !!")).as("text"))
      val plantB = docs.filter(col("doc_id") < 1)
        .select((col("doc_id") + 2000000000000L).as("doc_id"),
          concat(lit("?? "), col("text")).as("text"))
      docs.unionAll(plantA).unionAll(plantB)
        .groupBy(snorm(col("text")).as("norm"))
        .agg(min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
          count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select(col("min_doc"), col("max_doc"), col("n_copies"), md5(col("norm")).as("norm_md5"))
        .orderBy(col("min_doc"))
    },
    oracle = Some(
      "WITH corpus AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000000000 AS doc_id, '  ' || text || ' !!' AS text " +
        "FROM documents WHERE doc_id < 3 " +
        "UNION ALL SELECT doc_id + 2000000000000 AS doc_id, '?? ' || text AS text " +
        "FROM documents WHERE doc_id < 1) " +
        s"SELECT min(doc_id) AS min_doc, max(doc_id) AS max_doc, count(*) AS n_copies, " +
        s"md5($dnormSql) AS norm_md5 FROM corpus GROUP BY $dnormSql " +
        "HAVING count(*) > 1 ORDER BY min_doc"))

  private val qllmSimsearch = QueryDef(
    "qllm_simsearch",
    build = (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), scos(col("embedding"), col("q_emb")).as("sim"))
        .orderBy(desc("sim"), asc("vec_id"))
        .limit(10)
    },
    oracle = Some(
      "WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) " +
        s"SELECT e.vec_id, ${dcos("e.embedding", "q.q_emb")} AS sim " +
        "FROM embeddings e, q WHERE e.vec_id <> 0 " +
        "ORDER BY sim DESC, e.vec_id LIMIT 10"))

  private val qllmLabelKnn = QueryDef(
    "qllm_label_knn",
    build = (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("label"), scos(col("embedding"), col("q_emb")).as("sim"))
        .groupBy(col("label"))
        .agg(count(when(col("sim") >= 0.2, 1)).as("n_close"), count(lit(1)).as("n_total"))
        .orderBy(col("label"))
    },
    oracle = Some(
      "WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0), " +
        s"s AS (SELECT e.label, ${dcos("e.embedding", "q.q_emb")} AS sim " +
        "FROM embeddings e, q WHERE e.vec_id <> 0) " +
        "SELECT label, count(CASE WHEN sim >= 0.2 THEN 1 END) AS n_close, count(*) AS n_total " +
        "FROM s GROUP BY label ORDER BY label"))

  /** Embedding near-dup pairs over a bounded slice: the per-bucket shape of
    * a production LSH/IVF pipeline. Threshold compares bit-identical sims. */
  private val qllmCosNeardup = QueryDef(
    "qllm_cos_neardup",
    build = (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 800)
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
      a.join(b, col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), scos(col("emb_a"), col("emb_b")).as("sim"))
        .filter(col("sim") >= 0.3)
        .orderBy(col("vec_a"), col("vec_b"))
    },
    oracle = Some(
      "WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 800), " +
        "p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        s"${dcos("a.embedding", "b.embedding")} AS sim " +
        "FROM e a JOIN e b ON a.vec_id < b.vec_id) " +
        "SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.3 ORDER BY vec_a, vec_b"))

  /** SRP-LSH near-dup: vectors 0..7 act as hyperplanes; 8 sign bits form
    * the bucket, exact cosine ≥ 0.3 rescoring within buckets only. The
    * DuckDB oracle recomputes the identical cosine doubles, so the sign
    * bits — and therefore the buckets — agree exactly. */
  private val qllmSrpLsh = QueryDef(
    "qllm_srp_lsh",
    build = (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
      // corpus-scaled plane count (the qllm_hardneg sizing rule): fixed
      // planes mean bucket size grows with n and the within-bucket pair
      // scoring goes quadratic — measured 11× on 10× data at sf1
      val pc = e.agg(greatest(lit(5L),
        ceil(log2(count(lit(1)).cast(DoubleType) / lit(8.0)))).as("pc"))
      val planes = e.crossJoin(broadcast(pc)).filter(col("vec_id") < col("pc"))
        .select(col("vec_id").cast(IntegerType).as("pid"), col("embedding").as("p_emb"))
      graft.api.Graft
        .srpCandidates(e, col("vec_id"), col("embedding"), planes, threshold = 0.3)
        .orderBy(col("vec_a"), col("vec_b"))
    },
    oracle = Some(
      "WITH pcnt AS (SELECT GREATEST(5, CAST(ceil(log2(count(*) / 8.0)) AS BIGINT)) AS pc " +
        "FROM embeddings), " +
        "pl AS (SELECT CAST(vec_id AS INTEGER) AS pid, embedding AS p_emb " +
        "FROM embeddings, pcnt WHERE vec_id < pc), " +
        s"bits AS (SELECT e.vec_id, CASE WHEN ${dcos("e.embedding", "p.p_emb")} >= 0 " +
        "THEN (CAST(1 AS BIGINT) << p.pid) ELSE 0 END AS bv " +
        "FROM embeddings e CROSS JOIN pl p), " +
        "bk AS (SELECT vec_id, CAST(sum(bv) AS BIGINT) AS bucket FROM bits GROUP BY vec_id), " +
        "cand AS (SELECT x.bucket, x.vec_id AS vec_a, y.vec_id AS vec_b " +
        "FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id), " +
        s"scored AS (SELECT c.bucket, c.vec_a, c.vec_b, ${dcos("a.embedding", "b.embedding")} AS sim " +
        "FROM cand c JOIN embeddings a ON a.vec_id = c.vec_a " +
        "JOIN embeddings b ON b.vec_id = c.vec_b) " +
        "SELECT bucket, vec_a, vec_b, sim FROM scored WHERE sim >= 0.3 " +
        "ORDER BY vec_a, vec_b"))

  /** Hard-negative mining for contrastive training (anchor → top-3 most
    * similar DIFFERENT-label vectors, searched within the anchor's SRP
    * bucket only — see [[graft.api.Graft.hardNegatives]]): the
    * close-but-wrong-label pairs a contrastive loss needs, produced
    * without any all-pairs join. Sims are bit-identical doubles (shared
    * fold shape), so the (sim DESC, neg_id) ranking is cross-engine
    * exact — no rounding fallback. */
  private val qllmHardneg = QueryDef(
    "qllm_hardneg",
    build = (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
      // Plane count SCALES WITH THE CORPUS: p = max(5, ceil(log2(n/8)))
      // keeps expected SRP bucket size ~8 at any sf, so the within-bucket
      // cross-label scoring stays linear in n. The round-8 sf1 run
      // measured the fixed-8-plane version at 34× on 10× data — fixed
      // bucket COUNT means bucket SIZE grows with the corpus and the
      // bucket join goes quadratic (more vectors per bucket², the classic
      // LSH sizing mistake). Both engines derive p from the same count,
      // so oracle parity holds at every scale; ceil(log2(·)) is
      // ulp-flip-safe because n/8 only lands on an integer log2 at exact
      // powers of two, where log2 is exact in both libms.
      //
      // Plane scaling alone is NOT enough on clustered corpora (this
      // fixture is a 10-cluster mixture): sign bits cannot split a tight
      // cluster, so the largest buckets track cluster sizes whatever p
      // is — the sf3 run measured the uncapped join at 8.8× on 3× data.
      // candidateCap = 64 bounds the negative pool per (bucket, label)
      // to the smallest vec_ids (deterministic candidate sampling, the
      // production miner's move), restoring linearity; the oracle
      // applies the identical cap.
      val pc = e.agg(greatest(lit(5L),
        ceil(log2(count(lit(1)).cast(DoubleType) / lit(8.0)))).as("pc"))
      val planes = e.crossJoin(broadcast(pc)).filter(col("vec_id") < col("pc"))
        .select(col("vec_id").cast(IntegerType).as("pid"), col("embedding").as("p_emb"))
      graft.api.Graft
        .hardNegatives(e, col("vec_id"), col("embedding"), col("label"), planes,
          k = 3, candidateCap = 64)
        .orderBy(col("anchor"), col("rnk"))
    },
    oracle = Some(
      "WITH pcnt AS (SELECT GREATEST(5, CAST(ceil(log2(count(*) / 8.0)) AS BIGINT)) AS pc " +
        "FROM embeddings), " +
        "pl AS (SELECT CAST(vec_id AS INTEGER) AS pid, embedding AS p_emb " +
        "FROM embeddings, pcnt WHERE vec_id < pc), " +
        s"bits AS (SELECT e.vec_id, CASE WHEN ${dcos("e.embedding", "p.p_emb")} >= 0 " +
        "THEN (CAST(1 AS BIGINT) << p.pid) ELSE 0 END AS bv " +
        "FROM embeddings e CROSS JOIN pl p), " +
        "bk AS (SELECT vec_id, CAST(sum(bv) AS BIGINT) AS bucket FROM bits GROUP BY vec_id), " +
        "v AS (SELECT e.vec_id, e.embedding, e.label, bk.bucket " +
        "FROM embeddings e JOIN bk ON bk.vec_id = e.vec_id), " +
        "vc AS (SELECT * FROM (SELECT v.*, row_number() OVER " +
        "(PARTITION BY bucket, label ORDER BY vec_id) AS cr FROM v) WHERE cr <= 64), " +
        s"scored AS (SELECT a.vec_id AS anchor, a.label AS label_a, " +
        s"b.vec_id AS neg_id, b.label AS label_n, ${dcos("a.embedding", "b.embedding")} AS sim " +
        "FROM v a JOIN vc b ON a.bucket = b.bucket AND a.label <> b.label), " +
        "r AS (SELECT *, CAST(row_number() OVER " +
        "(PARTITION BY anchor ORDER BY sim DESC, neg_id) AS BIGINT) AS rnk FROM scored) " +
        "SELECT anchor, label_a, neg_id, label_n, sim, rnk FROM r WHERE rnk <= 3 " +
        "ORDER BY anchor, rnk"))

  /** Bounded SRP near-dup: per vector, its top-5 most cosine-similar
    * bucket-mates (see [[graft.api.Graft.srpTopK]]) — the linear-output
    * production twin of `qllm_srp_lsh`. That query's DECLARED answer
    * (every pair at cosine ≥ 0.3) is quadratic in cluster mass on a
    * clustered corpus (~24% of ALL pairs pass on the sf3 fixture — the
    * output, not the candidate generator, is the scale-killer; PERF.md
    * records the 31.9 s sf3 measurement), so the 100 TB consumer asks the
    * bounded question instead: ≤ 5 rows per vector, candidate pool capped
    * at the 64 smallest ids per bucket (deterministic sampling, mirrored
    * in the oracle), total work and output linear in n at any cluster
    * shape. Plane count scales with the corpus (the qllm_hardneg sizing
    * rule) and sims are bit-identical doubles (shared fold shape), so
    * the (sim DESC, nbr_id) ranking is cross-engine exact. */
  private val qllmSrpTopk = QueryDef(
    "qllm_srp_topk",
    build = (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
      val pc = e.agg(greatest(lit(5L),
        ceil(log2(count(lit(1)).cast(DoubleType) / lit(8.0)))).as("pc"))
      val planes = e.crossJoin(broadcast(pc)).filter(col("vec_id") < col("pc"))
        .select(col("vec_id").cast(IntegerType).as("pid"), col("embedding").as("p_emb"))
      graft.api.Graft
        .srpTopK(e, col("vec_id"), col("embedding"), planes, k = 5, candidateCap = 64)
        .orderBy(col("anchor"), col("rnk"))
    },
    oracle = Some(
      "WITH pcnt AS (SELECT GREATEST(5, CAST(ceil(log2(count(*) / 8.0)) AS BIGINT)) AS pc " +
        "FROM embeddings), " +
        "pl AS (SELECT CAST(vec_id AS INTEGER) AS pid, embedding AS p_emb " +
        "FROM embeddings, pcnt WHERE vec_id < pc), " +
        s"bits AS (SELECT e.vec_id, CASE WHEN ${dcos("e.embedding", "p.p_emb")} >= 0 " +
        "THEN (CAST(1 AS BIGINT) << p.pid) ELSE 0 END AS bv " +
        "FROM embeddings e CROSS JOIN pl p), " +
        "bk AS (SELECT vec_id, CAST(sum(bv) AS BIGINT) AS bucket FROM bits GROUP BY vec_id), " +
        "v AS (SELECT e.vec_id, e.embedding, bk.bucket " +
        "FROM embeddings e JOIN bk ON bk.vec_id = e.vec_id), " +
        "vc AS (SELECT * FROM (SELECT v.*, row_number() OVER " +
        "(PARTITION BY bucket ORDER BY vec_id) AS cr FROM v) WHERE cr <= 64), " +
        s"scored AS (SELECT a.vec_id AS anchor, b.vec_id AS nbr_id, " +
        s"${dcos("a.embedding", "b.embedding")} AS sim " +
        "FROM v a JOIN vc b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id), " +
        "r AS (SELECT *, CAST(row_number() OVER " +
        "(PARTITION BY anchor ORDER BY sim DESC, nbr_id) AS BIGINT) AS rnk FROM scored) " +
        "SELECT anchor, nbr_id, sim, rnk FROM r WHERE rnk <= 5 " +
        "ORDER BY anchor, rnk"))

  /** IVF-style bucketed ANN: vectors 0..7 act as centroids; assign every
    * vector to its best centroid (map-side argmax aggregation — see
    * [[graft.api.Graft.ivfTopK]]), then top-3 per cell. */
  private val qllmIvf = QueryDef(
    "qllm_ivf",
    build = (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
      graft.api.Graft.ivfTopK(e, col("vec_id"), col("embedding"), cents, k = 3)
        .orderBy(col("cid"), col("rnk"))
    },
    oracle = Some(
      "WITH cents AS (SELECT vec_id AS cid, embedding AS c_emb FROM embeddings WHERE vec_id < 8), " +
        s"sims AS (SELECT e.vec_id, c.cid, ${dcos("e.embedding", "c.c_emb")} AS sim " +
        "FROM embeddings e CROSS JOIN cents c), " +
        "assigned AS (SELECT vec_id, cid, sim, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS arn FROM sims), " +
        "topk AS (SELECT cid, vec_id, sim, " +
        "row_number() OVER (PARTITION BY cid ORDER BY sim DESC, vec_id ASC) AS rnk " +
        "FROM assigned WHERE arn = 1) " +
        "SELECT cid, rnk, vec_id, sim FROM topk WHERE rnk <= 3 ORDER BY cid, rnk"))

  private val qllmTextstats = QueryDef(
    "qllm_textstats",
    build = (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          (count(lit(1)) - countDistinct(col("text"))).as("n_dup_rows"))
        .orderBy(col("lang")),
    oracle = Some(
      "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars, " +
        "count(*) - count(DISTINCT text) AS n_dup_rows " +
        "FROM documents GROUP BY lang ORDER BY lang"))

  /** Exact decimal median of n_chars per source (same interpolation scheme
    * as qagg_percentile). */
  private def sourceProfileSql(idiv: String): String =
    "WITH s AS (SELECT source, lang, n_chars, " +
      "row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn, " +
      "count(*) OVER (PARTITION BY source) AS n FROM documents) " +
      "SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs, " +
      s"CAST(CAST((max(CASE WHEN rn = (n-1) $idiv 2 + 1 THEN CAST(n_chars AS DECIMAL(12,1)) END) + " +
      s"max(CASE WHEN rn = n $idiv 2 + 1 THEN CAST(n_chars AS DECIMAL(12,1)) END)) " +
      "* CAST(0.5 AS DECIMAL(2,1)) AS DECIMAL(18,2)) AS STRING) AS median_chars " +
      "FROM s GROUP BY source, n ORDER BY source"

  private val qllmSourceProfile = QueryDef(
    "qllm_source_profile",
    build = (spark, sfDir) =>
      Bridge.sqlOver(spark, sourceProfileSql("div"),
        Map("documents" -> Tables.documents(spark, sfDir))),
    oracle = Some(sourceProfileSql("//")))

  private val stopEn = Seq("the", "and", "of", "to")
  private val stopDe = Seq("der", "die", "und", "das")
  private val stopEs = Seq("el", "la", "los", "que")
  private val stopFr = Seq("le", "les", "des", "une")

  private def hits(words: Column, stop: Seq[String]): Column =
    size(filter(words, w => w.isin(stop: _*))).cast(LongType)
  private def dhits(stop: Seq[String]): String =
    s"len(list_filter(str_split(lower(text), ' '), w -> w IN (${stop.map(s => s"'$s'").mkString(", ")})))"

  /** N-gram-heuristic language ID: stopword votes with a fixed tie-break
    * chain — a deterministic, oracle-checkable stand-in for real langid. */
  private val qllmLangid = QueryDef(
    "qllm_langid",
    build = (spark, sfDir) => {
      val words = split(lower(col("text")), " ")
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"),
          hits(words, stopEn).as("en_h"), hits(words, stopDe).as("de_h"),
          hits(words, stopEs).as("es_h"), hits(words, stopFr).as("fr_h"))
        .withColumn("pred",
          when(col("en_h") > 0 && col("en_h") >= greatest(col("de_h"), col("es_h"), col("fr_h")), "en")
            .when(col("de_h") > 0 && col("de_h") >= greatest(col("es_h"), col("fr_h")), "de")
            .when(col("es_h") > 0 && col("es_h") >= col("fr_h"), "es")
            .when(col("fr_h") > 0, "fr")
            .otherwise("und"))
        .withColumn("is_match", when(col("pred") === col("lang"), 1).otherwise(0))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      s"WITH h AS (SELECT doc_id, lang, ${dhits(stopEn)} AS en_h, ${dhits(stopDe)} AS de_h, " +
        s"${dhits(stopEs)} AS es_h, ${dhits(stopFr)} AS fr_h FROM documents) " +
        "SELECT doc_id, lang, en_h, de_h, es_h, fr_h, " +
        "CASE WHEN en_h > 0 AND en_h >= greatest(de_h, es_h, fr_h) THEN 'en' " +
        "WHEN de_h > 0 AND de_h >= greatest(es_h, fr_h) THEN 'de' " +
        "WHEN es_h > 0 AND es_h >= fr_h THEN 'es' " +
        "WHEN fr_h > 0 THEN 'fr' ELSE 'und' END AS pred, " +
        "CASE WHEN (CASE WHEN en_h > 0 AND en_h >= greatest(de_h, es_h, fr_h) THEN 'en' " +
        "WHEN de_h > 0 AND de_h >= greatest(es_h, fr_h) THEN 'de' " +
        "WHEN es_h > 0 AND es_h >= fr_h THEN 'es' " +
        "WHEN fr_h > 0 THEN 'fr' ELSE 'und' END) = lang THEN 1 ELSE 0 END AS is_match " +
        "FROM h ORDER BY doc_id"))

  private val qllmQuality = QueryDef(
    "qllm_quality",
    build = (spark, sfDir) => {
      val words = split(col("text"), " ")
      val wordsLower = split(lower(col("text")), " ")
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"),
          size(words).cast(LongType).as("n_words"),
          size(array_distinct(words)).cast(LongType).as("n_uniq"),
          hits(wordsLower, stopEn).as("n_stop"))
        .withColumn("avg_wlen",
          (col("n_chars") - (col("n_words") - 1)).cast(DoubleType) / col("n_words").cast(DoubleType))
        .withColumn("score",
          when(col("n_words").between(20, 200), 1).otherwise(0) +
            when(col("avg_wlen").between(3.0, 12.0), 1).otherwise(0) +
            when(col("n_uniq") * 2 > col("n_words"), 1).otherwise(0))
        .select(col("doc_id"), col("n_words"), col("n_uniq"), col("n_stop"),
          col("avg_wlen"), col("score"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      "WITH w AS (SELECT doc_id, n_chars, " +
        "len(str_split(text, ' ')) AS n_words, " +
        "len(list_distinct(str_split(text, ' '))) AS n_uniq, " +
        s"${dhits(stopEn)} AS n_stop FROM documents) " +
        "SELECT doc_id, n_words, n_uniq, n_stop, " +
        "CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) AS avg_wlen, " +
        "(CASE WHEN n_words BETWEEN 20 AND 200 THEN 1 ELSE 0 END + " +
        "CASE WHEN (CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE)) BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END + " +
        "CASE WHEN n_uniq * 2 > n_words THEN 1 ELSE 0 END) AS score " +
        "FROM w ORDER BY doc_id"))

  /** Token counting three ways: whitespace tokens, the chars/4 estimate,
    * and a BPE-ish regex tokenizer — letter runs, digit runs, and single
    * punctuation marks as separate tokens (the GPT-2 pretokenizer shape,
    * restricted to a regex subset Java and RE2 interpret identically, D13). */
  private val bpeRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  private val qllmTokcount = QueryDef(
    "qllm_tokcount",
    build = (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(col("source"),
          size(split(col("text"), " ")).cast(LongType).as("n_words"),
          ceil(col("n_chars").cast(DoubleType) / 4.0).cast(LongType).as("bpe_est"),
          size(regexp_extract_all(lower(col("text")), lit(bpeRegex), lit(0)))
            .cast(LongType).as("bpe_tokens"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast(LongType).as("sum_ws_tokens"),
          sum(col("bpe_est")).cast(LongType).as("sum_bpe_est"),
          sum(col("bpe_tokens")).cast(LongType).as("sum_bpe_tokens"))
        .orderBy(col("source")),
    oracle = Some(
      "WITH d AS (SELECT source, len(str_split(text, ' ')) AS n_words, " +
        "CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS bpe_est, " +
        s"len(regexp_extract_all(lower(text), '$bpeRegex')) AS bpe_tokens FROM documents) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS sum_ws_tokens, " +
        "CAST(sum(bpe_est) AS BIGINT) AS sum_bpe_est, " +
        "CAST(sum(bpe_tokens) AS BIGINT) AS sum_bpe_tokens " +
        "FROM d GROUP BY source ORDER BY source"))

  /** MD5-prefix document fingerprint over normalized text: constant-width
    * dedup key (the join key a 100 TB dedup shuffles instead of bodies). */
  private val qllmFingerprint = QueryDef(
    "qllm_fingerprint",
    build = (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), graft.api.Graft.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("fp")),
    oracle = Some(
      s"SELECT substring(md5($dnormSql), 1, 16) AS fp, count(*) AS n_docs, " +
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
        "FROM documents GROUP BY fp ORDER BY fp"))

  /** Exact n-gram (word-bigram) Jaccard over a shingle inverted index with
    * a doc-frequency cap — candidate generation never goes all-pairs. The
    * jaccard >= 0.25 cut is the integer inequality 4·common >= union.
    *
    * Shingles are carried as 64-bit hashes ([[graft.api.Graft.shingleHashes]]
    * — one word hash + one pair hash, no bigram string ever built), so the
    * groupBy shuffles fixed-width longs instead of strings. Set counts are
    * identical to the string-shingle oracle modulo xxhash64 collisions
    * (p ≈ n²/2⁶⁵ ≈ 1e-8 at sf0.1 — verified hash-identical at all gate SFs). */
  private val qllmNgramJaccard = QueryDef(
    "qllm_ngram_jaccard",
    build = (spark, sfDir) => {
      val sh = graft.api.Graft
        .shingleHashes(Tables.documents(spark, sfDir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("h64").as("sh"))
      // Posting-list pair generation via the reusable inverted index
      // ([[graft.api.Graft.jaccardCandidates]]): pairs exploded from
      // capped posting lists — O(Σ df²), never a row×row self-join.
      graft.api.Graft.jaccardCandidates(sh, dfCap = 20, minNum = 1, minDen = 4)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    oracle = Some(
      "WITH toks AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS word, " +
        "generate_subscripts(str_split(lower(text), ' '), 1) AS pos FROM documents), " +
        "sh AS (SELECT DISTINCT a.doc_id, concat(a.word, ' ', b.word) AS s " +
        "FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), " +
        "keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20), " +
        "shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), " +
        "cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), " +
        "pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common " +
        "FROM shf x JOIN shf y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, n_common, ca.n_sh AS n_a, cb.n_sh AS n_b, " +
        "CAST(n_common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_common AS DOUBLE) AS jaccard " +
        "FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b " +
        "WHERE n_common * 4 >= ca.n_sh + cb.n_sh - n_common " +
        "ORDER BY doc_a, doc_b"))

  /** No oracle (xxhash64 is Spark-specific): MinHash k=16 over word-bigram
    * shingles, LSH-banded (4 bands × 4 rows) candidate pairs, signature-
    * match Jaccard estimate. Property-tested in LlmSpec (estimate vs exact
    * Jaccard; identical texts → estimate 1.0). */
  private val qllmMinhash = QueryDef(
    "qllm_minhash",
    build = (spark, sfDir) => {
      // Thin instantiation of the reusable API: hashed shingles (no bigram
      // strings built — one word hash + one pair hash per token) →
      // ROW-LOCAL native MinHash64 signatures (zero shuffle before the
      // band join; bit-identical to the MinHashAgg pipeline, PropertySpec
      // pin) → LSH-banded candidates.
      val docs = Tables.documents(spark, sfDir)
      val sigs = graft.api.Graft.minhashSignaturesLocal(
        docs, col("doc_id"), col("text"))
      graft.api.Graft.minhashCandidates(sigs)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    oracle = None)

  /** No oracle (xxhash64): 64-bit SimHash over distinct words; near-dup
    * candidate EDGES via identical-fp star-linking + capped 4×16-bit
    * banding over distinct fingerprints (connectivity-complete, linear in
    * the corpus — see [[graft.api.Graft.simhashCandidates]] for the sf1
    * measurement that forced the shape); exact Hamming on the edges. */
  private val qllmSimhash = QueryDef(
    "qllm_simhash",
    build = (spark, sfDir) => {
      // Thin instantiation of the reusable API (native SimHashAgg vote
      // buffer + rep collapse + capped 16-bit banding + exact Hamming).
      val docs = Tables.documents(spark, sfDir)
      graft.api.Graft.simhashCandidates(
          graft.api.Graft.simhashFingerprints(docs, col("doc_id"), col("text")),
          maxHamming = 16)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    oracle = None)

  /** Deterministic hash sampling ([[graft.api.Graft.hashSample]], 2/16 ≈
    * 12.5%): membership is a pure function of content — the same sample
    * on any engine, any cluster size, any re-run. The filter is a scan-
    * level predicate, so at 100 TB the sample never materializes the
    * rejected 87.5%. */
  private val qllmSampleHash = QueryDef(
    "qllm_sample_hash",
    build = (spark, sfDir) =>
      graft.api.Graft.hashSample(Tables.documents(spark, sfDir), col("text"), 2)
        .select(col("doc_id"), col("lang"),
          substring(md5(col("text")), 1, 1).as("bucket"))
        .orderBy(col("doc_id")),
    oracle = Some(
      "SELECT doc_id, lang, substring(md5(text), 1, 1) AS bucket " +
        "FROM documents WHERE substring(md5(text), 1, 1) < '2' ORDER BY doc_id"))

  /** Content-hash train/val/test split ([[graft.api.Graft.hashSplit]],
    * 205/26/25 of 256 buckets ≈ 80/10/10): duplicates land in the same
    * split by construction, so dedup and split ordering can't leak val
    * rows into train. Emitted as per-split aggregates (counts, chars,
    * boundary doc ids). */
  private val qllmSplit = QueryDef(
    "qllm_split",
    build = (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .withColumn("split", graft.api.Graft.hashSplit(col("text")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"))
        .orderBy(col("split")),
    oracle = Some(
      "WITH s AS (SELECT CASE WHEN substring(md5(text), 1, 2) < 'cd' THEN 'train' " +
        "WHEN substring(md5(text), 1, 2) < 'e7' THEN 'val' ELSE 'test' END AS split, " +
        "n_chars, doc_id FROM documents) " +
        "SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "min(doc_id) AS min_doc FROM s GROUP BY split ORDER BY split"))

  /** TF-IDF top-3 terms per document: tf exact counts, idf = ln(N/df)
    * (both engines' libm agrees at the 6 dp the output rounds to —
    * verified at all gate SFs), ranking on the ROUNDED score + word
    * tiebreak so a last-ulp ln difference can never flip a rank. Window
    * partitioned by doc — no global sort.
    *
    * The df table is VOCABULARY-sized (Heaps-law sublinear in corpus —
    * the qllm_dsir reasoning), so it joins back BROADCAST: without the
    * hint the equi-join re-shuffles the whole tf frame by word, and AQE
    * cannot save that cost — both join inputs finish their shuffle
    * WRITES before AQE can switch the strategy, so the big side's
    * exchange happens anyway (measured: this hint cut the sf3 isolate
    * from ~11 s). The hint is UNCONDITIONAL — Spark honors an explicit
    * broadcast() regardless of autoBroadcastJoinThreshold, so a corpus
    * whose vocabulary outgrows driver memory (~10⁹ junk tokens) fails
    * loudly here rather than degrading; such a corpus must pre-prune its
    * vocab (min-df filter) or drop the hint and take the shuffle. */
  private val qllmTfidf = QueryDef(
    "qllm_tfidf",
    build = (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      // document frequency from a row-local distinct pass (count of docs
      // containing the word == count of per-doc-distinct occurrences):
      // map-side combine collapses to the vocab before any exchange, so
      // the old plan's second (doc_id, word) aggregate — which re-ran the
      // tokenize — is gone
      val dfw = docs
        .select(explode(array_distinct(split(lower(col("text")), " "))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("dfw"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // the qwin_gapfill prefix shape: ONE range exchange of the raw doc
      // rows (each doc lives in one task), after which the (doc_id, word)
      // tf aggregate is exchange-free (partitioning ⊆ group keys), the
      // per-doc top-3 window sorts locally, and the closing
      // (doc_id, rn) sort is local (doc_id is an ordering prefix) —
      // the old plan shuffled the 46 M-row tf frame twice more (window +
      // output sort; probed sf30: 136 s CPU in the window stage alone)
      val words = docs.repartitionByRange(col("doc_id"))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      val tf = words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      val scored = tf.join(broadcast(dfw), "word").crossJoin(broadcast(n))
        .withColumn("score", round(col("tf").cast(DoubleType) *
          log(col("n_docs").cast(DoubleType) / col("dfw").cast(DoubleType)), 6))
      val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), asc("word"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("word"), col("tf"), col("dfw"), col("score"))
        .orderBy(col("doc_id"), col("rn"))
    },
    oracle = Some(
      "WITH words AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS word FROM documents), " +
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2), " +
        "dfw AS (SELECT word, count(*) AS dfw FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT doc_id, word, tf, dfw, " +
        "round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(dfw AS DOUBLE)), 6) AS score " +
        "FROM tf JOIN dfw USING (word) CROSS JOIN n), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rn FROM scored) " +
        "SELECT doc_id, rn, word, tf, dfw, score FROM r WHERE rn <= 3 ORDER BY doc_id, rn"))

  /** Training-sequence construction: each user's time-ordered event-type
    * sequence as one row — via [[graft.api.Graft.sequenceConcat]]'s
    * secondary-sort `mapPartitions` concat (repartition by user, external
    * sort within partitions, streaming group iterator), NOT
    * `sort_array(collect_list(…))`: the group-collect buffers every event
    * of a user in one aggregation buffer, which a bot-grade hot key OOMs
    * at 100×. PlanSpec pins the plan to the buffer-free shape. */
  private val qllmSeqs = QueryDef(
    "qllm_seqs",
    build = (spark, sfDir) =>
      graft.api.Graft.sequenceConcat(
        Tables.events(spark, sfDir).withColumn("ts_us", unix_micros(col("ts"))),
        key = "user_id", order1 = "ts_us", order2 = "event_id", value = "event_type")
        .orderBy(col("user_id")),
    oracle = Some(
      "SELECT user_id, count(*) AS n_events, " +
        "string_agg(event_type, ',' ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS seq " +
        "FROM events GROUP BY user_id ORDER BY user_id"))

  /** Length-capped + windowed sequence FEATURES: per user, the last-5
    * event types (chronological) plus inter-event-gap stats — the bounded
    * variant production sequence pipelines actually run. The last-5 window
    * uses a DESC `row_number` whose rows feed `collect_list` through a
    * `CASE WHEN rn <= 5` (collect_list skips nulls), so the aggregation
    * buffer holds ≤ 5 structs per user no matter how hot the key; gaps
    * come from one `lag` over the same per-user partitioning (two sorts,
    * ONE shuffle). Gap sums/extremes are exact BIGINT µs (D6); -1 marks
    * single-event users (no gaps), keeping the column int64 on both
    * engines (a null would float-ify pandas, D15). */
  private val qllmSeqsTopn = QueryDef(
    "qllm_seqs_topn",
    build = (spark, sfDir) => {
      val ev = Tables.events(spark, sfDir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      val wAsc = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val wDesc = Window.partitionBy(col("user_id")).orderBy(desc("ts_us"), desc("event_id"))
      ev.withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(wAsc))
        .withColumn("rn", row_number().over(wDesc))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          coalesce(sum(col("gap_us")), lit(0L)).cast(LongType).as("sum_gap_us"),
          coalesce(max(col("gap_us")), lit(-1L)).cast(LongType).as("max_gap_us"),
          coalesce(min(col("gap_us")), lit(-1L)).cast(LongType).as("min_gap_us"),
          array_join(expr(
            "transform(sort_array(collect_list(CASE WHEN rn <= 5 THEN " +
              "struct(ts_us, event_id, event_type) END)), s -> s.event_type)"),
            ",").as("seq_last5"))
        .orderBy(col("user_id"))
    },
    oracle = Some(
      "WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id, event_type FROM events), " +
        "w AS (SELECT *, ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn FROM e) " +
        "SELECT user_id, count(*) AS n_events, " +
        "CAST(coalesce(sum(gap_us), 0) AS BIGINT) AS sum_gap_us, " +
        "CAST(coalesce(max(gap_us), -1) AS BIGINT) AS max_gap_us, " +
        "CAST(coalesce(min(gap_us), -1) AS BIGINT) AS min_gap_us, " +
        "string_agg(CASE WHEN rn <= 5 THEN event_type END, ',' ORDER BY ts_us, event_id) AS seq_last5 " +
        "FROM w GROUP BY user_id ORDER BY user_id"))

  /** Train/test contamination detector: near-duplicate pairs (the
    * qdedup_clusters edge set, jaccard ≥ 1/2) whose endpoints fall in
    * DIFFERENT content-hash splits — exact duplicates can never cross
    * (same md5 → same split by construction), so every hit is a
    * near-dup leaking eval signal into training. Emitted as per
    * (split_a, split_b) counts + the smallest offending pair. The same
    * candidate generator feeds dedup and this audit — one inverted-index
    * pass serves both at 100 TB. */
  private val qllmContamination = QueryDef(
    "qllm_contamination",
    build = (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      val sh = graft.api.Graft
        .shingleHashes(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("h64").as("sh"))
      val pairs = graft.api.Graft
        .jaccardCandidates(sh, dfCap = 20, minNum = 1, minDen = 2)
        .select(col("doc_a"), col("doc_b"))
      val splits = docs.select(col("doc_id"),
        graft.api.Graft.hashSplit(col("text")).as("split"))
      pairs
        .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
        .filter(col("split_a") =!= col("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"), min(col("doc_a")).as("min_a"))
        .orderBy(col("split_a"), col("split_b"))
    },
    oracle = Some(
      "WITH toks AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS word, " +
        "generate_subscripts(str_split(lower(text), ' '), 1) AS pos FROM documents), " +
        "sh AS (SELECT DISTINCT a.doc_id, concat(a.word, ' ', b.word) AS s " +
        "FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), " +
        "keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20), " +
        "shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), " +
        "cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), " +
        "pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common " +
        "FROM shf x JOIN shf y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        "cand AS (SELECT doc_a, doc_b FROM pairs " +
        "JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b " +
        "WHERE n_common * 2 >= ca.n_sh + cb.n_sh - n_common), " +
        "sp AS (SELECT doc_id, CASE WHEN substring(md5(text), 1, 2) < 'cd' THEN 'train' " +
        "WHEN substring(md5(text), 1, 2) < 'e7' THEN 'val' ELSE 'test' END AS split FROM documents) " +
        "SELECT sa.split AS split_a, sb.split AS split_b, count(*) AS n_pairs, min(doc_a) AS min_a " +
        "FROM cand JOIN sp sa ON sa.doc_id = doc_a JOIN sp sb ON sb.doc_id = doc_b " +
        "WHERE sa.split <> sb.split GROUP BY 1, 2 ORDER BY 1, 2"))

  /** Exact n-gram DECONTAMINATION (the GPT-3/PaLM recipe, complementing
    * [[qllmContamination]]'s near-dup audit): for every NON-train
    * document, how many of its distinct 8-grams also occur anywhere in
    * the train split — the "did eval text leak into training verbatim"
    * check run before every serious evaluation. Grams are hashed 8-token
    * windows (`xxhash64` of the joined slice — longs through every
    * shuffle, the same trick as qllm_ngram_jaccard; the string-side
    * oracle agrees modulo 2⁻⁶⁴-scale collisions). Scale-safe WITHOUT a
    * frequency cap: the train side dedupes to ONE row per distinct gram
    * before the equi-join, so a stop-phrase appearing a billion times
    * joins once per eval gram, never once per occurrence; both distincts
    * and the join shuffle on the fixed-width gram hash. Fixture docs all
    * carry ≥ 10 tokens (TESTDATA), so the ≥ 8-token guard drops nothing
    * here; at scale sub-8-token docs have no 8-grams and cannot leak. */
  private val qllmDecontam = QueryDef(
    "qllm_decontam",
    build = (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          graft.api.Graft.hashSplit(col("text")).as("split"),
          split(lower(col("text")), " ").as("w"))
        .filter(size(col("w")) >= 8)
      val grams = docs.select(col("doc_id"), col("split"),
        explode(graft.functions.NgramFunctions.ngram_hashes(col("w"), 8)).as("g"))
      val trainGrams = grams.filter(col("split") === "train").select(col("g")).distinct()
      // ONE distinct (doc, gram) frame feeds both the per-doc gram count
      // and the leak join — identical subtrees, so Spark's exchange reuse
      // can serve both branches from a single shuffle
      val evDistinct = grams.filter(col("split") =!= "train")
        .select(col("doc_id"), col("split"), col("g")).distinct()
      val nGrams = evDistinct.groupBy(col("doc_id"), col("split"))
        .agg(count(lit(1)).as("n_grams"))
      val leaked = evDistinct
        .join(trainGrams, "g")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_leaked"))
      nGrams.join(leaked, Seq("doc_id"), "left")
        .select(col("doc_id"), col("split"), col("n_grams"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      "WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS w, " +
        "CASE WHEN substring(md5(text), 1, 2) < 'cd' THEN 'train' " +
        "WHEN substring(md5(text), 1, 2) < 'e7' THEN 'val' ELSE 'test' END AS split FROM documents), " +
        "g AS (SELECT doc_id, split, unnest(list_transform(generate_series(1, len(w) - 7), " +
        "i -> array_to_string(w[i:i+7], ' '))) AS g FROM d WHERE len(w) >= 8), " +
        "tg AS (SELECT DISTINCT g FROM g WHERE split = 'train'), " +
        "ev AS (SELECT doc_id, split, g FROM g WHERE split <> 'train'), " +
        "n AS (SELECT doc_id, split, count(DISTINCT g) AS n_grams FROM ev GROUP BY 1, 2), " +
        "o AS (SELECT doc_id, count(*) AS n_leaked FROM " +
        "(SELECT DISTINCT doc_id, g FROM ev) e JOIN tg USING (g) GROUP BY 1) " +
        "SELECT n.doc_id, n.split, n.n_grams, CAST(coalesce(o.n_leaked, 0) AS BIGINT) AS n_leaked " +
        "FROM n LEFT JOIN o ON n.doc_id = o.doc_id ORDER BY n.doc_id"))

  /** Winnowing document fingerprints (the MOSS scheme) over a ROLLING
    * hash: per position, a Rabin–Karp polynomial hash of the 8-char gram
    * (base 257 mod 1e9+7, explicit integer folds — both engines compute
    * the identical value, no engine hash function involved); winnowing
    * then keeps the minimum hash of every 4-window of positions, and the
    * distinct minima are the document's fingerprint set (emitted as
    * count + min/max — order-insensitive, so list_distinct ordering
    * differences cannot matter). The declarative per-position fold costs
    * k·n with k = 8 constant instead of the imperative O(n) rolling
    * update — still linear per char, traded for cross-engine parity.
    * The character codes are computed ONCE per document (one code point
    * per `split(t, '')` element, so `size(cs) = length(t)`) and each
    * gram folds an 8-element `slice`: a per-position `substr(t, i + j, 1)`
    * walks the UTF-8 bytes from the start on every call, O(8·n²) per
    * document. Scale: wholly map-side (transform/aggregate/array_min next
    * to the scan, no shuffle before the output sort) — fingerprinting is
    * embarrassingly parallel, the property that makes winnowing viable
    * over 100 TB. Docs shorter than 11 chars have no complete window and
    * are excluded (fixture minimum is 48 chars, so nothing drops here). */
  private val qllmWinnow = QueryDef(
    "qllm_winnow",
    build = (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text").as("t"))
        .filter(length(col("t")) >= 11)
        .select(col("doc_id"), expr("transform(split(t, ''), c -> ascii(c))").as("cs"))
        .select(col("doc_id"),
          expr("transform(sequence(1, size(cs) - 7), i -> " +
            "aggregate(slice(cs, i, 8), CAST(0 AS BIGINT), " +
            "(a, c) -> (a * 257 + c) % 1000000007))").as("hs"))
        .select(col("doc_id"),
          expr("array_distinct(transform(sequence(1, size(hs) - 3), " +
            "j -> array_min(slice(hs, j, 4))))").as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast(LongType).as("n_fp"),
          expr("array_min(fps)").as("min_fp"),
          expr("array_max(fps)").as("max_fp"))
        .orderBy(col("doc_id")),
    oracle = Some(
      "WITH h AS (SELECT doc_id, list_transform(generate_series(1, length(text) - 7), i -> " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(generate_series(0, 7), j -> CAST(ascii(text[i+j]) AS BIGINT))), " +
        "(a, c) -> (a * 257 + c) % 1000000007)) AS hs " +
        "FROM documents WHERE length(text) >= 11), " +
        "f AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(hs) - 3), " +
        "j -> list_min(hs[j:j+3]))) AS fps FROM h) " +
        "SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, " +
        "list_min(fps) AS min_fp, list_max(fps) AS max_fp FROM f ORDER BY doc_id"))

  /** Overlapping token-window chunking (size 40, stride 30) — the document
    * splitter that feeds a fixed-context trainer. Chunk starts are
    * `k·stride` for `k ∈ [0, ceil(max(0, n-size)/stride)]` — every token
    * covered, no chunk fully contained in its predecessor, tail chunks
    * shorter — all integer math, so both engines enumerate identical
    * windows, and Spark's `slice(arr, start, len)` clamps exactly like
    * DuckDB's inclusive `list_slice`. Scale: pure per-row explode (fanout
    * ≈ n/stride), no shuffle before the output sort; chunk text is
    * re-joined from the token slice so the shuffle carries only emitted
    * chunks, never the token arrays. */
  private val qllmChunk = QueryDef(
    "qllm_chunk",
    build = (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), split(col("text"), "\\s+").as("words"))
        .select(col("doc_id"), col("words"),
          explode(expr("sequence(0, (greatest(0, size(words) - 40) + 29) div 30)")).as("ck"))
        .select(col("doc_id"), col("ck").cast(LongType).as("chunk_id"),
          size(expr("slice(words, ck * 30 + 1, 40)")).cast(LongType).as("n_tokens"),
          array_join(expr("slice(words, ck * 30 + 1, 40)"), " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id")),
    oracle = Some(
      "WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS words FROM documents), " +
        "k AS (SELECT doc_id, words, unnest(generate_series(0, (greatest(0, len(words) - 40) + 29) // 30)) AS ck FROM w) " +
        "SELECT doc_id, CAST(ck AS BIGINT) AS chunk_id, " +
        "CAST(len(list_slice(words, ck * 30 + 1, ck * 30 + 40)) AS BIGINT) AS n_tokens, " +
        "array_to_string(list_slice(words, ck * 30 + 1, ck * 30 + 40), ' ') AS chunk_text " +
        "FROM k ORDER BY doc_id, chunk_id"))

  /** Vocabulary construction (unigrams + bigrams): frequency-ranked term →
    * id assignment, the first step of tokenizer training. Term ids are a
    * GLOBAL rank by (count desc, term asc) — one order column through
    * [[graft.api.Graft.globalRanks]], NOT an unpartitioned
    * `row_number` window: term frequencies are zipf-skewed, which is
    * exactly the distribution where fixed-width value buckets collapse to
    * one hot bucket, so the rank uses sampled-quantile boundaries (the
    * deterministic hash sample — no RNG, identical across runs). Boundary
    * quality affects only balance, never a rank, so the oracle is plain
    * `row_number`. Scale: token explode → one groupBy shuffle on term →
    * metadata-scale rank machinery; no operator ever holds the vocab on
    * one partition. */
  private val qllmVocab = QueryDef(
    "qllm_vocab",
    build = (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("words"))
      val uni = docs.select(explode(col("words")).as("term"))
      // guard size>=2: sequence(1, 0) would enumerate DESCENDING ([1, 0])
      val bi = docs.filter(size(col("words")) >= 2).select(explode(expr(
        "transform(sequence(1, size(words) - 1), " +
          "i -> concat(element_at(words, i), ' ', element_at(words, i + 1)))")).as("term"))
      // The checkpoint makes the subtree reuse STRUCTURAL: the
      // corpus-scale explode → union → groupBy tree feeds three consumers
      // (the boundary sample, the per-bucket counts and the final rank
      // join), which the static plan otherwise replays per consumer and
      // only runtime ReusedExchange collapses. The materialized frame is
      // (term, cnt) — VOCAB-scale, bounded by the distinct-term count,
      // never the corpus — so this is the qagg_mad treatment at the safe
      // altitude (a one-column globalRanks materializes nothing of
      // its caller's frame).
      val counts = Ckpt(uni.unionByName(bi).groupBy(col("term")).agg(count(lit(1)).as("cnt")))
      graft.api.Graft.globalRanks(counts, Seq("vocab_id" -> -col("cnt")),
          Seq(col("term")), buckets = 32, sampleOneIn = 8)
        .select(col("vocab_id"), col("term"), col("cnt"))
        .orderBy(col("vocab_id"))
    },
    oracle = Some(
      "WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words FROM documents), " +
        "u AS (SELECT doc_id, unnest(words) AS term, generate_subscripts(words, 1) AS i FROM w), " +
        "b AS (SELECT term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY i) AS term FROM u), " +
        "terms AS (SELECT term FROM u UNION ALL SELECT term FROM b WHERE term IS NOT NULL), " +
        "v AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term) " +
        "SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS vocab_id, term, cnt " +
        "FROM v ORDER BY vocab_id"))

  /** Symmetric int8 embedding quantization (per-vector absmax scaling —
    * the layout a quantized ANN index or int8 inference path stores):
    * `q[i] = floor(x[i]·127/absmax + 0.5)`. Every reduction here is
    * ORDER-FREE by construction — absmax is a max (exact, commutative)
    * and the summary sums integers — so no cross-engine fold-order
    * parity is needed, unlike the cosine kit. `floor(r + 0.5)` is used
    * instead of `round` because the engines' `round` tie rules differ
    * (half-up vs half-even); floor+½ is the same half-up on both. Zero
    * vectors quantize to an empty array (guarded — the division would
    * NaN-poison the row). Per-row work, no shuffle: at 100 TB this runs
    * entirely map-side next to the scan. */
  private val qllmQuantize = QueryDef(
    "qllm_quantize",
    build = (spark, sfDir) =>
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"),
          expr("array_max(transform(embedding, x -> abs(cast(x as double))))").as("maxabs"))
        .select(col("vec_id"), col("maxabs"),
          expr("CASE WHEN maxabs = 0 THEN array() ELSE " +
            "transform(embedding, x -> CAST(floor(cast(x as double) * 127.0 / maxabs + 0.5) AS BIGINT)) END")
            .as("qv"))
        .select(col("vec_id"), col("maxabs"),
          coalesce(expr("aggregate(qv, 0L, (a, e) -> a + e)"), lit(0L)).as("q_sum"),
          coalesce(array_min(col("qv")), lit(0L)).as("q_min"),
          coalesce(array_max(col("qv")), lit(0L)).as("q_max"))
        .orderBy(col("vec_id")),
    oracle = Some(
      "WITH m AS (SELECT vec_id, embedding, " +
        "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs FROM embeddings), " +
        "qn AS (SELECT vec_id, maxabs, CASE WHEN maxabs = 0 THEN [] ELSE " +
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS BIGINT)) END AS qv FROM m) " +
        "SELECT vec_id, maxabs, CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS q_sum, " +
        "CAST(coalesce(list_min(qv), 0) AS BIGINT) AS q_min, " +
        "CAST(coalesce(list_max(qv), 0) AS BIGINT) AS q_max " +
        "FROM qn ORDER BY vec_id"))

  /** Stratified deterministic sampling: each source stratum gets its OWN
    * rate (25/50/75%, derived from the source id so both engines compute
    * it identically) and membership is a content-hash prefix compare —
    * the [[qllmSampleHash]] machinery per stratum. This is the corpus-
    * mixing primitive (downsample web, keep books): content-stable (dups
    * sample together), rerun-stable (no RNG), and a pure scan-level
    * predicate — the rejected fraction is never materialized, so at
    * 100 TB the cost is the scan, not the sample. */
  private val qllmStratified = QueryDef(
    "qllm_stratified",
    build = (spark, sfDir) => {
      val rate = (lit(25) + lit(25) * (substring(col("source"), 4, 10)
        .cast(IntegerType) % 3)).as("rate_pct")
      val thr = when(col("rate_pct") === 25, "40")
        .when(col("rate_pct") === 50, "80").otherwise("c0")
      val hk = substring(md5(concat(lit("strat:"), col("text"))), 1, 2)
      Tables.documents(spark, sfDir)
        .withColumn("rate_pct", rate)
        .withColumn("__in", hk < thr)
        .groupBy(col("source"), col("rate_pct"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("__in"), 1L).otherwise(0L)).cast(LongType).as("n_sampled"),
          sum(when(col("__in"), col("n_chars")).otherwise(0L)).cast(LongType).as("chars_sampled"))
        .orderBy(col("source"))
    },
    oracle = Some(
      "WITH d AS (SELECT *, 25 + 25 * (CAST(substr(source, 4) AS INT) % 3) AS rate_pct, " +
        "substr(md5('strat:' || text), 1, 2) AS hk FROM documents) " +
        "SELECT source, CAST(rate_pct AS INT) AS rate_pct, count(*) AS n_total, " +
        "CAST(sum(CASE WHEN hk < CASE rate_pct WHEN 25 THEN '40' WHEN 50 THEN '80' ELSE 'c0' END THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled, " +
        "CAST(sum(CASE WHEN hk < CASE rate_pct WHEN 25 THEN '40' WHEN 50 THEN '80' ELSE 'c0' END THEN n_chars ELSE 0 END) AS BIGINT) AS chars_sampled " +
        "FROM d GROUP BY source, rate_pct ORDER BY source"))

  /** Unigram-surprisal quality score — the model-based-filter proxy a
    * pipeline runs before a real LM scorer: per-token surprisal
    * `−ln(cnt(term)/N)` from the corpus's own unigram stats, summed per
    * document. The per-token ln is rounded to 6 dp (cross-engine libm
    * parity granularity, the qllm_tfidf precedent) and CAST TO
    * DECIMAL(18,6) BEFORE the sum, so the per-doc sum is exact integer
    * arithmetic — shuffle-order independent, unlike a double sum. The
    * mean goes back to double through the VARCHAR route (DuckDB's direct
    * DECIMAL→DOUBLE cast is 1-ulp-unround, measured in qagg_corr).
    * Scale: token explode → broadcast unigram table join → one per-doc
    * aggregate; the unigram table is vocab-sized, never corpus-sized. */
  private val qllmSurprisal = QueryDef(
    "qllm_surprisal",
    build = (spark, sfDir) => {
      val w = Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
      val v = w.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val tot = v.agg(sum(col("cnt")).cast(LongType).as("n"))
      val lp = round(log(col("cnt").cast(DoubleType) / col("n").cast(DoubleType)), 6)
        .cast(DecimalType(18, 6))
      w.join(broadcast(v), "term").crossJoin(broadcast(tot))
        .select(col("doc_id"), lp.as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          (-sum(col("lp"))).cast(DecimalType(38, 6)).as("s"))
        .select(col("doc_id"), col("n_tokens"),
          graft.etl.Dets.decStr(col("s")).as("surprisal"),
          (col("s").cast(DoubleType) / col("n_tokens").cast(DoubleType)).as("avg_surprisal"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      "WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term FROM documents), " +
        "v AS (SELECT term, count(*) AS cnt FROM w GROUP BY term), " +
        "tot AS (SELECT sum(cnt) AS n FROM v), " +
        "s AS (SELECT w.doc_id, CAST(round(ln(CAST(v.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp " +
        "FROM w JOIN v USING (term) CROSS JOIN tot), " +
        "g AS (SELECT doc_id, count(*) AS n_tokens, CAST(-sum(lp) AS DECIMAL(38,6)) AS s FROM s GROUP BY doc_id) " +
        "SELECT doc_id, n_tokens, CAST(s AS STRING) AS surprisal, " +
        "CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_surprisal " +
        "FROM g ORDER BY doc_id"))

  /** DSIR-style importance weighting (data selection via importance
    * resampling, Xie et al. 2023 — public): score every raw document by
    * how target-like its unigram bag looks, `imp(d) = Σ_w c_d(w) ·
    * ln(p_t(w)/p_r(w))`, with add-one smoothing over the shared vocab
    * (target = the src0–src3 pool standing in for a curated corpus; raw =
    * everything). The log-ratio is computed per VOCAB TERM (exact double
    * products < 2^53, one IEEE division, one ln), rounded to 6 dp and cast
    * DECIMAL(18,6) BEFORE any per-doc sum — the [[qllmSurprisal]] recipe
    * making the accumulation integer-exact and shuffle-order-free. The
    * keep verdict is `imp > 0` (doc looks more target than raw).
    *
    * Scale: the weight table is VOCAB-sized, never corpus-sized —
    * broadcast at fixture scale; at 100 TB the token→weight equi-join
    * shuffles hashed terms exactly like qllm_tfidf, and the per-doc sum is
    * map-side partial. This is the modern alternative to perplexity
    * filtering (qllm_ppl_bucket) when a target corpus exists. */
  private val qllmDsir = QueryDef(
    "qllm_dsir",
    build = (spark, sfDir) => {
      val w = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"),
          explode(split(lower(col("text")), "\\s+")).as("term"))
      val tgtSet = Seq("src0", "src1", "src2", "src3")
      // raw and target term counts in ONE vocab aggregate (the old
      // cr ⟕ ct join re-tokenized the corpus a second time for the
      // target side; a conditional count over the same stream is the
      // identical pair of integers)
      val v = w.groupBy(col("term")).agg(count(lit(1)).as("cr"),
        count(when(col("source").isin(tgtSet: _*), 1)).as("ct"))
      val tots = v.agg(sum(col("cr")).cast(LongType).as("nr"),
        sum(col("ct")).cast(LongType).as("nt"), count(lit(1)).as("nv"))
      val lw = v.crossJoin(broadcast(tots)).select(col("term"),
        round(log(
          ((col("ct") + 1).cast(DoubleType) * (col("nr") + col("nv")).cast(DoubleType)) /
            ((col("cr") + 1).cast(DoubleType) * (col("nt") + col("nv")).cast(DoubleType))), 6)
          .cast(DecimalType(18, 6)).as("lw"))
      w.join(broadcast(lw), "term")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("lw")).cast(DecimalType(38, 6)).as("imp"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          graft.etl.Dets.decStr(col("imp")).as("imp"),
          when(col("imp") > 0, 1).otherwise(0).as("keep"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      "WITH w AS (SELECT doc_id, source, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term FROM documents), " +
        "cr AS (SELECT term, count(*) AS cr FROM w GROUP BY term), " +
        "ct0 AS (SELECT term, count(*) AS ct FROM w WHERE source IN ('src0','src1','src2','src3') GROUP BY term), " +
        "v AS (SELECT cr.term, cr.cr, coalesce(ct0.ct, 0) AS ct FROM cr LEFT JOIN ct0 USING (term)), " +
        "tots AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS nv FROM v), " +
        "lw AS (SELECT term, CAST(round(ln((CAST(ct + 1 AS DOUBLE) * CAST(nr + nv AS DOUBLE)) / " +
        "(CAST(cr + 1 AS DOUBLE) * CAST(nt + nv AS DOUBLE))), 6) AS DECIMAL(18,6)) AS lw " +
        "FROM v CROSS JOIN tots), " +
        "d AS (SELECT w.doc_id, w.source, count(*) AS n_tokens, CAST(sum(lw.lw) AS DECIMAL(38,6)) AS imp " +
        "FROM w JOIN lw USING (term) GROUP BY w.doc_id, w.source) " +
        "SELECT doc_id, source, n_tokens, CAST(imp AS STRING) AS imp, " +
        "CASE WHEN imp > 0 THEN 1 ELSE 0 END AS keep FROM d ORDER BY doc_id"))

  /** Gopher-style repetition ratios — the standard heuristic quality
    * filters a web-corpus pipeline runs before training: per-document
    * distinct-word ratio, top-word fraction, and duplicate-bigram fraction
    * (fraction of bigram occurrences whose bigram repeats within the doc).
    * All three ratios are exact-integer divisions surfaced as doubles, so
    * both engines produce bit-identical IEEE quotients (D12) — no rounding
    * fallback needed. Bigrams come from `zip_with` over two slices of the
    * SAME materialized word array (never `sequence(1, size-1)`, which turns
    * DESCENDING when size = 1 and would fabricate bigrams for one-word
    * docs; empty slices zip to an empty array instead).
    * Scale: two per-doc aggregation pyramids (word counts, bigram counts),
    * each with map-side partial aggregation on (doc_id, gram); shuffles
    * carry counts, not text. Embarrassingly parallel per document. */
  private val qllmRepetition = QueryDef(
    "qllm_repetition",
    build = (spark, sfDir) => {
      // Every statistic here is ROW-LOCAL — multiplicities of a doc's own
      // grams never cross document boundaries — so the per-doc counts
      // come from ONE native pass over the sorted gram-hash arrays
      // ([[graft.functions.GramRunStats]]), not from corpus-scale
      // (doc, gram) aggregates. The round-11 form grouped by
      // (doc_id, term-STRING) and (doc_id, bigram-STRING): near-unique
      // keys, so the partial aggregates' per-task maps held ~their whole
      // input and fell back to sort-based aggregation — 8 + 8.6 GB of
      // memory-spill at sf30 (Bench --isolate round 12) to count runs a
      // row-local sort computes in-place. Plan is now one narrow scan +
      // the output sort; gram-hash equivalence is the repo's standard
      // 64-bit idiom (string-side oracle agrees modulo 2⁻⁶⁴ collisions).
      // The size(w) >= 2 filter reproduces the old inner d⋈bd join,
      // which dropped docs with no bigram.
      import graft.functions.{GramRunStatsUtil, NgramFunctions}
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"),
          GramRunStatsUtil.gram_run_stats(
            NgramFunctions.ngram_hashes(col("w"), 1)).as("s1"),
          GramRunStatsUtil.gram_run_stats(
            NgramFunctions.ngram_hashes(col("w"), 2)).as("s2"))
        .select(col("doc_id"),
          col("s1.n_grams").as("n_tokens"),
          col("s1.n_distinct").as("n_distinct"),
          (col("s1.n_distinct").cast(DoubleType) /
            col("s1.n_grams").cast(DoubleType)).as("distinct_ratio"),
          (col("s1.top_c").cast(DoubleType) /
            col("s1.n_grams").cast(DoubleType)).as("top_word_frac"),
          (col("s2.dup_c").cast(DoubleType) /
            col("s2.n_grams").cast(DoubleType)).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      "WITH ws AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents), " +
        "tok AS (SELECT doc_id, unnest(w) AS term FROM ws), " +
        "wc AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2), " +
        "d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct, max(c) AS top_c FROM wc GROUP BY 1), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b FROM ws), " +
        "bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2), " +
        "bd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bg, CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_bg FROM bc GROUP BY 1) " +
        "SELECT d.doc_id, d.n_tokens, d.n_distinct, " +
        "CAST(d.n_distinct AS DOUBLE) / d.n_tokens AS distinct_ratio, " +
        "CAST(d.top_c AS DOUBLE) / d.n_tokens AS top_word_frac, " +
        "CAST(bd.dup_bg AS DOUBLE) / bd.n_bg AS dup_bigram_frac " +
        "FROM d JOIN bd USING (doc_id) ORDER BY doc_id"))

  /** Token-budget corpus selection — cap each source's contribution at a
    * fixed token budget, keeping its highest-value documents first (here:
    * longest-first with doc_id tiebreak, D8; a production pipeline orders
    * by a quality score — same plan). Since round 6 the prefix sum is NOT
    * one raw-row window per source (the fixture has ~20 sources — the
    * giant-partition shape): the tokens contributed by strictly-longer
    * docs come off the VALUE-aggregated (source, n_tokens) cumulative
    * frame (domain-bounded — token counts, not documents), and the
    * within-length tiebreak cum is a window partitioned by
    * (source, n_tokens) — many small tie groups. cum_tokens = prior +
    * within-group running sum, all integers → exact, identical to the
    * single-window form the oracle runs. Rows past the budget are
    * filtered before any downstream materialization. */
  private val qllmBudget = QueryDef(
    "qllm_budget",
    build = (spark, sfDir) => {
      val t = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"),
          size(split(lower(col("text")), "\\s+")).cast(LongType).as("n_tokens"))
      val vc = t.groupBy(col("source"), col("n_tokens"))
        .agg((col("n_tokens") * count(lit(1))).as("grp_tokens"))
      val vw = Window.partitionBy(col("source")).orderBy(col("n_tokens").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prior = vc.withColumn("cum_grp", sum(col("grp_tokens")).over(vw))
        .select(col("source"), col("n_tokens"),
          (col("cum_grp") - col("grp_tokens")).as("prior_tokens"))
      val tw = Window.partitionBy(col("source"), col("n_tokens")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.join(prior, Seq("source", "n_tokens"))
        .withColumn("cum_tokens", col("prior_tokens") + sum(col("n_tokens")).over(tw))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
        .filter(col("cum_tokens") <= 800L)
        .orderBy(col("source"), col("doc_id"))
    },
    oracle = Some(
      "WITH t AS (SELECT doc_id, source, CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t) " +
        "SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 800 " +
        "ORDER BY source, doc_id"))

  /** Sequence packing (concat-and-chop) — the step that turns a filtered
    * corpus into fixed-length training windows: documents are concatenated
    * in deterministic doc_id order and chopped into L=512-token contexts;
    * each document reports the packs it spans and its offset in the first
    * one. Packing is per (source, SHARD), shard = `doc_id div 32` — the
    * "file-chunk" decomposition distributed packing actually uses: each
    * contiguous doc_id range packs independently with SHARD-LOCAL pack
    * ids (a global pack id would re-serialize the stream through one
    * cumulative count; consumers address packs as (source, shard,
    * pack_first), all in the output). A plain per-source window would
    * funnel a 100 TB single-source corpus through ONE task; here
    * parallelism scales with the corpus (|shards| grows with data), at
    * the standard cost that each shard's final pack may be partially
    * filled. The window is a partitioned running sum (one long of
    * state); pack ids derive from integral `div`/`%` — all-integer,
    * exact on both engines (shard derivation assumes non-negative
    * doc_id, pinned at fixture generation; Spark `div` truncates where
    * DuckDB `//` floors, which only diverges below zero). */
  private val qllmPack = QueryDef(
    "qllm_pack",
    build = (spark, sfDir) => {
      val t = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"),
          size(split(lower(col("text")), "\\s+")).cast(LongType).as("n_tokens"))
        .withColumn("shard", expr("doc_id div 32"))
      val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
        .select(col("doc_id"), col("source"), col("shard"), col("n_tokens"),
          col("start_tok"),
          expr("start_tok div 512").as("pack_first"),
          expr("(start_tok + n_tokens - 1) div 512").as("pack_last"),
          (col("start_tok") % lit(512L)).as("pack_offset"))
        .orderBy(col("source"), col("doc_id"))
    },
    oracle = Some(
      "WITH t AS (SELECT doc_id, source, doc_id // 32 AS shard, CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok FROM t) " +
        "SELECT doc_id, source, shard, n_tokens, start_tok, " +
        "start_tok // 512 AS pack_first, (start_tok + n_tokens - 1) // 512 AS pack_last, " +
        "start_tok % 512 AS pack_offset " +
        "FROM c ORDER BY source, doc_id"))

  /** Balanced corpus mixing — downsample over-represented sources toward a
    * per-source document target (the "don't let the web crawl drown the
    * books" rebalance): each source keeps the fraction target/n_docs of its
    * documents, realized as an INTEGER hash-bucket threshold
    * `least(256, (256·target) div n_docs)` over the first md5 byte — all
    * integral arithmetic, so both engines compute the identical threshold,
    * and membership is content-stable (re-runs, engines, and cluster sizes
    * agree; the same doc survives everywhere). The byte value is decoded
    * with the SAME `instr`-alphabet expression in both dialects. Sources
    * under target keep everything (thr = 256). Scale: threshold table is
    * |sources| rows (broadcast); the filter is a scan-level predicate —
    * rejected docs are never materialized downstream. */
  private val qllmMix = QueryDef(
    "qllm_mix",
    build = (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      val t = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val thr = t.select(col("source"), col("n_docs"),
        least(lit(256L), expr("2560 div n_docs")).as("thr"))
      val bucket = expr(
        "(instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16" +
          " + (instr('0123456789abcdef', substring(md5(text), 2, 1)) - 1)")
      val kept = docs.select(col("source"), bucket.as("bucket"))
        .join(broadcast(thr), "source")
        .filter(col("bucket") < col("thr"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      thr.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("thr"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
    oracle = Some(
      "WITH t AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1), " +
        "thr AS (SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(least(256, 2560 // n_docs) AS BIGINT) AS thr FROM t), " +
        "b AS (SELECT source, (instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16 " +
        "+ (instr('0123456789abcdef', substring(md5(text), 2, 1)) - 1) AS bucket FROM documents), " +
        "k AS (SELECT b.source, count(*) AS n_kept FROM b JOIN thr USING (source) WHERE b.bucket < thr.thr GROUP BY 1) " +
        "SELECT thr.source, thr.n_docs, thr.thr, CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept " +
        "FROM thr LEFT JOIN k USING (source) ORDER BY thr.source"))

  /** Temperature-flattened corpus mixing (T=2) — the Gopher/Pile-style
    * sampler: post-mix source shares ∝ share^(1/T), so dominant sources are
    * damped and the tail is boosted, without the hard per-source cap of
    * `qllm_mix`. Determinism: the only float op is ONE `sqrt`, which IEEE
    * 754 requires to be correctly rounded — identical in both engines —
    * over a fixed-point integer share `(n_docs·10^12) div total` (≤ 10^12,
    * so the int→double conversion is exact); everything before and after is
    * integral (`div`, `least`), and DuckDB's HUGEINT sums are exact.
    * Membership uses the same content-stable md5 bucket as `qllm_mix`.
    * Scale: two scalar aggregates broadcast as 1-row tables; the threshold
    * table is |sources| rows (broadcast); the keep-filter is a scan-level
    * predicate. The `n_docs·10^12` product needs n_docs < 9.2·10^6 per
    * source — at 100 TB, pre-divide the fixed point (e.g. 10^9) instead. */
  private val qllmMixTemp = QueryDef(
    "qllm_mix_temp",
    build = (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("total"))
      val w = counts.crossJoin(broadcast(tot)).select(
        col("source"), col("n_docs"),
        expr("CAST(floor(sqrt(CAST((n_docs * 1000000000000) div total AS DOUBLE))) AS BIGINT)")
          .as("w"))
      val sw = w.agg(sum(col("w")).as("sum_w"))
      val thr = w.crossJoin(broadcast(sw)).select(
        col("source"), col("n_docs"), col("w"),
        expr("(300 * w) div sum_w").as("keep_target"),
        least(lit(256L), expr("(256 * ((300 * w) div sum_w)) div n_docs")).as("thr"))
      val bucket = expr(
        "(instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16" +
          " + (instr('0123456789abcdef', substring(md5(text), 2, 1)) - 1)")
      val kept = docs.select(col("source"), bucket.as("bucket"))
        .join(broadcast(thr), "source")
        .filter(col("bucket") < col("thr"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      thr.join(broadcast(kept), Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("w"), col("keep_target"),
          col("thr"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
    oracle = Some(
      "WITH t AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1), " +
        "tot AS (SELECT sum(n_docs) AS total FROM t), " +
        "w AS (SELECT source, CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST(floor(sqrt(CAST((n_docs * 1000000000000) // total AS DOUBLE))) AS BIGINT) AS w " +
        "FROM t, tot), " +
        "sw AS (SELECT sum(w) AS sum_w FROM w), " +
        "thr AS (SELECT source, n_docs, w, CAST((300 * w) // sum_w AS BIGINT) AS keep_target, " +
        "CAST(least(256, (256 * ((300 * w) // sum_w)) // n_docs) AS BIGINT) AS thr FROM w, sw), " +
        "b AS (SELECT source, (instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16 " +
        "+ (instr('0123456789abcdef', substring(md5(text), 2, 1)) - 1) AS bucket FROM documents), " +
        "k AS (SELECT b.source, count(*) AS n_kept FROM b JOIN thr USING (source) WHERE b.bucket < thr.thr GROUP BY 1) " +
        "SELECT thr.source, thr.n_docs, thr.w, thr.keep_target, thr.thr, " +
        "CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept " +
        "FROM thr LEFT JOIN k USING (source) ORDER BY thr.source"))

  /** PII detection + redaction — the scrub pass a training-data pipeline
    * runs before anything leaves the raw zone. The fixture word-soup text
    * carries no contact strings, so each doc is prefixed with a
    * deterministically derived one (source+doc_id email, 555- phone) —
    * BOTH engines derive the identical prefix, so the regexes exercise
    * real matches. Counts come from `regexp_extract_all` and the redacted
    * text is emitted as an md5 (fixed width through the shuffle). Patterns
    * are alternation- and backslash-free, so Java (Spark) and RE2 (DuckDB)
    * agree on every match span. Scale: wholly map-side — derive, match,
    * replace, hash all fuse into one codegen stage next to the scan; no
    * shuffle before the output sort. */
  private val qllmPii = QueryDef(
    "qllm_pii",
    build = (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          concat(lit("reach "), col("source"), col("doc_id").cast(StringType),
            lit("@mail.example.com or tel 555-"),
            lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
            lit(" "), col("text")).as("contact"))
        .transform(d => graft.api.Graft.redactPii(d, col("contact")))
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          md5(col("redacted")).as("red_md5"))
        .orderBy(col("doc_id")),
    oracle = Some(
      "WITH c AS (SELECT doc_id, 'reach ' || source || CAST(doc_id AS VARCHAR) || " +
        "'@mail.example.com or tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
        "' ' || text AS contact FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(contact, '[a-z0-9.]+@[a-z.]*[a-z]')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(contact, '555-[0-9]{4}')) AS BIGINT) AS n_phones, " +
        "md5(regexp_replace(regexp_replace(contact, '[a-z0-9.]+@[a-z.]*[a-z]', '<EMAIL>', 'g'), " +
        "'555-[0-9]{4}', '<PHONE>', 'g')) AS red_md5 " +
        "FROM c ORDER BY doc_id"))

  /** Boilerplate detection by 3-gram document frequency — the C4-style
    * pass that strips navigation chrome / license headers repeated across
    * many pages: a gram occurring in ≥ 5 distinct docs is boilerplate, and
    * each doc reports how many of its gram occurrences are boilerplate.
    * Spark shuffles hashed grams (`xxhash64` longs, never text — the
    * qllm_ngram_jaccard/qllm_decontam trick; the string-side oracle agrees
    * modulo 2⁻⁶⁴-scale collisions). Scale: every shuffle — the (doc,gram)
    * distinct, the df count, the per-doc counts, the occurrence join —
    * carries fixed-width longs, never text; the boilerplate set is the df
    * heavy-hitter tail (≤ occurrences/5 grams), joined hash-on-long. */
  private val qllmBoilerplate = QueryDef(
    "qllm_boilerplate",
    build = (spark, sfDir) =>
      graft.api.Graft.boilerplateTag(Tables.documents(spark, sfDir),
          col("doc_id"), col("text"), n = 3, minDf = 5)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_boiler"))
        .orderBy(col("doc_id")),
    oracle = Some(
      "WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2), " +
        "i -> array_to_string(w[i:i+2], ' '))) AS g FROM d WHERE len(w) >= 3), " +
        "b AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY g) WHERE df >= 5), " +
        "n AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1), " +
        "nb AS (SELECT g.doc_id, count(*) AS n_boiler FROM g JOIN b USING (g) GROUP BY 1) " +
        "SELECT n.doc_id, n.n_grams, CAST(coalesce(nb.n_boiler, 0) AS BIGINT) AS n_boiler " +
        "FROM n LEFT JOIN nb USING (doc_id) ORDER BY n.doc_id"))

  /** URL canonicalization + dedup — the crawl-frontier normalizer: scheme/
    * host case-folded, query string (tracking params) stripped, trailing
    * slash dropped; duplicates grouped on the canonical form. The fixture
    * text has no URLs, so each doc derives one deterministically (mixed
    * case, utm junk, %2-conditional trailing slash) identically on both
    * engines, making every normalization step observable. Scale: map-side
    * derive+normalize fused next to the scan; ONE groupBy shuffle on the
    * canonical string (bounded by the canonical-URL domain, not by row
    * count — the same key a crawl dedup shuffles on). */
  private val qllmUrlnorm = QueryDef(
    "qllm_urlnorm",
    build = (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), concat(
          lit("HTTPS://"), upper(col("source")), lit(".Example.COM/p"),
          (col("doc_id") % 7).cast(StringType), lit("/page"),
          (col("doc_id") % 13).cast(StringType),
          when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source="), col("source"), lit("&sid="),
          col("doc_id").cast(StringType)).as("url"))
        .select(col("doc_id"), graft.api.Graft.canonicalUrl(col("url")).as("canon"))
        .groupBy(col("canon"))
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("canon")),
    oracle = Some(
      "WITH u AS (SELECT doc_id, 'HTTPS://' || upper(source) || '.Example.COM/p' || " +
        "CAST(doc_id % 7 AS VARCHAR) || '/page' || CAST(doc_id % 13 AS VARCHAR) || " +
        "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END || " +
        "'?utm_source=' || source || '&sid=' || CAST(doc_id AS VARCHAR) AS url FROM documents), " +
        "c AS (SELECT doc_id, lower(regexp_replace(regexp_replace(url, '\\?.*$', ''), '/$', '')) AS canon FROM u) " +
        "SELECT canon, count(*) AS n_urls, min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
        "FROM c GROUP BY canon ORDER BY canon"))

  /** CCNet-style perplexity bucketing: per-language head/middle/tail
    * terciles of a per-token language-model score — here the corpus's own
    * unigram surprisal (the qllm_surprisal scorer) as the stand-in for the
    * external LM. Determinism: the score is integer micro-nats per token —
    * the exact-decimal surprisal sum scaled by 10⁶, cast to BIGINT, then
    * integer-divided by token count — so ranking and bucketing never
    * touch a float. Terciles are assigned by VALUE, not by per-doc rank:
    * cumulative counts over the (lang, score) aggregated frame give each
    * distinct score `bucket = (3·(cum−1)) div n_lang` — the same
    * value-domain pre-aggregation that makes qjoin_theta_range scale
    * (the per-lang window sorts distinct score values, not documents;
    * at 100 TB swap in sampled boundaries à la qllm_vocab if the score
    * domain itself explodes). */
  private val qllmPplBucket = QueryDef(
    "qllm_ppl_bucket",
    build = (spark, sfDir) => {
      val w = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), "\\s+")).as("term"))
      val v = w.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val tot = v.agg(sum(col("cnt")).cast(LongType).as("n"))
      val lp = round(log(col("cnt").cast(DoubleType) / col("n").cast(DoubleType)), 6)
        .cast(DecimalType(18, 6))
      val g = w.join(broadcast(v), "term").crossJoin(broadcast(tot))
        .select(col("doc_id"), col("lang"), lp.as("lp"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(((-sum(col("lp"))) * lit(1000000L)).cast(LongType).as("micros"),
          count(lit(1)).as("n_tokens"))
        .select(col("lang"), expr("micros div n_tokens").as("sc"))
      val vc = g.groupBy(col("lang"), col("sc")).agg(count(lit(1)).as("cnt"))
      val n = vc.groupBy(col("lang")).agg(sum(col("cnt")).as("n_lang"))
      val cw = Window.partitionBy(col("lang")).orderBy(col("sc"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vc.withColumn("cum", sum(col("cnt")).over(cw))
        .join(broadcast(n), "lang")
        .select(col("lang"), col("sc"), col("cnt"),
          expr("(3 * (cum - 1)) div n_lang").as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(sum(col("cnt")).as("n_docs"), min(col("sc")).as("lo"), max(col("sc")).as("hi"))
        .orderBy(col("lang"), col("bucket"))
    },
    oracle = Some(
      "WITH w AS (SELECT doc_id, lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term FROM documents), " +
        "v AS (SELECT term, count(*) AS cnt FROM w GROUP BY term), " +
        "tot AS (SELECT sum(cnt) AS n FROM v), " +
        "s AS (SELECT w.doc_id, w.lang, CAST(round(ln(CAST(v.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp " +
        "FROM w JOIN v USING (term) CROSS JOIN tot), " +
        "g AS (SELECT lang, CAST(-sum(lp) * 1000000 AS BIGINT) // count(*) AS sc FROM s GROUP BY doc_id, lang), " +
        "vc AS (SELECT lang, sc, count(*) AS cnt FROM g GROUP BY 1, 2), " +
        "n AS (SELECT lang, sum(cnt) AS n_lang FROM vc GROUP BY 1), " +
        "cum AS (SELECT lang, sc, cnt, sum(cnt) OVER (PARTITION BY lang ORDER BY sc) AS cum FROM vc), " +
        "b AS (SELECT cum.lang, sc, cnt, (3 * (cum - 1)) // n_lang AS bucket FROM cum JOIN n USING (lang)) " +
        "SELECT lang, CAST(bucket AS BIGINT) AS bucket, CAST(sum(cnt) AS BIGINT) AS n_docs, " +
        "min(sc) AS lo, max(sc) AS hi FROM b GROUP BY 1, 2 ORDER BY 1, 2"))

  /** Bigram language-model scoring with add-one smoothing — the CCNet-
    * family conditional scorer one step up from `qllm_surprisal`'s
    * unigrams: per-doc −Σ ln((c(w₁w₂)+1)/(c(w₁)+V)). The same exactness
    * recipe: the probability is ONE IEEE division of exact integers, `ln`
    * agrees at the 6-dp round (surprisal precedent), and the rounded
    * log-prob is CAST TO DECIMAL before the per-doc sum, so the sum is
    * exact integer arithmetic — shuffle-order independent. Scale: the
    * unigram table + vocab size broadcast (metadata-scale); the bigram
    * count groupBy and count join key on the NATIVE CHAIN HASH
    * ([[graft.functions.NgramHashChain]]) — fixed-width longs on the
    * wire, never bigram strings, under the standard 2⁻⁶⁴ hashed-gram
    * collision caveat (the oracle still counts literal string joins). */
  private val qllmBigramLm = QueryDef(
    "qllm_bigram_lm",
    build = (spark, sfDir) => {
      val ws = Tables.documents(spark, sfDir)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
      // the vocab-bounded unigram table is CHECKPOINTED (it is consumed
      // twice — the broadcast model join and the vocab-size scalar —
      // and un-checkpointed each consumer re-ran the full corpus
      // tokenize scan behind it; the frame is |vocab| rows)
      val u = Ckpt(ws.select(explode(col("w")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c1")))
      val vv = u.agg(count(lit(1)).as("v"))
      // the bigram travels as its chain HASH (native one-pass
      // [[graft.functions.NgramHashChain]]) — the count groupBy and the
      // count join shuffle fixed-width longs, never bigram strings; w1
      // stays only for the BROADCAST unigram join. Same 2⁻⁶⁴ collision
      // caveat as every hashed-gram shuffle; the oracle still counts
      // literal string bigrams. The (w1, hash) pairs ride codegen'd
      // arrays_zip — the earlier zip_with((a, h) => struct(…)) shape
      // dispatched an INTERPRETED lambda per token (higher-order
      // functions are CodegenFallback; the qllm_novelty measured-dead-
      // end class) in the query's hottest stage.
      val bg = ws.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1).as("w1"),
          graft.functions.NgramFunctions.ngram_hash_chain(col("w"), 2).as("bh")))
          .as("s"))
        .select(col("doc_id"), col("s.w1").as("w1"), col("s.bh").as("b"))
      val bc = bg.groupBy(col("b")).agg(count(lit(1)).as("c12"))
      val lp = round(log((col("c12") + 1).cast(DoubleType) /
        (col("c1") + col("v")).cast(DoubleType)), 6).cast(DecimalType(18, 6))
      // broadcast the unigram lookup BEFORE the bigram-count shuffle join:
      // the vocab join is map-side either way, but done first the shuffle
      // rows carry (doc_id, c1, b) — three fixed-width longs — instead of
      // hauling every w1 STRING through the token-scale exchange (round
      // 11: the join reorder is pure shuffle-byte savings, same rows)
      // the bigram-count table joins BROADCAST too (round 12): bc IS the
      // language model — vocab²-bounded, the same model-fits-one-node
      // contract the broadcast unigram table above already rides — but
      // Catalyst's static estimate for an aggregate over the token
      // explode is fact-scale, so un-hinted the plan shuffled the WHOLE
      // token-scale (doc, c1, b) stream by bigram hash for a join
      // against the model, and stranded the per-doc aggregate on
      // bigram-partitioned input where every task held every doc id
      // (the boilerplate df-tail lesson). With both model joins
      // broadcast the pipeline has ZERO token-scale exchanges: the
      // per-doc aggregate collapses map-side on the scan-contiguous
      // stream. Clean isolate sf30 15.7 → 12.4 s with the arrays_zip
      // and unigram-checkpoint fixes above; the remaining cost is the
      // honest single token-scale scan+explode+join pass (Bench --isolate:
      // 9.3 s of the 12.4, zero spill, 42 MB worst shuffle).
      bg.join(broadcast(u), col("w1") === col("term"))
        .select(col("doc_id"), col("c1"), col("b"))
        .join(broadcast(bc), "b")
        .crossJoin(broadcast(vv))
        .select(col("doc_id"), lp.as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), (-sum(col("lp"))).cast(DecimalType(38, 6)).as("s"))
        .select(col("doc_id"), col("n_bigrams"),
          graft.etl.Dets.decStr(col("s")).as("nll"),
          (col("s").cast(DoubleType) / col("n_bigrams").cast(DoubleType)).as("avg_nll"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      "WITH ws AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents), " +
        "u AS (SELECT term, count(*) AS c1 FROM (SELECT unnest(w) AS term FROM ws) GROUP BY 1), " +
        "vv AS (SELECT count(*) AS v FROM u), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
        "i -> {'w1': w[i], 'b': w[i] || ' ' || w[i+1]})) AS s FROM ws WHERE len(w) >= 2), " +
        "bg2 AS (SELECT doc_id, s.w1 AS w1, s.b AS b FROM bg), " +
        "bc AS (SELECT b, count(*) AS c12 FROM bg2 GROUP BY 1), " +
        "s2 AS (SELECT doc_id, CAST(round(ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp " +
        "FROM bg2 JOIN bc USING (b) JOIN u ON bg2.w1 = u.term CROSS JOIN vv), " +
        "g AS (SELECT doc_id, count(*) AS n_bigrams, CAST(-sum(lp) AS DECIMAL(38,6)) AS s FROM s2 GROUP BY 1) " +
        "SELECT doc_id, n_bigrams, CAST(s AS STRING) AS nll, " +
        "CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS avg_nll " +
        "FROM g ORDER BY doc_id"))

  /** End-to-end near-dup resolution — the decision table a dedup pipeline
    * actually materializes: shingle → capped-df Jaccard candidates →
    * connected components → keeper = min doc per component → per-doc
    * verdict (canonical id, cluster size, keep/drop). Composes the
    * library pieces (`Graft.jaccardCandidates` + `Graft.dedupClusters`)
    * rather than re-deriving them; singletons never enter the component
    * machinery — they fall out of the LEFT join as their own canonical.
    * Scale: everything upstream is the bucketed/capped candidate path;
    * the final joins are (doc → label) keyed shuffles plus a broadcast of
    * the |clusters|-row size table. */
  private val qllmDedupE2e = QueryDef(
    "qllm_dedup_e2e",
    build = (spark, sfDir) => {
      val sh = graft.api.Graft
        .shingleHashes(Tables.documents(spark, sfDir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("h64").as("sh"))
      val pairs = graft.api.Graft.jaccardCandidates(sh, dfCap = 20, minNum = 1, minDen = 2)
      val clusters = graft.api.Graft.dedupClusters(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("cluster"))
      val sizes = clusters.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .select(col("cluster").as("canonical_id"), col("n"))
      Tables.documents(spark, sfDir).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("canonical_id"))
        .join(broadcast(sizes), Seq("canonical_id"), "left")
        .select(col("doc_id"), col("canonical_id"),
          coalesce(col("n"), lit(1L)).as("cluster_size"),
          when(col("doc_id") === col("canonical_id"), lit("keep")).otherwise(lit("drop"))
            .as("action"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      "WITH RECURSIVE toks AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS word, " +
        "generate_subscripts(str_split(lower(text), ' '), 1) AS pos FROM documents), " +
        "sh AS (SELECT DISTINCT a.doc_id, concat(a.word, ' ', b.word) AS s " +
        "FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), " +
        "keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20), " +
        "shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), " +
        "cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), " +
        "pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common " +
        "FROM shf x JOIN shf y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        "cand AS (SELECT doc_a, doc_b FROM pairs " +
        "JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b " +
        "WHERE n_common * 2 >= ca.n_sh + cb.n_sh - n_common), " +
        "e AS (SELECT doc_a AS src, doc_b AS dst FROM cand " +
        "UNION SELECT doc_b, doc_a FROM cand), " +
        "walk AS (SELECT src AS id, src AS lbl FROM e " +
        "UNION SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.id), " +
        "c AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id), " +
        "sz AS (SELECT cluster, count(*) AS n FROM c GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS canonical_id, " +
        "CAST(coalesce(sz.n, 1) AS BIGINT) AS cluster_size, " +
        "CASE WHEN coalesce(c.cluster, d.doc_id) = d.doc_id THEN 'keep' ELSE 'drop' END AS action " +
        "FROM documents d LEFT JOIN c ON c.id = d.doc_id " +
        "LEFT JOIN sz ON sz.cluster = coalesce(c.cluster, d.doc_id) " +
        "ORDER BY d.doc_id"))

  /** One BPE merge round — the inner loop of tokenizer training: count
    * adjacent character-pair frequencies over every word OCCURRENCE (so
    * frequent words weigh their pairs, as BPE requires) and emit the top
    * 20 merge candidates by (count desc, pair asc — D8). The top-k is
    * `orderBy().limit()`, which plans as TakeOrderedAndProject (per-
    * partition top-k + k-row merge — the qagg_skew shape), never a global
    * sort: at 100 TB the pair table is |alphabet|² ≈ small, but the same
    * plan holds for byte-level vocabularies with big alphabets. A full
    * BPE train iterates this round re-segmenting after each merge —
    * driver-looped like `dedupClusters`, one aggregate per round. */
  private val qllmBpePairs = QueryDef(
    "qllm_bpe_pairs",
    build = (spark, sfDir) =>
      // the real BPE trick: reduce to the WORD-FREQUENCY dict first
      // (one keyed, partially-aggregated groupBy), then explode character
      // pairs only over DISTINCT words weighted by their counts —
      // Σ wcnt per pair ≡ the per-occurrence count, but the explode runs
      // on |vocab| rows instead of every word occurrence (Zipf makes
      // that orders of magnitude smaller on any real corpus)
      Tables.documents(spark, sfDir)
        .select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
        .select(col("wcnt"), explode(expr(
          "transform(sequence(1, length(w) - 1), " +
            "i -> concat(substr(w, i, 1), ' ', substr(w, i + 1, 1)))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wcnt")).cast(LongType).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20),
    oracle = Some(
      "WITH t AS (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w FROM documents), " +
        "p AS (SELECT unnest(list_transform(generate_series(1, length(w) - 1), " +
        "i -> w[i] || ' ' || w[i+1])) AS pair FROM t WHERE length(w) >= 2) " +
        "SELECT pair, count(*) AS cnt FROM p GROUP BY pair " +
        "ORDER BY cnt DESC, pair LIMIT 20"))

  /** INCREMENTAL corpus dedup — the daily-update shape: a new batch of
    * documents (here the doc_id%10==7 slice) is deduped against the
    * EXISTING corpus's fingerprint index, then within itself, and each
    * incoming doc gets a disposition: `dup_corpus` (fingerprint already
    * indexed), `dup_batch` (an earlier doc in the same batch owns it),
    * or `new`. The fingerprint is the shared normalization's 40-char
    * prefix (the fixture corpus has no full-text dups below sf0.1 —
    * qllm_dedup_norm plants its own twins for that reason — but prefix
    * collisions exist at every SF, so all three dispositions are
    * exercised). Scale: the corpus side
    * reduces to DISTINCT 16-byte md5 keys before any join (the
    * "fingerprint index" a real pipeline persists — text is scanned
    * once, never shuffled); the batch joins that index and its own
    * min-id frame on the md5 equi-key. Both shuffles carry (16-byte fp,
    * id) pairs only, and the batch side is the small one — at 100 TB
    * corpus / 0.1% daily batch the two probes broadcast. */
  private val qllmIncrDedup = QueryDef(
    "qllm_incr_dedup",
    build = (spark, sfDir) => {
      val fps = Tables.documents(spark, sfDir)
        .select(col("doc_id"), md5(substring(snorm(col("text")), 1, 40)).as("fp"))
      val incoming = fps.filter(col("doc_id") % 10 === 7)
      val corpusFp = fps.filter(col("doc_id") % 10 =!= 7)
        .select(col("fp")).distinct().withColumn("in_corpus", lit(1))
      val batchMin = incoming.groupBy(col("fp")).agg(min(col("doc_id")).as("first_id"))
      incoming
        .join(corpusFp, Seq("fp"), "left")
        .join(batchMin, Seq("fp"))
        .select(col("doc_id"),
          when(col("in_corpus") === 1, lit("dup_corpus"))
            .when(col("doc_id") =!= col("first_id"), lit("dup_batch"))
            .otherwise(lit("new")).as("status"),
          col("fp").as("fp_md5"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      s"WITH fps AS (SELECT doc_id, md5(substring($dnormSql, 1, 40)) AS fp FROM documents), " +
        "inc AS (SELECT * FROM fps WHERE doc_id % 10 = 7), " +
        "corp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 <> 7), " +
        "bmin AS (SELECT fp, min(doc_id) AS first_id FROM inc GROUP BY fp) " +
        "SELECT i.doc_id, CASE WHEN c.fp IS NOT NULL THEN 'dup_corpus' " +
        "WHEN i.doc_id <> b.first_id THEN 'dup_batch' ELSE 'new' END AS status, " +
        "i.fp AS fp_md5 " +
        "FROM inc i LEFT JOIN corp c ON i.fp = c.fp JOIN bmin b ON i.fp = b.fp " +
        "ORDER BY i.doc_id"))

  /** PMI collocation mining — the phrase-extraction pass a tokenizer /
    * vocab pipeline runs to promote high-association word pairs ("new
    * york") into single units. PMI = log P(w1,w2)/(P(w1)·P(w2)); since log
    * is monotone, the RANKING only needs the exact rational inside:
    * ratio_ppm = n12·N1²·10⁶ div (N2·c1·c2), computed in DECIMAL(38,0) /
    * HUGEINT so the ~10²² intermediate is exact on both engines and the
    * top-40 ORDER BY is pure integer comparison — no log, no doubles, no
    * rounding fallback anywhere. min-count 5 is the standard
    * word2vec-style noise floor.
    *
    * Scale: two token-key aggregates (map-side partial) + one bigram
    * aggregate; the unigram table joins to the bigram table on the word
    * key (broadcast here — vocab-sized; hashed-term equi-join at 100 TB,
    * the qllm_dsir note). TakeOrdered handles the top-40. */
  private val qllmPmi = QueryDef(
    "qllm_pmi",
    build = (spark, sfDir) => {
      val ws = Tables.documents(spark, sfDir)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
      val u = ws.select(explode(col("w")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c1"))
      val n1 = u.agg(sum(col("c1")).as("n1tot"))
      val bg = ws.filter(size(col("w")) >= 2)
        .select(explode(expr(
          "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
            "(a, b) -> named_struct('w1', a, 'w2', b))")).as("s"))
        .select(col("s.w1").as("w1"), col("s.w2").as("w2"))
      val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
      val n2 = bc.agg(sum(col("n12")).as("n2tot"))
      bc.filter(col("n12") >= 5)
        .join(broadcast(u.select(col("term").as("__t1"), col("c1").as("c1_w1"))),
          col("w1") === col("__t1"))
        .join(broadcast(u.select(col("term").as("__t2"), col("c1").as("c1_w2"))),
          col("w2") === col("__t2"))
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .select(col("w1"), col("w2"), col("n12"), col("c1_w1"), col("c1_w2"),
          expr("CAST((CAST(n12 AS DECIMAL(38,0)) * n1tot * n1tot * 1000000) div " +
            "(CAST(n2tot AS DECIMAL(38,0)) * c1_w1 * c1_w2) AS BIGINT)").as("pmi_ppm"))
        .orderBy(col("pmi_ppm").desc, col("w1"), col("w2"))
        .limit(40)
    },
    oracle = Some(
      "WITH ws AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents), " +
        "u AS (SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM " +
        "(SELECT unnest(w) AS term FROM ws) GROUP BY 1), " +
        "n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n1tot FROM u), " +
        "bg AS (SELECT unnest(list_transform(range(1, len(w)), " +
        "i -> {'w1': w[i], 'w2': w[i+1]})) AS s FROM ws WHERE len(w) >= 2), " +
        "bg2 AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM bg), " +
        "bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM bg2 GROUP BY 1, 2), " +
        "n2 AS (SELECT CAST(sum(n12) AS BIGINT) AS n2tot FROM bc) " +
        "SELECT w1, w2, n12, a.c1 AS c1_w1, b.c1 AS c1_w2, " +
        "CAST((CAST(n12 AS HUGEINT) * n1tot * n1tot * 1000000) // " +
        "(CAST(n2tot AS HUGEINT) * a.c1 * b.c1) AS BIGINT) AS pmi_ppm " +
        "FROM bc JOIN u a ON bc.w1 = a.term JOIN u b ON bc.w2 = b.term " +
        "CROSS JOIN n1 CROSS JOIN n2 WHERE n12 >= 5 " +
        "ORDER BY pmi_ppm DESC, w1, w2 LIMIT 40"))

  /** Shingle CONTAINMENT (asymmetric near-dup): |A∩B| / min(|A|,|B|) —
    * catches a document EMBEDDED in a larger one (quote farms, page
    * wrappers, boilerplate-padded copies), which symmetric Jaccard
    * under-scores: a 50-shingle doc fully contained in a 500-shingle doc
    * has containment 1.0 but Jaccard ≤ 0.1. Candidates come from the SAME
    * df-capped posting-list inverted index as qllm_ngram_jaccard (hashed
    * shingles, no all-pairs, no text in shuffles) with the Jaccard floor
    * disabled (minNum = 0) so low-Jaccard-high-containment pairs survive
    * to the containment filter (≥ 0.5). One IEEE division of exact
    * integer counts → bit-identical doubles. */
  private val qllmContainment = QueryDef(
    "qllm_containment",
    build = (spark, sfDir) => {
      val sh = graft.api.Graft
        .shingleHashes(Tables.documents(spark, sfDir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("h64").as("sh"))
      graft.api.Graft.jaccardCandidates(sh, dfCap = 20, minNum = 0, minDen = 1)
        .filter(col("n_common") * 2 >= least(col("n_a"), col("n_b")))
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
          (col("n_common").cast(DoubleType) /
            least(col("n_a"), col("n_b")).cast(DoubleType)).as("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    oracle = Some(
      "WITH toks AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS word, " +
        "generate_subscripts(str_split(lower(text), ' '), 1) AS pos FROM documents), " +
        "sh AS (SELECT DISTINCT a.doc_id, concat(a.word, ' ', b.word) AS s " +
        "FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), " +
        "keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20), " +
        "shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), " +
        "cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), " +
        "pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common " +
        "FROM shf x JOIN shf y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, n_common, ca.n_sh AS n_a, cb.n_sh AS n_b, " +
        "CAST(n_common AS DOUBLE) / CAST(least(ca.n_sh, cb.n_sh) AS DOUBLE) AS containment " +
        "FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b " +
        "WHERE n_common * 2 >= least(ca.n_sh, cb.n_sh) " +
        "ORDER BY doc_a, doc_b"))

  /** SemDeDup-style semantic dedup VERDICT (Abbas et al. 2023): embedding
    * near-dup pairs from the SRP-bucketed candidate path (never
    * all-pairs), resolved into a per-vector keep/drop decision — drop v
    * iff ANY lower-id u in v's bucket has cosine ≥ 0.3 (u itself may
    * also be dropped) — and rolled up into the per-label census a
    * curation run reports. This any-lower-id-neighbor rule is a
    * deterministic one-pass variant of SemDeDup's greedy policy and
    * over-drops transitive chains relative to the paper's kept-only
    * comparison (paper-greedy keeps v unless a KEPT representative is
    * near); the trade is a join-shaped, fully parallel decision instead
    * of a sequential scan (D8). Sims are bit-identical doubles (shared
    * fold shape), so the drop set — not just its size — agrees
    * cross-engine exactly.
    *
    * vs qllm_srp_lsh (emits the candidate PAIRS) and qllm_dedup_e2e
    * (text-shingle clusters): this is the embedding-space keeper DECISION,
    * the step between "pairs found" and "rows dropped" for semantic
    * rather than lexical duplicates.
    *
    * Scale: unlike srp_lsh — whose declared OUTPUT is the quadratic pair
    * set — this query's output is a per-vector verdict, so it must not
    * pay pair enumeration: the drop set comes from
    * [[graft.api.Graft.srpDropSet]]'s exact two-phase prune (a linear
    * probe against each bucket's 64 smallest ids decides most vectors —
    * the drop rule is existential — and only survivors re-scan their
    * bucket's remaining lower ids, tiled). Same drop set by construction;
    * the round-10 full-pair path measured 337.9 s materialized at sf30
    * (8.6× on 3× data) before this rewrite. The drop set then joins back
    * on the fixed-width vec_id key. */
  private val qllmSemdedup = QueryDef(
    "qllm_semdedup",
    build = (spark, sfDir) => {
      val e = Tables.embeddings(spark, sfDir)
      // corpus-scaled plane count (the qllm_hardneg sizing rule)
      val pc = e.agg(greatest(lit(5L),
        ceil(log2(count(lit(1)).cast(DoubleType) / lit(8.0)))).as("pc"))
      val planes = e.crossJoin(broadcast(pc)).filter(col("vec_id") < col("pc"))
        .select(col("vec_id").cast(IntegerType).as("pid"), col("embedding").as("p_emb"))
      val dropped = graft.api.Graft
        .srpDropSet(e, col("vec_id"), col("embedding"), planes, threshold = 0.3)
        .withColumn("__drop", lit(1))
      e.select(col("vec_id"), col("label"))
        .join(dropped, Seq("vec_id"), "left")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("__drop").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
        .select(col("label"), col("n_total"), col("n_dropped"),
          (col("n_total") - col("n_dropped")).as("n_kept"))
        .orderBy(col("label"))
    },
    oracle = Some(
      "WITH pcnt AS (SELECT GREATEST(5, CAST(ceil(log2(count(*) / 8.0)) AS BIGINT)) AS pc " +
        "FROM embeddings), " +
        "pl AS (SELECT CAST(vec_id AS INTEGER) AS pid, embedding AS p_emb " +
        "FROM embeddings, pcnt WHERE vec_id < pc), " +
        s"bits AS (SELECT e.vec_id, CASE WHEN ${dcos("e.embedding", "p.p_emb")} >= 0 " +
        "THEN (CAST(1 AS BIGINT) << p.pid) ELSE 0 END AS bv " +
        "FROM embeddings e CROSS JOIN pl p), " +
        "bk AS (SELECT vec_id, CAST(sum(bv) AS BIGINT) AS bucket FROM bits GROUP BY vec_id), " +
        "cand AS (SELECT x.bucket, x.vec_id AS vec_a, y.vec_id AS vec_b " +
        "FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id), " +
        s"scored AS (SELECT c.vec_b, ${dcos("a.embedding", "b.embedding")} AS sim " +
        "FROM cand c JOIN embeddings a ON a.vec_id = c.vec_a " +
        "JOIN embeddings b ON b.vec_id = c.vec_b), " +
        "drp AS (SELECT DISTINCT vec_b AS vec_id FROM scored WHERE sim >= 0.3) " +
        "SELECT e.label, CAST(count(*) AS BIGINT) AS n_total, " +
        "CAST(count(drp.vec_id) AS BIGINT) AS n_dropped, " +
        "CAST(count(*) - count(drp.vec_id) AS BIGINT) AS n_kept " +
        "FROM embeddings e LEFT JOIN drp ON e.vec_id = drp.vec_id " +
        "GROUP BY e.label ORDER BY e.label"))

  /** Cross-source duplication matrix — "which crawl sources copy from
    * which": near-dup candidate pairs (the qllm_ngram_jaccard inverted-
    * index path) rolled up by UNORDERED source pair. The census a
    * curation run reads before deciding which overlapping source to
    * deprioritize; diagonal entries (src_a = src_b) measure intra-source
    * redundancy. Per-pair stats are order-free (count, min/max jaccard —
    * no floating sum across an unordered reduction), so the matrix is
    * deterministic. Scale: the pair stream is already df-capped; the
    * doc→source map joins on the doc key twice, then a metadata-sized
    * |sources|² aggregate. */
  private val qllmCrossdup = QueryDef(
    "qllm_crossdup",
    build = (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      val srcs = docs.select(col("doc_id"), col("source"))
      val sh = graft.api.Graft
        .shingleHashes(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("h64").as("sh"))
      graft.api.Graft.jaccardCandidates(sh, dfCap = 20, minNum = 1, minDen = 4)
        .join(srcs.select(col("doc_id").as("doc_a"), col("source").as("__sa")), "doc_a")
        .join(srcs.select(col("doc_id").as("doc_b"), col("source").as("__sb")), "doc_b")
        .select(least(col("__sa"), col("__sb")).as("src_a"),
          greatest(col("__sa"), col("__sb")).as("src_b"), col("jaccard"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("jaccard")).as("min_jaccard"),
          max(col("jaccard")).as("max_jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    },
    oracle = Some(
      "WITH toks AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS word, " +
        "generate_subscripts(str_split(lower(text), ' '), 1) AS pos FROM documents), " +
        "sh AS (SELECT DISTINCT a.doc_id, concat(a.word, ' ', b.word) AS s " +
        "FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), " +
        "keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20), " +
        "shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), " +
        "cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), " +
        "pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common " +
        "FROM shf x JOIN shf y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        "scored AS (SELECT doc_a, doc_b, " +
        "CAST(n_common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_common AS DOUBLE) AS jaccard " +
        "FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b " +
        "WHERE n_common * 4 >= ca.n_sh + cb.n_sh - n_common), " +
        "lab AS (SELECT s.doc_a, s.doc_b, s.jaccard, " +
        "least(da.source, db.source) AS src_a, greatest(da.source, db.source) AS src_b " +
        "FROM scored s JOIN documents da ON da.doc_id = s.doc_a " +
        "JOIN documents db ON db.doc_id = s.doc_b) " +
        "SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "min(jaccard) AS min_jaccard, max(jaccard) AS max_jaccard " +
        "FROM lab GROUP BY 1, 2 ORDER BY src_a, src_b"))

  /** Embedding hygiene audit — the sanity pass before any ANN/dedup run:
    * per label, vector count, dimensionality check (every row must carry
    * the declared 64 dims), zero-vector count (cosine of a zero vector is
    * NaN — qllm_* bucketing must quarantine them first), and exact
    * min/max squared norms. norm² uses the SHARED sequential fold shape
    * (Spark `aggregate` from 0.0 ≡ DuckDB `list_reduce`: 0 + x₁² is
    * exact, so both engines round identical operand sequences — D12);
    * min/max are order-free, so no floating accumulation anywhere.
    * Scale: one map-side projection + one keyed aggregate; no joins. */
  private val qllmEmbaudit = QueryDef(
    "qllm_embaudit",
    build = (spark, sfDir) => {
      Tables.embeddings(spark, sfDir)
        .select(col("label"), size(col("embedding")).as("dim"),
          expr("aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
            .as("norm2"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("dim") =!= 64, 1L).otherwise(0L)).as("n_bad_dim"),
          sum(when(col("norm2") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          min(col("norm2")).as("min_norm2"),
          max(col("norm2")).as("max_norm2"))
        .orderBy(col("label"))
    },
    oracle = Some(
      s"WITH v AS (SELECT label, len(embedding) AS dim, ${dnorm2("embedding")} AS norm2 " +
        "FROM embeddings) " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "CAST(count(CASE WHEN dim <> 64 THEN 1 END) AS BIGINT) AS n_bad_dim, " +
        "CAST(count(CASE WHEN norm2 = 0.0 THEN 1 END) AS BIGINT) AS n_zero, " +
        "min(norm2) AS min_norm2, max(norm2) AS max_norm2 " +
        "FROM v GROUP BY label ORDER BY label"))

  /** Zipf-law fit over the corpus vocabulary — the log-log OLS of
    * frequency against rank, the corpus-health diagnostic (natural text
    * slopes ≈ −1; template/boilerplate corpora flatten or step). Term
    * frequencies are EXACT (keyed count), and the frequency rank is the
    * EXACT global rank by (freq desc, term asc), one order column
    * through [[graft.api.Graft.globalRanks]] — the same rank
    * `qllm_vocab` runs on the same frame — NOT an unpartitioned
    * `row_number` window: a Heaps-law vocabulary at corpus scale (10⁸⁺
    * terms, hapax-heavy) would funnel through ONE partition's sort, and
    * frequency is exactly the zipf-skewed column where sampled-quantile
    * boundaries are needed for bucket balance (boundaries affect only
    * balance, never a rank, so the output is bit-identical to the
    * window form). ln(rank)/ln(freq) are rounded to six decimals and
    * carried as exact DECIMAL(18,6) (the qagg_entropy pattern —
    * order-independent sums, rounding ties impossible off transcendental
    * operands), products at the (19,6)×(18,6) → DECIMAL(38,12)
    * int128-exact widths, and slope/intercept/R² are one fixed-shape
    * IEEE tree over the VARCHAR-routed moment sums (the qagg_linreg
    * closer).
    *
    * Scale: term counting is the canonical map-side-combined explode;
    * everything after runs on |vocab| rows, and no operator ever holds
    * the vocabulary on one partition. */
  private val qllmZipf = QueryDef(
    "qllm_zipf",
    build = (spark, sfDir) => {
      val freq = Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      val ranked = graft.api.Graft.globalRanks(freq, Seq("rank" -> -col("freq")),
        Seq(col("w")), buckets = 32, sampleOneIn = 8)
      val lx = round(log(col("rank").cast(DoubleType)), 6).cast(DecimalType(18, 6))
      val ly = round(log(col("freq").cast(DoubleType)), 6).cast(DecimalType(18, 6))
      val t = ranked.select(
        lx.as("lx18"), lx.cast(DecimalType(19, 6)).as("lx19"),
        ly.as("ly18"), ly.cast(DecimalType(19, 6)).as("ly19"))
      val s = t.agg(
        count(lit(1)).as("n"),
        sum(col("lx18")).cast(DoubleType).as("sx"),
        sum(col("ly18")).cast(DoubleType).as("sy"),
        sum(col("lx19") * col("ly18")).cast(DoubleType).as("sxy"),
        sum(col("lx19") * col("lx18")).cast(DoubleType).as("sxx"),
        sum(col("ly19") * col("ly18")).cast(DoubleType).as("syy"))
      val (slope, intercept, r2, _) = graft.etl.Dets.olsClose(col("n"),
        col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))
      s.select(col("n").as("n_vocab"),
        slope.as("slope"), intercept.as("intercept"), r2.as("r2"))
    },
    oracle = Some(
      "WITH w AS (SELECT unnest(str_split(text, ' ')) AS w FROM documents), " +
        "f AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w WHERE w <> '' GROUP BY w), " +
        "r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, w) AS rank FROM f), " +
        "t AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lx18, " +
        "CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(19,6)) AS lx19, " +
        "CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6)) AS ly18, " +
        "CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(19,6)) AS ly19 FROM r), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(CAST(sum(lx18) AS VARCHAR) AS DOUBLE) AS sx, " +
        "CAST(CAST(sum(ly18) AS VARCHAR) AS DOUBLE) AS sy, " +
        "CAST(CAST(sum(lx19 * ly18) AS VARCHAR) AS DOUBLE) AS sxy, " +
        "CAST(CAST(sum(lx19 * lx18) AS VARCHAR) AS DOUBLE) AS sxx, " +
        "CAST(CAST(sum(ly19 * ly18) AS VARCHAR) AS DOUBLE) AS syy FROM t) " +
        "SELECT n AS n_vocab, " +
        "(CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope, " +
        "(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE) AS intercept, " +
        "((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)) / " +
        "((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2 " +
        "FROM s"))

  /** Lexical-diversity profile per source — the vocabulary-richness
    * screen (template/boilerplate sources collapse both numbers): the
    * corpus-mass type–token ratio Σdistinct/Σtokens (per-doc distinct
    * counted MAP-SIDE with array_distinct — no explode for this half),
    * and the hapax-legomena fraction of the source's vocabulary (terms
    * seen exactly once — the long-tail health signal), from one
    * (source, term) keyed count. Both ratios are single IEEE divisions
    * of exact counts.
    *
    * Scale: the TTR half never shuffles raw tokens (per-doc reduction
    * is inside the scan projection); the hapax half is the standard
    * map-side-combined term count, output bounded by |sources|·|vocab|. */
  private val qllmLexdiv = QueryDef(
    "qllm_lexdiv",
    build = (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
        .select(col("source"),
          expr("size(filter(split(text, ' '), x -> x <> ''))").cast(LongType).as("n_w"),
          expr("size(array_distinct(filter(split(text, ' '), x -> x <> '')))")
            .cast(LongType).as("n_d"))
      val ttr = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_w")).cast(LongType).as("n_tokens"),
        sum(col("n_d")).cast(LongType).as("n_doc_types"))
      val hapax = Tables.documents(spark, sfDir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_vocab"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).cast(LongType).as("n_hapax"))
      ttr.join(hapax, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_vocab"), col("n_hapax"),
          (col("n_doc_types").cast(DoubleType) / col("n_tokens").cast(DoubleType)).as("ttr"),
          (col("n_hapax").cast(DoubleType) / col("n_vocab").cast(DoubleType)).as("hapax_frac"))
        .orderBy(col("source"))
    },
    oracle = Some(
      "WITH d AS (SELECT source, " +
        "CAST(len(list_filter(str_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_w, " +
        "CAST(len(list_distinct(list_filter(str_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_d " +
        "FROM documents), " +
        "t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_w) AS BIGINT) AS n_tokens, CAST(sum(n_d) AS BIGINT) AS n_doc_types " +
        "FROM d GROUP BY 1), " +
        "wc AS (SELECT source, w, count(*) AS cnt FROM " +
        "(SELECT source, unnest(str_split(text, ' ')) AS w FROM documents) WHERE w <> '' GROUP BY 1, 2), " +
        "h AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab, " +
        "CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax FROM wc GROUP BY 1) " +
        "SELECT source, n_docs, n_tokens, n_vocab, n_hapax, " +
        "CAST(n_doc_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr, " +
        "CAST(n_hapax AS DOUBLE) / CAST(n_vocab AS DOUBLE) AS hapax_frac " +
        "FROM t JOIN h USING (source) ORDER BY source"))

  def defs: Seq[QueryDef] = Seq(
    qllmIncrDedup,
    qllmDedupNorm, qllmSimsearch, qllmLabelKnn, qllmCosNeardup, qllmSrpLsh, qllmSrpTopk,
    qllmIvf, qllmHardneg,
    qllmTextstats, qllmSourceProfile, qllmLangid, qllmQuality, qllmTokcount,
    qllmFingerprint, qllmNgramJaccard, qllmMinhash, qllmSimhash,
    qllmSampleHash, qllmSplit, qllmTfidf, qllmSeqs, qllmSeqsTopn, qllmContamination,
    qllmDecontam, qllmWinnow, qllmChunk, qllmVocab, qllmQuantize, qllmStratified, qllmSurprisal, qllmDsir,
    qllmRepetition, qllmBudget, qllmPack, qllmMix, qllmMixTemp,
    qllmPii, qllmBoilerplate, qllmUrlnorm, qllmPplBucket, qllmBigramLm, qllmDedupE2e,
    qllmBpePairs, qllmNovelty, qllmRouge2, qllmDupfrac, qllmBleu,
    qllmPmi, qllmContainment, qllmSemdedup, qllmCrossdup, qllmEmbaudit,
    qllmZipf, qllmLexdiv)

  /** ROUGE-2 between near-duplicate candidate pairs — the eval-metric
    * computation a data pipeline runs at corpus scale (summary-vs-source
    * or candidate-vs-reference scoring), expressed over distinct word
    * bigrams: precision = overlap/|A|, recall = overlap/|B|,
    * F1 = 2·overlap/(|A|+|B|). Pairs come from the SAME df-capped
    * posting-list inverted index as qllm_ngram_jaccard (hashed shingles,
    * no text in shuffles, never all-pairs); every metric is one IEEE
    * division of exact integer counts → bit-identical doubles. */
  private val qllmRouge2 = QueryDef(
    "qllm_rouge2",
    build = (spark, sfDir) => {
      val sh = graft.api.Graft
        .shingleHashes(Tables.documents(spark, sfDir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("h64").as("sh"))
      graft.api.Graft.jaccardCandidates(sh, dfCap = 20, minNum = 1, minDen = 4)
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
          (col("n_common").cast(DoubleType) / col("n_a").cast(DoubleType)).as("rouge2_p"),
          (col("n_common").cast(DoubleType) / col("n_b").cast(DoubleType)).as("rouge2_r"),
          ((col("n_common") * 2).cast(DoubleType) /
            (col("n_a") + col("n_b")).cast(DoubleType)).as("rouge2_f1"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    oracle = Some(
      "WITH toks AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS word, " +
        "generate_subscripts(str_split(lower(text), ' '), 1) AS pos FROM documents), " +
        "sh AS (SELECT DISTINCT a.doc_id, concat(a.word, ' ', b.word) AS s " +
        "FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), " +
        "keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20), " +
        "shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), " +
        "cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), " +
        "pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common " +
        "FROM shf x JOIN shf y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, n_common, ca.n_sh AS n_a, cb.n_sh AS n_b, " +
        "CAST(n_common AS DOUBLE) / CAST(ca.n_sh AS DOUBLE) AS rouge2_p, " +
        "CAST(n_common AS DOUBLE) / CAST(cb.n_sh AS DOUBLE) AS rouge2_r, " +
        "CAST(n_common * 2 AS DOUBLE) / CAST(ca.n_sh + cb.n_sh AS DOUBLE) AS rouge2_f1 " +
        "FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b " +
        "WHERE n_common * 4 >= ca.n_sh + cb.n_sh - n_common " +
        "ORDER BY doc_a, doc_b"))

  /** Shared shape of qllm_novelty / qllm_dupfrac: the doc-scale
    * (doc_id, n_grams) frame plus the exploded (doc_id, g) gram stream,
    * with the stream repartitioned on the gram key before its
    * corpus-wide aggregate when — and only when — the key universe
    * outgrows the session default. Gram-hash keys are nearly UNIQUE
    * (that most content is NOT shared is the point of both metrics), so
    * map-side partial aggregation reduces ~nothing while each scan
    * task's hash map wants ~its whole input as state — measured at sf30
    * as 7.1 + 6.8 GB of sort-fallback spill inside qllm_dupfrac's
    * frequency aggregate (PERF.md round 12). An explicit repartition on
    * `g` moves BOTH aggregate modes past the exchange, where per-task
    * keys = keys/partitions (map-side combine is only free when keys
    * repeat WITHIN a task). The partition count is sized from the EXACT
    * gram total — Σ per-doc distinct counts, read off the checkpointed
    * perDoc frame both callers join against anyway, so sizing costs one
    * doc-scale sum — at [[TableStats.rowsPerTask]]; below the trip point
    * the aggregate keeps its own (partial-agg) exchange. */
  private def gramStream(spark: SparkSession, sfDir: String, n: Int)
      : (DataFrame, DataFrame) = {
    val gsets = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        array_distinct(graft.functions.NgramFunctions.ngram_hashes(col("w"), n))
          .as("gs"))
    // doc-scale (id, count) frame: checkpointed ([[graft.etl.Ckpt]]) so
    // the sizing sum and the final join read it without re-running the
    // tokenize+hash scan
    val perDoc = Ckpt(gsets
      .select(col("doc_id"), size(col("gs")).cast(LongType).as("n_grams")))
    val totalGrams = Option(perDoc.agg(sum(col("n_grams"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val grams = gsets.select(col("doc_id"), explode(col("gs")).as("g"))
    val keyed = TableStats.sizedPartitions(spark, totalGrams,
        TableStats.rowsPerTask(spark), margin = 1.25)
      .fold(grams)(n => grams.repartition(n, col("g")))
    (perDoc, keyed)
  }

  /** Per-document n-gram NOVELTY — what fraction of a doc's content is
    * first seen in IT rather than any earlier document (doc_id order =
    * ingestion order): the marginal-contribution score a curation pipeline
    * uses to rank candidate sources, the soft complement of hard dedup.
    * A gram's "owner" is min(doc_id) over the docs containing it; a doc's
    * novelty is the fraction of its distinct 5-grams it owns.
    *
    * Scale: grams are hashed to longs before any shuffle (the
    * qllm_decontam trick — the string-side oracle agrees modulo 2⁻⁶⁴
    * collisions); per-doc distinct runs map-side via array_distinct.
    * The corpus-wide gram table shuffles exactly ONCE (the min-owner
    * aggregate, key-repartitioned and sized via [[gramStream]]):
    * ownership counts come from re-grouping that aggregate's
    * 1-row-per-gram output by owner — NOT from joining the gram table
    * back against it (the earlier shape; its sort-merge join was the
    * whole cost at sf1) — and per-doc gram totals come off the
    * pre-explode array size (doc-scale, no token-scale aggregate).
    * Novelty = one IEEE division of exact integer counts. */
  private val qllmNovelty = QueryDef(
    "qllm_novelty",
    build = (spark, sfDir) => {
      // gram hashing rides the native one-pass expression
      // ([[graft.functions.NgramHashes]] — values bit-identical to the
      // xxhash64(array_join(slice)) shape it replaces). Measured dead
      // end, do not retry: hashing per-word hashes via nested lambdas
      // (wh = transform(w, xxhash64), gram = xxhash64(wh[j..j+4])) read
      // 50.6 s vs 10.0 s at sf1 — higher-order lambdas evaluate
      // interpreted and five boxed GetArrayItem calls per gram dwarf
      // the join+hash intrinsic pair.
      val (perDoc, grams) = gramStream(spark, sfDir, 5)
      val novel = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
        .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
      perDoc.join(novel, col("doc_id") === col("first_doc"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          (coalesce(col("n_novel"), lit(0L)).cast(DoubleType) /
            col("n_grams").cast(DoubleType)).as("novelty"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      "WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents), " +
        "raw AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 4), " +
        "i -> array_to_string(w[i:i+4], ' '))) AS g FROM d WHERE len(w) >= 5), " +
        "g AS (SELECT DISTINCT doc_id, g FROM raw), " +
        "f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g) " +
        "SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
        "CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS novelty " +
        "FROM g JOIN f USING (g) GROUP BY g.doc_id ORDER BY doc_id"))

  /** Per-document DUPLICATED-CONTENT fraction — the exact-substring dedup
    * decision metric (Lee et al.-style: drop or trim docs whose content is
    * mostly present elsewhere): fraction of a doc's distinct 8-grams that
    * occur in ≥ 2 documents, with an integer-predicate keep/drop verdict
    * (drop when 2·n_shared ≥ n_grams, i.e. ≥ half the content is
    * duplicated). Complements qllm_novelty (first-seen ownership) with
    * SHARED-ness — a doc can be 100% novel-owner yet 100% shared.
    *
    * Scale: grams are hashed to longs before any shuffle (the decontam
    * trick; the string-side oracle agrees modulo 2⁻⁶⁴ collisions) and
    * per-doc distinct runs map-side via array_distinct. The corpus-wide
    * gram table shuffles exactly ONCE (the per-gram doc-count aggregate,
    * key-repartitioned and sized via [[gramStream]] — its map-side
    * partial agg over near-unique keys was 7.1 + 6.8 GB of sort-fallback
    * spill at sf30); a SINGLETON gram (n_docs = 1) belongs wholly to its
    * one doc, so n_shared = n_grams − n_unique falls out of re-grouping
    * that aggregate's singleton rows by owning doc — no join of the gram
    * table back against its own aggregate (the earlier shape; its
    * sort-merge join dominated the sf1 cost). n_grams comes off the
    * pre-explode array size (doc-scale, no token-scale aggregate). */
  private val qllmDupfrac = QueryDef(
    "qllm_dupfrac",
    build = (spark, sfDir) => {
      val (perDoc, grams) = gramStream(spark, sfDir, 8)
      // min(doc_id) is THE doc for a singleton gram; shared grams never
      // survive the n_docs = 1 filter, so the re-group is exact.
      val uniq = grams.groupBy(col("g"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("d"))
        .filter(col("n_docs") === 1)
        .groupBy(col("d")).agg(count(lit(1)).as("n_unique"))
      perDoc.join(uniq, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("n_grams"),
          (col("n_grams") - coalesce(col("n_unique"), lit(0L))).as("n_shared"))
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          (col("n_shared").cast(DoubleType) / col("n_grams").cast(DoubleType))
            .as("dup_frac"),
          when(col("n_shared") * 2 >= col("n_grams"), lit("drop"))
            .otherwise(lit("keep")).as("verdict"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(
      "WITH d AS (SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents), " +
        "raw AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 7), " +
        "i -> array_to_string(w[i:i+7], ' '))) AS g FROM d WHERE len(w) >= 8), " +
        "g AS (SELECT DISTINCT doc_id, g FROM raw), " +
        "f AS (SELECT g, CAST(count(*) AS BIGINT) AS n_docs FROM g GROUP BY g) " +
        "SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
        "CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared, " +
        "CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS dup_frac, " +
        "CASE WHEN sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) * 2 >= count(*) " +
        "THEN 'drop' ELSE 'keep' END AS verdict " +
        "FROM g JOIN f USING (g) GROUP BY g.doc_id ORDER BY doc_id"))

  /** BLEU-style CLIPPED n-gram precision between near-dup candidate pairs
    * (machine-translation / generation eval at corpus scale): unlike
    * qllm_rouge2's distinct-set overlap, BLEU counts MULTISETS — each
    * candidate token counts at most min(count_cand, count_ref) times —
    * so "the the the" no longer scores 1.0 against one "the". p1/p2 are
    * Σ min-counts over unigram/bigram types ÷ candidate token counts, each
    * ONE IEEE division of exact integers (no exp/geomean — cross-engine
    * transcendentals are not bit-stable; callers compose BLEU-N from the
    * emitted exact parts).
    *
    * Scale: per-doc (gram-hash, count) tables are partial-aggregable;
    * pairs come from the SAME df-capped posting-list index as
    * qllm_rouge2 (never all-pairs); the clipped-overlap join is keyed on
    * (doc, gram-hash) — text never shuffles. */
  private val qllmBleu = QueryDef(
    "qllm_bleu",
    build = (spark, sfDir) => {
      val sh = graft.api.Graft
        .shingleHashes(Tables.documents(spark, sfDir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("h64").as("sh"))
      // Pair-scale, consumed FOUR times below (the assembly spine, both
      // clipped arms, and the doc restriction) — checkpoint once
      // ([[graft.etl.Ckpt]]).
      val pairs = Ckpt(graft.api.Graft.jaccardCandidates(sh, dfCap = 20, minNum = 1, minDen = 4)
        .select(col("doc_a"), col("doc_b")))
      // The multiset gram counts are needed ONLY for documents that
      // appear in a candidate pair. The round-11 form counted grams for
      // the WHOLE corpus and then left-joined pairs: at sf30 that was
      // two corpus-scale (doc, gram) aggregates over ~near-unique keys —
      // 20 GB of partial-agg sort-fallback spill (Bench --isolate round 12)
      // — while the GenData fixtures' candidate set is EMPTY (0 pairs at
      // sf10/sf30: random docs don't pass Jaccard ≥ 1/4), so 100 % of
      // that work produced nothing. Gram cost now scales with PAIR
      // density (the quantity the output is quadratic in — the honest
      // driver), not corpus size: pair-member docs only.
      val pairDocs = pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
        .join(pairDocs, Seq("doc_id"))
      // MULTISET gram counts — no array_distinct, each occurrence counts.
      def gramCounts(n: Int): DataFrame = {
        // ngram_hashes(w, 1) == transform(w, xxhash64) value-for-value
        // (a 1-gram slice is the word's own bytes), so one native path
        // serves both arms
        docs.filter(size(col("w")) >= n)
          .select(col("doc_id"),
            explode(graft.functions.NgramFunctions.ngram_hashes(col("w"), n)).as("g"))
          .groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("c"))
      }
      // Σ min(count_a, count_b) over shared gram types, keyed on (doc, gram).
      def clipped(gc: DataFrame, out: String): DataFrame =
        pairs
          .join(gc.select(col("doc_id").as("doc_a"), col("g"), col("c").as("ca")), Seq("doc_a"))
          .join(gc.select(col("doc_id").as("doc_b"), col("g"), col("c").as("cb")), Seq("doc_b", "g"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(sum(least(col("ca"), col("cb"))).as(out))
      val gc1 = gramCounts(1)
      val gc2 = gramCounts(2)
      // Round 14 (guide §1.2 — don't compute things you can project): the
      // reference length Σc over a doc's gram MULTISET is just its gram
      // COUNT — size(w) for 1-grams, size(w)−1 for 2-grams — so both lens
      // frames are narrow projections of `docs` (same ≥ n gram-existence
      // filter as gramCounts, so the inner joins keep/drop identical
      // pairs), not a second explode + (doc, gram) aggregate per arm.
      // Two full gram aggregates (and their exchanges) disappear; the
      // sums are identical by definition of a multiset count.
      def lens(n: Int, out: String): DataFrame =
        docs.filter(size(col("w")) >= n)
          .select(col("doc_id").as("doc_a"),
            (size(col("w")) - lit(n - 1)).cast(LongType).as(out))
      pairs
        .join(lens(1, "len1"), Seq("doc_a"))
        .join(lens(2, "len2"), Seq("doc_a"))
        .join(clipped(gc1, "c1"), Seq("doc_a", "doc_b"), "left")
        .join(clipped(gc2, "c2"), Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          coalesce(col("c1"), lit(0L)).as("clip1"), col("len1"),
          coalesce(col("c2"), lit(0L)).as("clip2"), col("len2"),
          (coalesce(col("c1"), lit(0L)).cast(DoubleType) / col("len1").cast(DoubleType)).as("bleu_p1"),
          (coalesce(col("c2"), lit(0L)).cast(DoubleType) / col("len2").cast(DoubleType)).as("bleu_p2"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    oracle = Some(
      // Pair selection replicates qllm_rouge2's candidate CTE exactly
      // (df-capped distinct-bigram posting lists, Jaccard >= 1/4).
      "WITH toks AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS word, " +
        "generate_subscripts(str_split(lower(text), ' '), 1) AS pos FROM documents), " +
        "sh AS (SELECT DISTINCT a.doc_id, concat(a.word, ' ', b.word) AS s " +
        "FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), " +
        "keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20), " +
        "shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)), " +
        "cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), " +
        "cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common " +
        "FROM shf x JOIN shf y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        "pairs AS (SELECT doc_a, doc_b FROM cand " +
        "JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b " +
        "WHERE n_common * 4 >= ca.n_sh + cb.n_sh - n_common), " +
        // multiset unigram / bigram counts per doc
        "u1 AS (SELECT doc_id, word AS g, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2), " +
        "b2 AS (SELECT a.doc_id, concat(a.word, ' ', b.word) AS g " +
        "FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), " +
        "u2 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM b2 GROUP BY 1, 2), " +
        "l1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len1 FROM u1 GROUP BY doc_id), " +
        "l2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len2 FROM u2 GROUP BY doc_id), " +
        "c1 AS (SELECT p.doc_a, p.doc_b, CAST(sum(least(a.c, b.c)) AS BIGINT) AS c1 FROM pairs p " +
        "JOIN u1 a ON a.doc_id = p.doc_a JOIN u1 b ON b.doc_id = p.doc_b AND b.g = a.g GROUP BY 1, 2), " +
        "c2 AS (SELECT p.doc_a, p.doc_b, CAST(sum(least(a.c, b.c)) AS BIGINT) AS c2 FROM pairs p " +
        "JOIN u2 a ON a.doc_id = p.doc_a JOIN u2 b ON b.doc_id = p.doc_b AND b.g = a.g GROUP BY 1, 2) " +
        "SELECT p.doc_a, p.doc_b, COALESCE(c1.c1, 0) AS clip1, l1.len1, " +
        "COALESCE(c2.c2, 0) AS clip2, l2.len2, " +
        "CAST(COALESCE(c1.c1, 0) AS DOUBLE) / CAST(l1.len1 AS DOUBLE) AS bleu_p1, " +
        "CAST(COALESCE(c2.c2, 0) AS DOUBLE) / CAST(l2.len2 AS DOUBLE) AS bleu_p2 " +
        "FROM pairs p JOIN l1 ON l1.doc_id = p.doc_a JOIN l2 ON l2.doc_id = p.doc_a " +
        "LEFT JOIN c1 ON c1.doc_a = p.doc_a AND c1.doc_b = p.doc_b " +
        "LEFT JOIN c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b " +
        "ORDER BY p.doc_a, p.doc_b"))
}
