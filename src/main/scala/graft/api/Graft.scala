package graft.api

import graft.etl.Ckpt
import graft.functions.VectorFunctions.{cosine_similarity, dot_product, vector_norm}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's reusable, table-agnostic operator surface. The declared
  * SURVEY §2 queries are fixture-bound instantiations of these; a user
  * brings their own DataFrames and calls these directly.
  *
  * Design rules carried over from the query layer:
  *   - deterministic keepers everywhere (never an arbitrary-row winner);
  *   - candidate generation is always bucketed (LSH bands / capped posting
  *     lists), never an unbounded all-pairs join;
  *   - shuffles carry fixed-width keys (hashes, signatures), not payloads.
  */
object Graft {

  // ------------------------------------------------------------------
  // Dedup
  // ------------------------------------------------------------------

  /** Text normalization used by normalized dedup / fingerprinting:
    * lowercase, strip non-alphanumerics, collapse whitespace — as the
    * native single-pass [[graft.functions.NormalizeText]] expression
    * (bit-identical to the lower+regex+trim tree it replaces and ~20×
    * faster per row; PropertySpec pins the parity). */
  def normalizeText(c: Column): Column =
    graft.functions.TextFunctions.normalize_text(c)

  /** Constant-width dedup key: md5 prefix of the normalized text. */
  def fingerprint(c: Column, hexLen: Int = 16): Column =
    substring(md5(normalizeText(c)), 1, hexLen)

  /** Distinct word-bigram shingle HASHES per document: hash each word once,
    * then hash adjacent word-hash pairs — no bigram string is ever built.
    * The 100 TB shape for sketching: the only per-token cost is one hash,
    * and everything downstream (signatures, bands) carries longs. */
  def shingleHashes(df: DataFrame, id: Column, text: Column): DataFrame =
    // One-pass native gram hashing ([[graft.functions.NgramHashChain]]):
    // values bit-identical to the previous
    // xxhash64(element_at(wh, i), element_at(wh, i+1)) shape over
    // wh = transform(words, xxhash64), with each word hashed once off
    // its UTF8String memory instead of per-index interpreted lambdas.
    df.select(id.as("doc_id"),
      explode(array_distinct(graft.functions.NgramFunctions
        .ngram_hash_chain(split(lower(text), " "), 2))).as("h64"))

  /** MinHash signatures computed ROW-LOCALLY off the text column — the
    * [[simhashFingerprints]] argument applied to MinHash: a signature
    * depends only on the row's own shingle set, so the explode →
    * shuffle → [[graft.functions.MinHashAgg]] pipeline pays a
    * corpus-of-shingles exchange for a per-row computation. The native
    * [[graft.functions.MinHash64]] runs the same permutation family over
    * the same distinct bigram hashes ([[graft.functions.NgramHashChain]]),
    * so signatures are bit-identical (PropertySpec pins local ==
    * aggregate); `size > 0` replicates explode dropping sub-bigram docs. */
  def minhashSignaturesLocal(df: DataFrame, id: Column, text: Column,
      k: Int = 16): DataFrame = {
    val sh = array_distinct(graft.functions.NgramFunctions
      .ngram_hash_chain(split(lower(text), " "), 2))
    df.select(id.as("doc_id"), sh.as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("doc_id"),
        graft.functions.MinHash64.minhash64(col("__sh"), k).as("sig"))
  }

  /** LSH-banded near-duplicate candidates from MinHash signatures:
    * (doc_a < doc_b, matches, est_jaccard).
    *
    * Signature length vs `bands*rows`: signatures are sliced to the first
    * `bands*rows` elements before both banding and match counting, so a
    * LONGER signature (minhashSignaturesLocal(k = 20) with 4×4 bands) yields
    * correct estimates ≤ 1.0 over the banded prefix; a SHORTER signature
    * fails fast — `sig(i)` past the end raises under ANSI mode (Spark 4
    * default) instead of degenerating into null-skipping band hashes. */
  def minhashCandidates(sigs0: DataFrame, bands: Int = 4, rows: Int = 4): DataFrame = {
    val k = bands * rows
    val sigs = sigs0.select(col("doc_id"), slice(col("sig"), 1, k).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          xxhash64((b * rows until (b + 1) * rows).map(i => col("sig")(i)): _*).as("bh"))): _*)).as("b"))
      .select(col("doc_id"), col("sig"), col("b.band").as("band"), col("b.bh").as("bh"))
    val l = banded.select(col("band"), col("bh"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("bh"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    l.join(r, Seq("band", "bh")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, x) => acc + x).as("matches"))
      .distinct()
      .withColumn("est_jaccard", col("matches").cast(DoubleType) / k.toDouble)
  }

  /** 64-bit SimHash fingerprints over distinct lowercase whitespace tokens
    * — computed ROW-LOCALLY by the native [[graft.functions.SimHash64]]
    * expression: a doc's fingerprint is a pure function of its own token
    * set, so the former explode → corpus-of-tokens shuffle →
    * [[graft.functions.SimHashAgg]] pipeline paid a 75 M-row exchange
    * (sf30) for a per-row computation. Fingerprints are bit-identical
    * (same xxhash64 seed, same ±1 votes; PropertySpec pins expression ==
    * aggregate on random token lists, and `split` always yields ≥ 1
    * element so the doc set is unchanged). NULL-text docs are dropped —
    * the behavior the old explode pipeline had (explode of a null array
    * emits no rows); without the explicit filter the row-local form would
    * instead surface them with a null fingerprint (round-12 advice). The
    * aggregate stays exported for pre-exploded token streams. */
  def simhashFingerprints(df: DataFrame, id: Column, text: Column): DataFrame =
    df.filter(text.isNotNull)
      .select(id.as("doc_id"),
        graft.functions.SimHash64.simhash64(
          array_distinct(split(lower(text), " "))).as("fp"))

  /** Near-duplicate candidate EDGES from SimHash fingerprints — a
    * connectivity-complete edge set, not the all-pairs list. Two channels:
    *
    *   - exact (hamming 0): every doc star-links to its fingerprint
    *     group's min-id representative — n−1 edges per identical-fp
    *     group, NEVER the group's O(n²) pair closure. Identical text ⇒
    *     identical fingerprint, so every exact-dup group arrives
    *     connected.
    *   - near (1 ≤ hamming ≤ maxHamming): 16-bit-band LSH join over the
    *     DISTINCT fingerprints only (one representative per fp), with
    *     buckets above `bucketCap` dropped as non-discriminative — the
    *     df-cap rule every other candidate generator here already obeys.
    *
    * Union-find over the edges yields the same clusters the all-pairs
    * list would. The round-8 sf1 measurement is why this is not optional:
    * the previous doc-level band self-join was quadratic in bucket size
    * and went 187× on 10× data (a small shared vocabulary collapses most
    * word SETS, hence fingerprints, onto each other — the degenerate-band
    * regime a production simhash deduper must survive, since real crawl
    * corpora produce the same hot bands from boilerplate). */
  def simhashCandidates(fp: DataFrame, maxHamming: Int = 16,
      bucketCap: Int = 256): DataFrame = {
    val reps = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("rep"))
    val exact = fp.join(reps, "fp")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"),
        lit(0).cast(IntegerType).as("hamming"))
    val banded = reps.select(col("rep"), col("fp"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band"),
          shiftright(col("fp"), j * 16).bitwiseAND(0xFFFFL).as("bv"))): _*)).as("b"))
      .select(col("rep"), col("fp"), col("b.band").as("band"), col("b.bv").as("bv"))
    // posting-list explode (the jaccardCandidates shape): within-bucket
    // upper-triangle pairs, O(bucketCap²/2) per bucket, zero row×row join
    val near = banded
      .groupBy(col("band"), col("bv"))
      .agg(sort_array(collect_list(struct(col("rep"), col("fp")))).as("docs"))
      .filter(size(col("docs")).between(2, bucketCap))
      .select(explode(expr(
        "flatten(transform(docs, (a, i) -> " +
          "transform(slice(docs, i + 2, size(docs) - i - 1), " +
          "b -> struct(a.rep AS doc_a, a.fp AS fp_a, b.rep AS doc_b, b.fp AS fp_b))))"))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        expr("bit_count(p.fp_a ^ p.fp_b)").cast(IntegerType).as("hamming"))
      .distinct() // a rep pair can share several bands
      .filter(col("hamming") <= maxHamming)
    // channels are disjoint: near pairs have distinct fps ⇒ hamming ≥ 1
    exact.unionByName(near)
  }

  /** Exact n-gram Jaccard candidate pairs over a shingle frame
    * `(doc_id, sh)` (hashed or string shingles) via a doc-frequency-capped
    * inverted index — candidate generation never goes all-pairs. Pairs are
    * exploded from each (≤ `dfCap`-doc) posting list, O(Σ df²) bounded by
    * the cap, instead of a shingle-keyed row×row self-join: the shape that
    * survives 100 TB (the frequency cap kills the quadratic head of the
    * shingle distribution). Keeps pairs with jaccard ≥ `minNum/minDen`,
    * tested as the exact integer inequality
    * `n_common·minDen ≥ union·minNum`. */
  def jaccardCandidates(sh: DataFrame, dfCap: Int = 20,
      minNum: Int = 1, minDen: Int = 4): DataFrame = {
    val posts = sh.groupBy(col("sh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) <= dfCap)
    val cnt = posts.select(explode(col("docs")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = posts
      .select(explode(expr(
        "flatten(transform(docs, (a, i) -> " +
          "transform(slice(docs, i + 2, size(docs) - i - 1), b -> struct(a AS doc_a, b AS doc_b))))"))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
    pairs
      .join(cnt.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .filter(col("n_common") * minDen >=
        (col("n_a") + col("n_b") - col("n_common")) * minNum)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        (col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType)).as("jaccard"))
  }

  /** Near-duplicate candidate pairs → duplicate CLUSTERS: connected
    * components over the pair graph by iterative min-label propagation,
    * the step a training-data pipeline runs between "pairs found" and
    * "rows dropped". Returns `(id, cluster)` where `cluster` is the
    * smallest member id of the component — so the keeper per cluster is
    * `id == cluster` (deterministic, D8).
    *
    * Each round: (1) every node takes the min of its own label and its
    * neighbours' labels; (2) a pointer-jump follows the label's own label
    * (`cluster ← label(cluster)`), halving remaining path lengths so a
    * diameter-d component converges in O(log d) rounds instead of O(d).
    * Convergence is detected from the label SUM — labels only ever
    * decrease, so the sum is strictly monotone until the fixed point,
    * which makes the probe one tiny aggregate over the already-
    * checkpointed frame instead of a join. All per-round state is
    * edge/label DataFrames keyed by fixed-width ids: no driver-side
    * graph, no per-key adjacency in executor memory. [[graft.etl.Ckpt]]
    * cuts the growing lineage each round.
    */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // symmetrize in ONE pass over `pairs` (an explode of both directions):
    // a union of two projections would evaluate the upstream candidate
    // pipeline twice — measured at ~2× the whole pair-generation cost
    val edges = Ckpt(pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    var labels = Ckpt(edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")))
    // coalesce: sum over an EMPTY label frame is null (no pairs at all)
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(coalesce(sum(col("cluster").cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0))).as("s"))
      .collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbour = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("cluster"))
      val stepped = labels.unionByName(viaNeighbour)
        .groupBy(col("id"))
        .agg(min(col("cluster")).as("cluster"))
      // pointer jump: cluster ← label(cluster). Label targets are always
      // node ids (mins over node ids), so the join always matches.
      val next = Ckpt(stepped
        .join(stepped.select(col("id").as("cluster"), col("cluster").as("__c2")),
          Seq("cluster"), "left")
        .select(col("id"), coalesce(col("__c2"), col("cluster")).as("cluster")))
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    // Exhausting maxIter without the label-sum fixed point means labels are
    // only PARTIALLY propagated — silently returning them would hand callers
    // wrong clusters with no signal. Pointer-jumping converges in
    // O(log diameter) rounds so the default budget covers huge components;
    // hitting it is a caller error (maxIter too small) or a pathology worth
    // failing loudly on.
    if (!converged) throw new IllegalStateException(
      s"dedupClusters: no fixed point after $maxIter rounds — labels are " +
        "partially propagated; raise maxIter")
    labels
  }

  // ------------------------------------------------------------------
  // Similarity search
  // ------------------------------------------------------------------

  /** IVF-style bucketed top-k: assign each vector to its best centroid
    * (broadcast), then the top-k per cell. Centroids: (cid, c_emb).
    *
    * Assignment is an aggregation (`max` over a (sim, -cid) struct —
    * highest similarity, ties to the lowest cid), not a window: a
    * vector's centroid rows are produced together by the broadcast cross
    * join, so partial aggregation resolves the argmax map-side and the
    * assignment shuffles ~one row per vector instead of sorting
    * |vectors|×|centroids| rows. Only the per-cell rank keeps a window.
    */
  def ivfTopK(vectors: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, k: Int): DataFrame = {
    val topW = Window.partitionBy(col("cid")).orderBy(desc("sim"), asc("vec_id"))
    vectors.select(id.as("vec_id"), vec.as("__v"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cid"), cosine_similarity(col("__v"), col("c_emb")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("cid")).as("__negcid"), col("cid"))).as("__b"))
      .select(col("vec_id"), col("__b.cid").as("cid"), col("__b.sim").as("sim"))
      .withColumn("rnk", row_number().over(topW))
      .filter(col("rnk") <= k)
      .select(col("cid"), col("rnk"), col("vec_id"), col("sim"))
  }

  /** Sign-random-projection (SRP) LSH over embeddings: bit i of a
    * vector's bucket id is `sign(dot(vec, plane_i))`, so vectors within a
    * small angle land in the same bucket and candidate generation joins
    * per-bucket instead of all-pairs. `planes`: (pid: 0-based int,
    * p_emb: the hyperplane normal). The sign is taken off the SAME
    * cosine expression the exact rescoring uses, so an oracle recomputing
    * the identical double gets identical signs.
    *
    * Returns (bucket, vec_a < vec_b, sim) pairs with exact cosine ≥
    * `threshold`. 100 TB shape: one broadcast dot per (vector, plane),
    * bucket resolved in a partial aggregate, and the join key is the
    * fixed-width (bucket, tile, tile) triple of the tiled self-join
    * below — never the vectors themselves.
    */
  /** Signed-random-projection bucket per vector: bit b of `bucket` is the
    * sign of cos(v, plane_b). Planes are broadcast (≤ 64 rows by
    * construction — the bucket is a single long), so the assignment is
    * wholly map-side: the ANN-family contract that bucketing must never
    * shuffle the vectors themselves. */
  def srpBuckets(vectors: DataFrame, id: Column, vec: Column,
      planes: DataFrame): DataFrame = {
    val v = vectors.select(id.as("vec_id"), vec.as("__v"))
    val bits = v.crossJoin(broadcast(planes))
      .select(col("vec_id"),
        when(cosine_similarity(col("__v"), col("p_emb")) >= 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pid AS INT))"))
          .otherwise(lit(0L)).as("__bv"))
    bits.groupBy(col("vec_id"))
      .agg(sum(col("__bv")).cast(LongType).as("bucket"))
  }

  def srpCandidates(vectors: DataFrame, id: Column, vec: Column,
      planes: DataFrame, threshold: Double,
      blockSize: Int = 0): DataFrame = {
    require(blockSize >= 0,
      s"blockSize must be >= 0 (0 = corpus-scaled), got $blockSize")
    val v = vectors.select(id.as("vec_id"), vec.as("__v"))
    val bk = srpBuckets(vectors, id, vec, planes)
    val withEmb = v.join(bk, "vec_id")
    // Bucket-mass frame: one ≤-row-per-bucket aggregate that drives BOTH
    // the corpus-scaled tile size and the exact build-row pricing below.
    // Checkpointed: it is read by up to two scalar actions plus nothing
    // at execution time, and without the cut each read would recompute
    // the srpBuckets crossJoin.
    val bucketCounts = Ckpt(bk.groupBy(col("bucket")).agg(count(lit(1)).as("__m")))
    // Corpus-scaled tile size (round 14). The tiled join's shuffle
    // replicates each row of a g-tile bucket ~g/2× per side, so at FIXED
    // blockSize the pair exchange's bytes grow QUADRATICALLY with the
    // dominant cluster (g = m/blockSize and SRP bits cannot split a tight
    // cluster): measured 27 GB of transient spill at sf60 (m ≈ 300 k,
    // g ≈ 293), projecting to ~65 GB at sf100 — shuffle capacity burned
    // to materialize replication, while the pair WORK (bucket-local CPU)
    // is the declared contract. Scaling the tile to the dominant bucket —
    // blockSize = 2^k in [1024, 16384] with m_max/blockSize ≈ 64 — keeps
    // the fan-out bounded at ~64 copies/row at ANY scale (shuffle bytes
    // ~linear in corpus), while the per-bucket task count g²/2 ≈ 2048
    // still spreads across a 1000-executor cluster and per-task pair work
    // is capped by blockSize² (≤ 16384² ≈ 2.7e8 pairs ≈ tens of seconds
    // at the 16 k cap, only reached when m_max ≥ 1 M). Explicit callers
    // (tests pinning tile-boundary behavior) pass blockSize > 0 and keep
    // exact control; ≤ 64 k-vector dominant buckets stay at 1024, so
    // every plan at-or-below sf10 is unchanged.
    val bsz: Long =
      if (blockSize > 0) blockSize.toLong
      else {
        val mmax = Option(bucketCounts.agg(max(col("__m"))).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        var b = 1024L
        while (b < 16384L && b * 64L < mmax) b <<= 1
        b
      }
    // Tiled within-bucket self-join. A plain join on `bucket` puts a
    // bucket's ENTIRE m²/2 pair enumeration in one task — and SRP sign
    // bits cannot split a tight embedding cluster, so on clustered
    // corpora the largest bucket tracks the largest cluster and one
    // straggler task runs for minutes while the rest of the cluster
    // idles (measured: 6 min single-task at a 37 k-vector bucket, sf10).
    // Instead each bucket's id-ordered rows are cut into fixed
    // `blockSize` tiles and the join key becomes (bucket, tile_a,
    // tile_b): the pair SET — and therefore the output — is unchanged,
    // but the quadratic work now lands in ~g²/2 independent tasks of at
    // most blockSize² pairs each (g = tiles in the bucket), which is the
    // shape that spreads across a 1000-executor cluster. Cost: each row
    // is replicated once per tile it must meet (≤ g copies, only for
    // rows in oversized buckets — a bucket within one tile keeps exactly
    // one copy per side) plus one partitioned row_number window.
    val wIdx = Window.partitionBy(col("bucket")).orderBy(col("vec_id"))
    val idx = withEmb
      .withColumn("__i", row_number().over(wIdx).cast(LongType) - 1L)
      // last tile index of this bucket: tiles above it never exist, so
      // the left side's fan-out stops there
      .withColumn("__tmax",
        floor((count(lit(1)).over(Window.partitionBy(col("bucket"))) - 1L)
          / lit(bsz)).cast(IntegerType))
      .withColumn("__t", floor(col("__i") / lit(bsz)).cast(IntegerType))
    // ids are ordered within the bucket, so vec_a < vec_b implies
    // tile_a <= tile_b: the left row fans out to tiles [t, tmax], the
    // right row to tile pairs [0, t] — every ordered tile pair (p <= q)
    // is produced exactly once from each side
    // Pair scoring pays ONE array pass, not three: each side carries its
    // precomputed L2 norm (8 bytes per replicated row, computed once per
    // vector before the tile fan-out) and the pair loop computes only the
    // dot. dot/(norm_a*norm_b) runs the exact operation sequence of the
    // fused cosine loop's final expression, so the emitted double — and
    // the threshold decision — is bit-identical to cosine_similarity and
    // to the DuckDB oracle (PropertySpec pins the recomposition on every
    // fixture pair). At sf30 this is the difference between 3 and 1
    // 64-element passes per each of the 13.8 B candidate pairs.
    val l = idx.select(col("bucket"), col("vec_id").as("vec_a"), col("__v").as("__va"),
      vector_norm(col("__v")).as("__na"),
      col("__t").as("__p"), explode(sequence(col("__t"), col("__tmax"))).as("__q"))
    val r = idx.select(col("bucket"), col("vec_id").as("vec_b"), col("__v").as("__vb"),
      vector_norm(col("__v")).as("__nb"),
      explode(sequence(lit(0), col("__t"))).as("__p"), col("__t").as("__q"))
    // The SHUFFLE_HASH build side holds r's REPLICATED vector rows per
    // partition, and r's row count grows quadratically with cluster mass
    // (each row fans out to its __t + 1 tile pairs), so at a fixed
    // partition count the per-task build outgrows memory (PERF.md round
    // 13). Σ(__t + 1) is priced WITHOUT executing the tile fan-out or the
    // windows: for a bucket of m rows in B-sized tiles (g = ⌈m/B⌉), Σ over
    // its rows of (⌊i/B⌋ + 1) is the closed form B·g·(g−1)/2 + (m −
    // (g−1)·B)·g, so the checkpointed bucket-mass frame prices the build
    // side exactly. Every product term is even where halved, so integer
    // DIV is exact.
    val rRows = Option(bucketCounts
        .selectExpr(s"__m", s"CAST((__m - 1) DIV $bsz AS BIGINT) + 1 AS __g")
        .selectExpr(
          s"sum($bsz * __g * (__g - 1) DIV 2 + (__m - (__g - 1) * $bsz) * __g) AS r")
        .head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // The partition count comes from a per-task PAIR budget, not a row
    // budget: each replicated build row meets ~bsz probe rows, so per-task
    // work is rows × bsz, and rRows × bsz is the exact pair-probe count.
    // 409.6 M pairs a task is 400 k build rows at a 1024 tile, the
    // sf30-proven density, and holds at every tile size; build memory per
    // task only shrinks under bigger tiles (fewer rows, same 264 B each),
    // so the hash build stays bounded (PERF.md rounds 13 and 14). Both
    // sides repartition on the full join key with the same count, so no
    // further exchange is inserted and the hint still builds on r.
    val (lK, rK) = graft.etl.TableStats.sizedPartitions(idx.sparkSession, rRows * bsz,
        rowsPerTask = 409600000L, margin = 1.0)
      .fold((l, r))(n =>
        (l.repartition(n, col("bucket"), col("__p"), col("__q")),
          r.repartition(n, col("bucket"), col("__p"), col("__q"))))
    lK.join(rK.hint("SHUFFLE_HASH"), Seq("bucket", "__p", "__q"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("bucket"), col("vec_a"), col("vec_b"),
        (dot_product(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Semantic-dedup DROP SET — one `vec_id` column holding every vector
    * with ANY lower-id same-bucket neighbor of cosine ≥ `threshold` (the
    * qllm_semdedup rule) — computed WITHOUT enumerating the full candidate
    * pair set. The drop rule is EXISTENTIAL (one hit decides a vector), so
    * a linear probe pass resolves most of the corpus before any quadratic
    * work: phase 1 scores each vector only against its bucket's `probeCap`
    * smallest ids (≤ probeCap cosines per vector — linear in n). That
    * fully decides every pool member (a pool vector's lower-id bucket
    * mates are all in the pool too), and on cluster-collapsed buckets —
    * where SRP bucket mass tracks cluster mass, so near-everything is
    * near the pool — it decides near-everyone else's `drop` as well.
    * Phase 2 re-scans only the phase-1 SURVIVORS beyond the pool, against
    * the bucket's remaining non-pool lower ids (every pool witness was
    * already consulted), tiled on the CANDIDATE side only: each task
    * holds one ≤ `blockSize` candidate tile × every survivor fanning
    * into it, so the per-task bound is blockSize × bucket-survivors —
    * NOT [[srpCandidates]]' symmetric blockSize² (that shape would fan
    * the candidate side ×(tiles) too, multiplying the candidate shuffle
    * by the tile count even in the common case where phase 1 has already
    * decided nearly everyone and survivors are few; one-sided tiling
    * keeps candidates at ONE shuffled copy each). The deliberate trade:
    * on cluster-collapsed buckets phase 1's pool witnesses bound the
    * survivor count, and in the true worst case — a large bucket where
    * nothing is similar, so every non-pool member survives — the task
    * bound degrades to blockSize × that bucket's survivors, a bounded
    * set of wide-but-equal tasks rather than one straggler holding the
    * whole m² enumeration. The returned set is EXACTLY
    * `srpCandidates(threshold)`'s distinct `vec_b` — the phase split
    * moves where a witness is found, never whether one exists (ApiSpec
    * pins set equality). */
  def srpDropSet(vectors: DataFrame, id: Column, vec: Column,
      planes: DataFrame, threshold: Double,
      probeCap: Int = 64, blockSize: Int = 1024): DataFrame = {
    require(probeCap > 0, s"probeCap must be positive, got $probeCap")
    require(blockSize > 0, s"blockSize must be positive, got $blockSize")
    val v = vectors.select(id.as("vec_id"), vec.as("__v"))
    val bk = srpBuckets(vectors, id, vec, planes)
    val wIdx = Window.partitionBy(col("bucket")).orderBy(col("vec_id"))
    // one bucket-ordered index frame feeds FOUR consumers (probe pool,
    // phase-1 left side, phase-2 both sides): checkpoint it
    // ([[graft.etl.Ckpt]]) so the corpus × planes bucketing subtree runs
    // once, not four times.
    // per-vector norm computed ONCE before the checkpoint: both phases'
    // pair filters then pay a single dot pass per pair instead of the
    // fused three-term loop; dot/(norm·norm) is bit-identical to the
    // fused cosine (see [[srpCandidates]]'s scoring note)
    val idx = Ckpt(v.join(bk, "vec_id")
      .withColumn("__i", row_number().over(wIdx).cast(LongType) - 1L)
      .withColumn("__n", vector_norm(col("__v"))))
    val pool = idx.filter(col("__i") < probeCap.toLong)
      .select(col("bucket"), col("vec_id").as("__u"),
        col("__v").as("__vu"), col("__n").as("__nu"))
    val phase1 = idx.join(pool, Seq("bucket"))
      .filter(col("__u") < col("vec_id") &&
        dot_product(col("__vu"), col("__v")) / (col("__nu") * col("__n"))
          >= threshold)
      .select(col("vec_id")).distinct()
    // phase 2: survivors past the pool vs non-pool lower ids, tiled on the
    // candidate side's pool-relative index so each task holds ≤ blockSize
    // candidates × the survivors fanning into that tile
    val relTile =
      floor((col("__i") - probeCap.toLong) / lit(blockSize.toLong)).cast(IntegerType)
    val cand = idx.filter(col("__i") >= probeCap.toLong)
      .select(col("bucket"), relTile.as("__t2"),
        col("vec_id").as("__u"), col("__v").as("__vu"), col("__n").as("__nu"))
    val phase2 = idx.filter(col("__i") >= probeCap.toLong)
      .join(phase1, Seq("vec_id"), "left_anti")
      .select(col("bucket"), col("vec_id"), col("__v"), col("__n"),
        explode(sequence(lit(0), relTile)).as("__t2"))
      .join(cand, Seq("bucket", "__t2"))
      .filter(col("__u") < col("vec_id") &&
        dot_product(col("__vu"), col("__v")) / (col("__nu") * col("__n"))
          >= threshold)
      .select(col("vec_id")).distinct()
    // disjoint by construction (phase 2 anti-joins phase 1), so no
    // distinct over the union
    phase1.unionAll(phase2)
  }

  /** Per distinct (partition, value): the row count of the SQL RANGE frame
    * `RANGE BETWEEN <preceding> PRECEDING AND CURRENT ROW` over the raw
    * rows — WITHOUT Spark's sliding-frame evaluation, which cannot
    * retract and therefore rebuilds the aggregate from the whole frame on
    * every lower-bound advance: O(rows × frame) per partition, a CONSTANT
    * ~65 s once the fixture's value grid saturates (round 11; the round-10
    * census rewrite moved the cost off raw rows but kept the sliding
    * frame). Algebra instead: over the distinct-value census,
    * count[v−p, v] = F(v) − F(<v−p), both read from ONE running
    * (retraction-free) cumulative sum — each census value contributes a
    * census row (cnt, sorts AFTER probes at equal value, so F(v) includes
    * its own peers — RANGE's CURRENT ROW peer rule) and a probe row at
    * value − preceding (cnt 0, sorts BEFORE census at equal value, so it
    * reads count STRICTLY BELOW the bound = the frame's exclusive
    * remainder). The probe bound is the IDENTICAL IEEE double subtraction
    * Spark's RangeFrame (and any engine's) computes for the frame edge,
    * and ordering compares the same doubles, so inclusion decisions match
    * the real window BIT-EXACTLY — EdgeCaseSpec pins equality against the
    * raw-row window, null peers included (a null value's frame is its
    * null peer group: its probe is null, sorts first, reads 0). One
    * window + one metadata aggregate, both on census-scale rows. */
  def rangeCountPreceding(rows: DataFrame, part: Column, order: Column,
      preceding: Double): DataFrame = {
    val vc = rows.groupBy(part.as("__p"), order.as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val cen = vc.select(col("__p"), col("__v"), lit(1).as("__k"),
      col("__cnt"), col("__v").as("__orig"))
    val prb = vc.select(col("__p"), (col("__v") - lit(preceding)).as("__v"),
      lit(0).as("__k"), lit(0L).as("__cnt"), col("__v").as("__orig"))
    val w = Window.partitionBy(col("__p")).orderBy(col("__v"), col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cen.unionAll(prb)
      .withColumn("__f", sum(col("__cnt")).over(w))
      .groupBy(col("__p"), col("__orig"))
      .agg((max(when(col("__k") === 1, col("__f"))) -
        max(when(col("__k") === 0, col("__f")))).as("n_in_range"))
      .select(col("__p"), col("__orig").as("__v"), col("n_in_range"))
  }

  /** Hard-negative mining for contrastive training data: for every anchor
    * vector, the `k` most cosine-similar vectors carrying a DIFFERENT
    * label, searched within the anchor's SRP bucket only — the bucketed
    * stand-in for a full ANN index that keeps the search strictly
    * per-bucket (never all-pairs) while still surfacing the
    * close-but-wrong-label examples a contrastive loss needs. Ties break
    * on (sim DESC, neg_id): sims are bit-identical doubles (shared fold
    * shape), so the ranking is total and cross-engine stable.
    *
    * `candidateCap` bounds the NEGATIVE pool per (bucket, label) to the
    * `candidateCap` smallest vec_ids — the deterministic analogue of the
    * candidate sampling every production miner does. It exists because
    * SRP sign bits cannot split a TIGHT CLUSTER (near-identical vectors
    * share every sign bit at any plane count), so on clustered corpora
    * bucket sizes track cluster sizes and the uncapped within-bucket
    * join goes quadratic in them — measured 8.8× on 3× data at sf3
    * before the cap. With the cap each anchor scores ≤ cap·|labels|
    * candidates: linear in n, and anchors are never dropped. */
  def hardNegatives(vectors: DataFrame, id: Column, vec: Column, label: Column,
      planes: DataFrame, k: Int, candidateCap: Int = Int.MaxValue): DataFrame =
    srpBucketTopK(vectors, id, vec, Some(label), planes, k, candidateCap, "neg_id")

  /** Shared core of [[hardNegatives]] and [[srpTopK]] — the SRP
    * bucket-join top-k shape: assign buckets, optionally cap the
    * candidate pool to the `candidateCap` smallest candidate ids per
    * (bucket[, candidate label]), score anchor × candidate cosine within
    * the bucket only, keep each anchor's top `k` by (sim DESC, candidate
    * id). With a label the candidate filter is label_a ≠ label_n (which
    * implies anchor ≠ candidate) and labels ride along in the output;
    * without one it is anchor ≠ candidate. One body so the cap semantics
    * and the tie-break can never silently diverge between the two
    * declared surfaces. */
  private def srpBucketTopK(vectors: DataFrame, id: Column, vec: Column,
      labelOpt: Option[Column], planes: DataFrame, k: Int, candidateCap: Int,
      candCol: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(candidateCap > 0, s"candidateCap must be positive, got $candidateCap")
    val v = vectors.select(
      Seq(id.as("vec_id"), vec.as("__v")) ++ labelOpt.map(_.as("__l")): _*)
    val bk = srpBuckets(vectors, id, vec, planes)
    val withEmb = v.join(bk, "vec_id")
    // per-side norms precomputed before the bucket join's pair fan-out;
    // dot/(na·nb) recomposes the fused cosine bit-identically (see
    // [[srpCandidates]]'s scoring note)
    val a = withEmb.select(
      Seq(col("bucket"), col("vec_id").as("anchor")) ++
        labelOpt.map(_ => col("__l").as("label_a")) ++
        Seq(col("__v").as("__va"), vector_norm(col("__v")).as("__nrma")): _*)
    val bAll = withEmb.select(
      Seq(col("bucket"), col("vec_id").as(candCol)) ++
        labelOpt.map(_ => col("__l").as("label_n")) ++
        Seq(col("__v").as("__vb"), vector_norm(col("__v")).as("__nrmb")): _*)
    val b =
      if (candidateCap == Int.MaxValue) bAll
      else {
        val capKeys = col("bucket") +: labelOpt.map(_ => col("label_n")).toSeq
        val wc = Window.partitionBy(capKeys: _*).orderBy(col(candCol))
        bAll.withColumn("__cr", row_number().over(wc))
          .filter(col("__cr") <= candidateCap).drop("__cr")
      }
    val joined = a.join(b, Seq("bucket"))
    val filtered = labelOpt match {
      case Some(_) => joined.filter(col("label_a") =!= col("label_n"))
      case None    => joined.filter(col("anchor") =!= col(candCol))
    }
    val scored = filtered.select(
      Seq(col("anchor")) ++ labelOpt.map(_ => col("label_a")) ++
        Seq(col(candCol)) ++ labelOpt.map(_ => col("label_n")) :+
        (dot_product(col("__va"), col("__vb")) /
          (col("__nrma") * col("__nrmb"))).as("sim"): _*)
    val w = Window.partitionBy(col("anchor")).orderBy(col("sim").desc, col(candCol))
    scored.withColumn("rnk", row_number().over(w).cast(LongType)).filter(col("rnk") <= k)
  }

  /** Bounded SRP near-dup surface: per vector, the `k` most cosine-similar
    * OTHER vectors in its SRP bucket — the linear-output production twin of
    * [[srpCandidates]]'s full pair enumeration. On clustered corpora the
    * "every pair ≥ threshold" answer is itself quadratic in cluster mass
    * (~24% of ALL pairs pass cos ≥ 0.3 on the sf3 fixture — no candidate
    * generator can beat output size), so any 100 TB consumer wants a
    * per-vector bounded answer instead: exactly ≤ k rows per vector, and
    * with `candidateCap` (the [[hardNegatives]] cap: per bucket, the
    * `candidateCap` smallest ids form the candidate pool — deterministic
    * sampling, mirrored in the oracle) each anchor scores ≤ cap
    * candidates, so total work AND total output are linear in n at any
    * cluster shape. Ties break on (sim DESC, nbr_id): sims are
    * bit-identical doubles (shared fold shape), so the ranking is total
    * and cross-engine stable. Anchors whose bucket holds no other
    * candidate emit nothing (an isolated vector has no neighbors). */
  def srpTopK(vectors: DataFrame, id: Column, vec: Column, planes: DataFrame,
      k: Int, candidateCap: Int = Int.MaxValue): DataFrame =
    srpBucketTopK(vectors, id, vec, None, planes, k, candidateCap, "nbr_id")

  // ------------------------------------------------------------------
  // Deterministic sampling & splits
  // ------------------------------------------------------------------

  /** Deterministic, reproducible sampling: keep rows whose `md5(key)`
    * first hex digit falls below `sixteenths` — a `sixteenths/16`
    * fraction. No RNG, no seed plumbing: the same row is always in or
    * out of the sample, across engines, re-runs, and cluster sizes —
    * THE sampling method for a 100 TB corpus where "re-run with the same
    * sample" must hold years later. Hex compare is plain ASCII
    * lexicographic, so any engine with md5 agrees. Null keys hash to
    * null and are excluded from every sample (SQL comparison semantics —
    * matches the oracle). */
  def hashSample(df: DataFrame, key: Column, sixteenths: Int): DataFrame = {
    require(sixteenths >= 0 && sixteenths <= 16,
      s"sixteenths must be in [0, 16], got $sixteenths")
    if (sixteenths == 16) df
    else if (sixteenths == 0) df.filter(lit(false))
    else df.filter(substring(md5(key), 1, 1) <
      lit("0123456789abcdef".charAt(sixteenths).toString))
  }

  /** Deterministic train/val/test assignment from the first two hex
    * digits of `md5(key)` (256 buckets): `train` below `trainBuckets`,
    * `val` in the next `valBuckets`, `test` for the rest. Hash-based so
    * membership is content-stable — a re-crawled duplicate lands in the
    * same split and never leaks across the boundary. Null keys fall
    * through both comparisons into `test` (CASE semantics — identical in
    * the oracle); filter them earlier if that is not intended. */
  def hashSplit(key: Column, trainBuckets: Int = 205, valBuckets: Int = 26): Column = {
    require(trainBuckets >= 0 && valBuckets >= 0 && trainBuckets + valBuckets <= 256,
      s"bucket counts must fit 256, got $trainBuckets + $valBuckets")
    val hex = "0123456789abcdef"
    // "g" sorts above every hex pair — the n=256 cut keeps everything
    def cut(n: Int): String = if (n >= 256) "g" else "" + hex(n / 16) + hex(n % 16)
    val h = substring(md5(key), 1, 2)
    when(h < cut(trainBuckets), "train")
      .when(h < cut(trainBuckets + valBuckets), "val")
      .otherwise("test")
  }

  // ------------------------------------------------------------------
  // Distributed ranking
  // ------------------------------------------------------------------

  /** Exact global 1-based ranks WITHOUT a single-partition window, over
    * one or more order columns at once. Appends, per `(name, orderCol)`
    * pair, `name` = the exact global 1-based rank over `(orderCol,
    * tiebreaks…)`, plus `__n` (total row count). [[sampledBuckets]] puts
    * every row in one of `buckets` ORDER-PRESERVING buckets cut at
    * sampled quantiles, so global order ≡ (bucket, local order);
    * [[rankByBucket]] turns per-bucket counts into cumulative offsets and
    * the rank is `offset + row_number` under a window PARTITIONED by
    * bucket. No operator sees more than one bucket's rows in one
    * partition, and the quantile cuts keep a skewed column's buckets
    * balanced (fixed-width value ranges put ~every row of a
    * pareto-tailed column below the first width cut). All ranks ride one
    * frame: chained per-bucket windows, no join back on any key.
    * Boundaries affect only bucket BALANCE, never a rank: an empty sample
    * degrades to one bucket, still exact ranks.
    *
    * Order columns must be numeric and NON-NULL: a null would sort
    * globally first under NULLS FIRST but has no bucket, so it fails
    * fast with `raise_error` instead of corrupting ranks. NaN ranks last
    * (Spark sorts it greatest). `tiebreaks` must be non-empty (the sample
    * hashes them) and make the total order unique for the ranks to be
    * deterministic (D9).
    *
    * With several order columns the bucketed frame is materialized once:
    * every column's per-bucket counts and every window of the chain read
    * it, and each would otherwise replay the caller's subtree and all the
    * bucket assignments. One column has one count reader and one rank
    * reader, so it stays lazy and costs no extra eager job; a caller whose
    * frame is expensive to replay materializes it itself. */
  def globalRanks(df: DataFrame, orders: Seq[(String, Column)],
      tiebreaks: Seq[Column], buckets: Int = 64, sampleOneIn: Int = 64): DataFrame = {
    val bucketed = sampledBuckets(df, orders.map(_._2), tiebreaks, buckets, sampleOneIn)
    rankByBucket(if (orders.size > 1) Ckpt(bucketed) else bucketed, orders, tiebreaks)
  }

  /** The bucketing pass of [[globalRanks]], exposed for balance tests:
    * appends one order-preserving bucket column per order column (named
    * by [[bucketCols]]). ONE deterministic hash sample (no RNG:
    * `xxhash64(tiebreaks…) % sampleOneIn`, so re-runs and resizes see the
    * same rows, and every order column is cut from the same rows) is
    * unpivoted to (column id, value). An exact cumulative count over each
    * column's distinct sample values (a window partitioned by the column
    * id over ≤ sample-size rows, metadata scale, the same budget class as
    * the triangular offsets join) yields the `j/buckets` quantile cut
    * values, collected into ONE row of sorted boundary arrays (≤ buckets-1
    * elements each, duplicates kept so a mass point spanning several cuts
    * keeps its multiplicity) and broadcast. A row's bucket is the native
    * `count_leq(boundaries, value)` in double space: the cast is
    * monotone, so bucket order never contradicts the column's order. */
  private[graft] def sampledBuckets(df: DataFrame, orderCols: Seq[Column],
      tiebreaks: Seq[Column], buckets: Int, sampleOneIn: Int): DataFrame = {
    require(orderCols.nonEmpty, "globalRanks needs at least one order column")
    require(tiebreaks.nonEmpty, "globalRanks hashes its sample on the tiebreaks; pass one")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(sampleOneIn > 0, s"sampleOneIn must be positive, got $sampleOneIn")
    val ordDs = orderCols.map(_.cast(DoubleType))
    // the column id comes out of the explode, so it is not foldable:
    // EliminateWindowPartitions would strip a literal partition key and
    // leave an unpartitioned window, whose warning stays reserved for
    // real mistakes
    val sample = df
      .filter(pmod(xxhash64(tiebreaks: _*), lit(sampleOneIn.toLong)) === 0)
      .select(explode(array(ordDs.zipWithIndex.map { case (d, i) =>
        struct(lit(i).as("__id"), d.as("__v")) }: _*)).as("__e"))
      .select(col("__e.__id").as("__id"), col("__e.__v").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val valCounts = sample.groupBy(col("__id"), col("__v")).agg(count(lit(1)).as("__c"))
    val cum = valCounts
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(col("__id")).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(valCounts.groupBy(col("__id"))
        .agg(sum(col("__c")).cast(DoubleType).as("__s"))), "__id")
    // value v is the boundary for every quantile cut j/buckets its
    // cumulative count crosses: cuts in (k_prev, k] where k = #cuts ≤ cum
    val marks = cum
      .withColumn("__k",
        least(lit(buckets - 1L), floor(col("__cum") * buckets / col("__s")).cast(LongType)))
      .withColumn("__kprev",
        least(lit(buckets - 1L),
          floor((col("__cum") - col("__c")) * buckets / col("__s")).cast(LongType)))
      .filter(col("__k") > col("__kprev"))
      .select(col("__id"),
        explode(expr("array_repeat(__v, CAST(__k - __kprev AS INT))")).as("__b"))
    // ONE row of boundary arrays (≤ buckets doubles per column; an empty
    // sample leaves an empty array, so every row lands in bucket 0),
    // materialized so the bucketed frame's readers don't each replay the
    // sample subtree
    val bnd = orderCols.indices.map(i => s"__bnd$i")
    val arrays = bnd.zipWithIndex.map { case (b, i) =>
      sort_array(collect_list(when(col("__id") === i, col("__b")))).as(b) }
    val bounds = Ckpt(marks.agg(arrays.head, arrays.tail: _*))
    orderCols.zip(ordDs).zip(bnd).zip(bucketCols(orderCols.size))
      .foldLeft(df.crossJoin(broadcast(bounds))) { case (acc, (((o, d), b), bk)) =>
        acc.withColumn(bk,
          when(o.isNull,
            raise_error(lit("globalRanks: order column must be non-null")).cast(LongType))
            // count_leq would count NaN below every boundary; Spark sorts
            // NaN greatest, so it goes to the last bucket
            .when(isnan(d), lit(buckets - 1L))
            .otherwise(graft.functions.ArraySearch.count_leq(col(b), d)))
      }.drop(bnd: _*)
  }

  /** Bucket column names for `n` order columns: `__bk0` … `__bk<n-1>`. */
  private def bucketCols(n: Int): Seq[String] = (0 until n).map(i => s"__bk$i")

  /** The rank pass of [[globalRanks]]: exact global ranks from the
    * ORDER-PRESERVING bucket columns [[sampledBuckets]] appends, one
    * per-bucket `row_number` window per order column, chained on the
    * bucketed frame. */
  private def rankByBucket(bucketed: DataFrame, orders: Seq[(String, Column)],
      tiebreaks: Seq[Column]): DataFrame = {
    val bks = bucketCols(orders.size)
    orders.zip(bks).zipWithIndex.foldLeft(bucketed) { case (df, (((name, orderCol), bk), i)) =>
      val counts = bucketed.groupBy(col(bk)).agg(count(lit(1)).as("__c"))
      // per bucket, the rows of all lower buckets (its rank offset) and of
      // all buckets (the grand total, kept from the first column only):
      // a broadcast self-cross-join over ≤`buckets` rows, never a
      // single-partition window over data. Both sides read `__c`, so they
      // share one count exchange.
      val offsets = counts
        .crossJoin(broadcast(counts.select(col(bk).as("__b2"), col("__c").as("__c2"))))
        .groupBy(col(bk))
        .agg((sum(when(col("__b2") <= col(bk), col("__c2"))) - first(col("__c"))).as("__off"),
          sum(col("__c2")).as("__n"))
      val w = Window.partitionBy(col(bk)).orderBy(orderCol +: tiebreaks: _*)
      df.join(broadcast(if (i > 0) offsets.drop("__n") else offsets), bk)
        .withColumn(name, (col("__off") + row_number().over(w)).cast(LongType))
        .drop("__off")
    }.drop(bks: _*)
  }

  /** `ntile(k)` computed from an exact global rank (SQL-standard sizing:
    * the first `n mod k` tiles get one extra row) — integer arithmetic
    * only (floor of a double ratio is exact below 2⁵³ rows), so it agrees
    * bit-for-bit with any engine's `ntile`. */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    def idiv(a: Column, b: Column): Column = floor(a / b).cast(LongType)
    val base = idiv(n, lit(k.toLong))
    val rem = n % k
    val bigCut = (base + 1) * rem
    when(rank <= bigCut, idiv(rank + base, base + 1))
      .otherwise(rem + idiv(rank - bigCut + base - 1, base))
      .cast(IntegerType)
  }

  // ------------------------------------------------------------------
  // Skew handling
  // ------------------------------------------------------------------

  /** Skew-resistant equi-join for a hot-keyed fact side: each fact row is
    * deterministically salted into one of `salt` shards (hash of the whole
    * row — no RNG, so re-runs produce identical plans and placements) and
    * the dim side is replicated `salt` times, turning one hot reduce
    * partition into `salt` even ones. Result rows equal the plain
    * `fact.join(dim, key)` exactly; only the shuffle layout changes.
    *
    * This is the manual fallback for skew AQE cannot fix (e.g. a hot key
    * inside a single unsplittable shuffle block at 100 TB); prefer AQE
    * skew-join first. Dim must be small enough to replicate `salt`×.
    *
    * Limitation: the shard comes from a hash of the WHOLE fact row, so
    * fully IDENTICAL repeated rows (one real shape of hot-key skew —
    * duplicated events) all land in one shard and are not split. When rows
    * can be byte-identical, pre-attach a disambiguating column (an
    * ingest-file offset, a `spark_partition_id`-derived ordinal) and
    * include it in the row before salting — a deterministic per-row
    * ordinal inside the operator would cost exactly the per-key sort this
    * operator exists to avoid.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salt: Int): DataFrame = {
    require(salt > 0, s"salt must be positive, got $salt")
    val f = fact.withColumn("__shard",
      pmod(xxhash64(fact.columns.toIndexedSeq.map(col): _*), lit(salt.toLong)))
    val d = dim.withColumn("__shard",
      explode(sequence(lit(0L), lit(salt.toLong - 1))))
    f.join(d, Seq(key, "__shard")).drop("__shard")
  }

  /** Z-order (Morton) key: bit-interleave the low `bits` bits of two
    * NON-NEGATIVE grid coordinates — bit i of `x` lands at position 2i,
    * bit i of `y` at 2i+1. Sorting (or range-partitioning) a table by this
    * key clusters rows so that a 2-D box predicate touches a contiguous-ish
    * z-range instead of the whole table: a box aligned to a power-of-2
    * quadrant is EXACTLY one contiguous z-interval (property-tested), and
    * any box is a small union of such intervals. That is what makes
    * parquet min/max row-group pruning work for BOTH filter columns at
    * once — the data-layout lever (Delta/Iceberg `OPTIMIZE ZORDER BY`)
    * re-expressed as a plain deterministic column.
    *
    * Built from codegen'd builtins (shift/and/or) only — no UDF; 2·bits
    * terms fold into one whole-stage-codegen expression. Each coordinate
    * is masked to its low `bits` bits up front: callers are told to clamp
    * into [0, 2^bits), but an unclamped NEGATIVE coordinate would
    * otherwise sign-extend through the arithmetic shift and interleave
    * garbage — the mask makes the key well-defined (mod 2^bits) for any
    * input instead. */
  def zorderKey(x: Column, y: Column, bits: Int = 10): Column = {
    require(bits >= 1 && bits <= 31, s"bits in [1, 31], got $bits")
    val mask = (1L << bits) - 1
    val xm = x.cast(LongType).bitwiseAND(lit(mask))
    val ym = y.cast(LongType).bitwiseAND(lit(mask))
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_.bitwiseOR(_))
  }

  /** Semi-join reduction via an explicit bloom runtime filter: aggregate
    * `dim`'s join keys into one bloom filter (an ObjectHashAggregate whose
    * merge is a bitwise OR — order-independent, so the bits are
    * deterministic), ship it to every fact partition as a scalar subquery,
    * and drop fact rows whose key CANNOT be in `dim` before the join's
    * shuffle ever sees them. This is the same plan shape Spark's own
    * `InjectRuntimeFilter` produces, built explicitly so it applies at any
    * size (the optimizer's version gates on multi-GB scan thresholds that
    * a library caller may want to override).
    *
    * At 100 TB this is the lever for a selective dim too big to broadcast
    * as a hash relation but whose KEY SET fits a few MB of bloom bits: a
    * 1% -selective dim turns the fact-side shuffle from 100 TB into ~1 TB
    * (plus bloom false positives, bounded by `expectedItems` sizing; the
    * join itself removes them, so the result is exact either way).
    *
    * Returns the pruned fact — callers still perform the join.
    *
    * The bloom subquery's plan is deduplicated against `fact`'s analyzed
    * plan (Bridge.dedupAgainst — the analyzer's own self-join re-instancing
    * rule), so `dim` may share subtrees or attribute ids with `fact` (e.g.
    * a self-prune, or a fact that already embeds the dim's source) without
    * the subquery aliasing the outer plan's attributes. */
  def bloomPrune(fact: DataFrame, factKey: Column, dim: DataFrame, dimKey: Column,
      expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, ScalarSubquery, XxHash64, BloomFilterMightContain}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    val bloomDf = dim.select(Bridge.column(
      new BloomFilterAggregate(new XxHash64(Seq(Bridge.expression(dimKey))),
        Literal(expectedItems)).toAggregateExpression()).as("__bloom"))
    val subPlan = Bridge.dedupAgainst(Bridge.analyzed(fact), Bridge.analyzed(bloomDf))
    fact.filter(Bridge.column(BloomFilterMightContain(
      ScalarSubquery(subPlan),
      new XxHash64(Seq(Bridge.expression(factKey))))))
  }

  /** Interval-overlap equi-join: rows of `a` and `b` sharing `key` whose
    * integer intervals `[aStart, aEnd]`, `[bStart, bEnd]` overlap
    * (`a.s ≤ b.e AND b.s ≤ a.e` — closed ends, touching counts). Each
    * matching pair is emitted EXACTLY once.
    *
    * Scale path: both sides replicate to every `binWidth`-wide bin their
    * interval touches and join on the (key, bin) EQUI-key with the overlap
    * predicate as residual — never a per-key nested loop. A pair that
    * overlaps shares the bin of `greatest(a.s, b.s)` (that instant lies in
    * both intervals), so emitting it only there dedupes multi-bin matches
    * without a distinct. Pick `binWidth` ≈ the p99 interval length: the
    * replication factor is 1 + length/binWidth (≤ 2 for intervals shorter
    * than a bin). Bins come from floor division, so negative coordinates
    * bin correctly.
    *
    * The four interval column names must be distinct between the two
    * inputs (rename before calling — this is a using-columns join on
    * `key`, which must be the SAME name on both sides).
    */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame, key: String,
      aStart: String, aEnd: String, bStart: String, bEnd: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    def bins(s: String, e: String) =
      explode(sequence(floor(col(s) / binWidth).cast(LongType),
        floor(col(e) / binWidth).cast(LongType)))
    val ab = a.withColumn("__ivl_bin", bins(aStart, aEnd))
    val bb = b.withColumn("__ivl_bin", bins(bStart, bEnd))
    ab.join(bb, Seq(key, "__ivl_bin"))
      .filter(col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd)
        && floor(greatest(col(aStart), col(bStart)) / binWidth).cast(LongType)
          === col("__ivl_bin"))
      .drop("__ivl_bin")
  }

  // ------------------------------------------------------------------
  // Time series
  // ------------------------------------------------------------------

  /** Inner as-of join via a single per-key time-sorted window: for each
    * `right` row, the greatest left `ts` at or before it. Left rows sort
    * before right rows at equal timestamps (`>=` semantics). Emits the
    * right frame plus `asof_ts` (the matched left timestamp).
    *
    * `tolerance` (optional, same units as `ts`): a match older than
    * `ts − tolerance` is discarded — pandas `merge_asof(tolerance=…)`
    * semantics; rows whose only match is out of tolerance drop from the
    * inner join. The bound rides as a post-window filter, so the plan
    * shape (one per-key sorted window) is unchanged.
    *
    * Scales linearly per key — never the quadratic theta-join shape.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      key: String, ts: String, tolerance: Option[Long] = None): DataFrame = {
    val tagged = left.select(col(key), col(ts), lit(0).as("__kind"))
      .unionByName(right.select(col(key), col(ts), lit(1).as("__kind")))
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col("__kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // asof_ts is functionally determined by (key, ts): collapse to one row
    // per pair so the join-back preserves right's row multiplicity exactly
    // even when right contains duplicate timestamps (caught by PropertySpec).
    val matched = tagged
      .withColumn("__asof", max(when(col("__kind") === 0, col(ts))).over(w))
      .filter(col("__kind") === 1 && col("__asof").isNotNull)
      .select(col(key), col(ts), col("__asof").as("asof_ts"))
      .distinct()
    val bounded = tolerance match {
      case Some(t) => matched.filter(col("asof_ts") >= col(ts) - lit(t))
      case None => matched
    }
    right.join(bounded, Seq(key, ts))
  }

  // ------------------------------------------------------------------
  // Sequence construction
  // ------------------------------------------------------------------

  /** Per-key ordered concatenation with BOUNDED executor state — the
    * training-sequence construction shape that survives a bot-grade hot
    * key. `sort_array(collect_list(struct(…)))` holds every event of a key
    * in ONE aggregation buffer (a 10⁸-event key OOMs the stage at 100 TB);
    * this instead repartitions by `key`, secondary-sorts each partition by
    * `(key, order1, order2)` (Spark's external sort — spills, never
    * buffers), and streams a `mapPartitions` concat that holds only the
    * CURRENT key's growing output string (the deliverable row itself).
    *
    * Emits `(key, n_events, seq)`, one row per key. `key`, `order1`,
    * `order2` must be non-null and castable to LONG; `(order1, order2)`
    * must be unique per key for the concat order to be deterministic (D9).
    */
  def sequenceConcat(df: DataFrame, key: String, order1: String,
      order2: String, value: String, sep: String = ","): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        col(key).cast(LongType).as("_1"),
        col(order1).cast(LongType).as("_2"),
        col(order2).cast(LongType).as("_3"),
        col(value).cast(StringType).as("_4"))
      .as[(Long, Long, Long, String)]
      .repartition(col("_1"))
      .sortWithinPartitions("_1", "_2", "_3")
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[(Long, Long, String)] {
          def hasNext: Boolean = it.hasNext
          def next(): (Long, Long, String) = {
            val k = it.head._1
            val sb = new java.lang.StringBuilder
            var n = 0L
            while (it.hasNext && it.head._1 == k) {
              val r = it.next()
              if (n > 0) sb.append(sep)
              sb.append(r._4)
              n += 1
            }
            (k, n, sb.toString)
          }
        }
      }
      .toDF(key, "n_events", "seq")
  }

  // ------------------------------------------------------------------
  // Text analysis
  // ------------------------------------------------------------------

  /** Default PII rules for [[redactPii]]: (column-suffix, regex,
    * replacement). Patterns are alternation/backslash-free so every regex
    * engine a mirror pipeline might use agrees on match spans. */
  val DefaultPiiRules: Seq[(String, String, String)] = Seq(
    ("emails", "[a-z0-9.]+@[a-z.]*[a-z]", "<EMAIL>"),
    ("phones", "555-[0-9]{4}", "<PHONE>"))

  /** PII scrub: appends one `n_<name>` match-count column per rule plus
    * `redacted` (rules applied in order). Wholly map-side — the detect +
    * replace chain fuses into the scan's codegen stage, the shape that
    * makes a 100 TB scrub pass a pure read-transform-write. */
  def redactPii(df: DataFrame, text: Column,
      rules: Seq[(String, String, String)] = DefaultPiiRules): DataFrame = {
    val counted = rules.foldLeft(df.withColumn("__pii_text", text)) {
      case (d, (name, pattern, _)) =>
        d.withColumn(s"n_$name",
          size(expr(s"regexp_extract_all(__pii_text, '$pattern', 0)")).cast(LongType))
    }
    val redacted = rules.foldLeft(text) {
      case (c, (_, pattern, repl)) => regexp_replace(c, pattern, repl)
    }
    counted.withColumn("redacted", redacted).drop("__pii_text")
  }

  /** URL canonicalization: lowercase, query string stripped, trailing
    * slash dropped — the crawl-frontier dedup key. */
  def canonicalUrl(url: Column): Column =
    lower(regexp_replace(regexp_replace(url, "\\?.*$", ""), "/$", ""))

  /** Per-document boilerplate tagging by n-gram document frequency (the
    * C4-style chrome/license detector): grams occurring in ≥ `minDf`
    * distinct documents are boilerplate; returns (id, n_grams, n_boiler).
    * Grams travel as xxhash64 longs — every shuffle carries fixed-width
    * keys, never text.
    *
    * The df count needs DISTINCT (doc, gram) pairs — which come for free
    * from a row-local `array_distinct` BEFORE the explode, not from a
    * corpus-scale distinct aggregate (the earlier shape: 75 M near-unique
    * pair keys through a HashAggregate — 6.4 GB of sort-fallback spill at
    * sf30, pure overhead for a set the per-row dedup already yields).
    * Likewise n_grams is the pre-explode array size, not a token-scale
    * count. What remains wide: the gram df-count (map-side combine is
    * real here — a boilerplate gram repeats by definition) and the
    * per-doc boiler-occurrence count (doc ids are contiguous within scan
    * tasks, so partial counts collapse to ~one row per doc).
    *
    * The boiler set joins BROADCAST, explicitly (the qllm_tfidf df-table
    * lesson): Catalyst's static estimate for filter-over-aggregate is
    * fact-scale, so without the hint the sf30 plan shuffled the whole
    * occurrence stream by gram (0.9 GB write + 6.3 GB sort spill) AND
    * left the per-doc count running over gram-partitioned input where
    * every task held every doc id — AQE cannot undo the shuffle write it
    * has already materialized. The set is the df heavy-hitter tail —
    * ≤ occurrences/minDf by pigeonhole, in practice the small set of
    * repeated chrome/license grams a C4-style pass exists to find — the
    * same boundedness contract as tfidf's vocab table. */
  def boilerplateTag(df: DataFrame, id: Column, text: Column,
      n: Int = 3, minDf: Int = 5): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val docs = df.select(id.as("__id"), split(lower(text), " ").as("__w"))
      .filter(size(col("__w")) >= n)
      .select(col("__id"),
        graft.functions.NgramFunctions.ngram_hashes(col("__w"), n).as("__gs"))
    val boiler = docs
      .select(explode(array_distinct(col("__gs"))).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select(col("__g"))
    val perDoc = docs
      .select(col("__id"), size(col("__gs")).cast(LongType).as("n_grams"))
    val nb = docs.select(col("__id"), explode(col("__gs")).as("__g"))
      .join(broadcast(boiler), "__g")
      .groupBy(col("__id")).agg(count(lit(1)).as("n_boiler"))
    perDoc.join(nb, Seq("__id"), "left")
      .select(col("__id").as("id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
  }

  /** Trailing-frame rolling median over scale-4 integer units: returns
    * `(id, key, ts, vi, n_frame, med_i)` where `med_i` is the LOWER
    * median (1-based ⌈n/2⌉ pick into the sorted frame array) of the last
    * `frame` values per key in (ts, id) order. The frame rides as a
    * BOUNDED `collect_list` array — O(frame) per-row state regardless of
    * partition size — and every step (sort, pick) is exact integer work,
    * so results are reproducible across engines and runs (D8/D12). */
  def rollingMedian(df: DataFrame, id: Column, key: Column, ts: Column,
      value: Column, frame: Int = 10): DataFrame = {
    require(frame >= 1, s"frame must be >= 1, got $frame")
    val w = Window.partitionBy(col("key")).orderBy(col("ts"), col("id"))
      .rowsBetween(-(frame - 1), Window.currentRow)
    df.select(id.as("id"), key.as("key"), ts.as("ts"),
        (value.cast(DecimalType(12, 4)) * lit(10000)).cast(LongType).as("vi"))
      .withColumn("__fr", collect_list(col("vi")).over(w))
      // native one-pass frame median (graft.functions.FrameMedians) —
      // replaces the boxed per-row sort_array pick, bit-equal by
      // construction (same ⌈n/2⌉-th-smallest rule; PropertySpec pins it)
      .select(col("id"), col("key"), col("ts"), col("vi"),
        size(col("__fr")).cast(LongType).as("n_frame"),
        graft.functions.FrameMediansUtil.frame_medians(col("__fr"), withMad = false)
          .getField("med_i").as("med_i"))
  }

  /** Hampel outlier filter on top of [[rollingMedian]]'s frame shape:
    * flags `vi` when |vi − med| · 2 > MAD · 2k (k defaults to the
    * standard 3), where MAD is the median absolute deviation within the
    * SAME trailing frame — both medians read one shared sorted array,
    * one window sort total. Returns `(id, key, ts, vi, med_i, mad_i,
    * outlier)`. The robust despiking rule for feeds whose spikes would
    * poison a ±kσ rule's own σ. */
  def hampel(df: DataFrame, id: Column, key: Column, ts: Column,
      value: Column, frame: Int = 10, k: Int = 3): DataFrame = {
    require(frame >= 1 && k >= 1, s"frame/k must be >= 1, got $frame/$k")
    val w = Window.partitionBy(col("key")).orderBy(col("ts"), col("id"))
      .rowsBetween(-(frame - 1), Window.currentRow)
    df.select(id.as("id"), key.as("key"), ts.as("ts"),
        (value.cast(DecimalType(12, 4)) * lit(10000)).cast(LongType).as("vi"))
      .withColumn("__fr", collect_list(col("vi")).over(w))
      // both medians in ONE native pass (graft.functions.FrameMedians):
      // the old shape paid a boxed sort_array for the median plus an
      // INTERPRETED transform lambda + second boxed sort for the MAD,
      // per row — the interpreted-lambda cost class the qllm_novelty
      // scaladoc rejects. Bit-equal (same ⌈n/2⌉ rule on both picks).
      .withColumn("__mm",
        graft.functions.FrameMediansUtil.frame_medians(col("__fr"), withMad = true))
      .withColumn("med_i", col("__mm").getField("med_i"))
      .withColumn("mad_i", col("__mm").getField("mad_i"))
      .select(col("id"), col("key"), col("ts"), col("vi"), col("med_i"), col("mad_i"),
        (abs(col("vi") - col("med_i")) * 2 > col("mad_i") * (2 * k)).as("outlier"))
  }

  /** Per-key 2σ outliers with an EXACT cross-engine boundary decision:
    * flags rows where (n·v − Σv)² > 4·(n·Σv² − (Σv)²), i.e. |v − mean| >
    * 2σ, and reports z = (v − mean)/σ. All boundary arithmetic runs in
    * SCALED-INTEGER units (value·10⁴ as an integer), so the predicate is
    * an integer comparison no floating rounding can flip: Spark carries
    * it in DECIMAL(38,0) (every product ≤ 4·10³⁶ for partitions up to
    * 5·10¹⁰ rows with |v| < 10⁴) and an INT128 oracle (DuckDB HUGEINT,
    * cap 1.7·10³⁸) agrees on every bit. The 10⁻⁴/10⁻⁸ unit scales cancel
    * in z = devi/√di, so the reported z needs no rescaling. Overflow
    * beyond the ~5·10¹⁰-rows-per-key bound is an ANSI cast ERROR, never
    * a silent wrong answer (EdgeCaseSpec pins a 1.2M-row partition).
    *
    * Scale: ONE whole-partition window over `key` (no value ordering),
    * one keyed shuffle; per-key window state is three scalars, never the
    * value list. Single-event and constant-valued keys yield devi = di =
    * 0, excluded by the strict inequality before any sqrt.
    *
    * Returns (id, key, val: DECIMAL(12,4), z: double). */
  def anomalyZ(df: DataFrame, id: Column, key: Column, value: Column): DataFrame = {
    val w = Window.partitionBy(col("key"))
    val v = df.select(id.as("id"), key.as("key"),
        value.cast(DecimalType(12, 4)).as("val"))
      .withColumn("__vi", (col("val") * lit(10000)).cast(DecimalType(9, 0)))
    val m = v.select(col("id"), col("key"), col("val"), col("__vi"),
      count(lit(1)).over(w).cast(DecimalType(12, 0)).as("__n"),
      sum(col("__vi").cast(DecimalType(20, 0))).over(w)
        .cast(DecimalType(20, 0)).as("__svi"),
      sum((col("__vi") * col("__vi")).cast(DecimalType(27, 0))).over(w)
        .cast(DecimalType(27, 0)).as("__svvi"))
    val j = m
      .withColumn("__devi",
        (col("__n") * col("__vi") - col("__svi")).cast(DecimalType(20, 0)))
      .withColumn("__di", col("__n") * col("__svvi") - col("__svi") * col("__svi"))
    j.filter(col("__devi") * col("__devi") >
        lit(4).cast(DecimalType(2, 0)) * col("__di"))
      .select(col("id"), col("key"), col("val"),
        round(col("__devi").cast(DoubleType) / sqrt(col("__di").cast(DoubleType)), 6)
          .as("z"))
  }
}
