package graft

import graft.api.Graft
import org.apache.spark.sql.functions._

/** Direct coverage of the public operator API over hand-built frames
  * (the declared queries exercise these transitively; these tests pin the
  * contracts a library user depends on).
  */
class ApiSpec extends SparkFixture {

  test("ivfTopK assigns each vector to its best centroid, ties to lowest cid") {
    val sp = spark
    import sp.implicits._
    val centroids = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f))).toDF("cid", "c_emb")
    val vectors = Seq(
      (10L, Array(2.0f, 0.1f)),  // cell 0
      (11L, Array(0.1f, 3.0f)),  // cell 1
      (12L, Array(1.0f, 1.0f)))  // equidistant -> tie -> cid 0
      .toDF("vec_id", "embedding")
    val out = Graft.ivfTopK(vectors, col("vec_id"), col("embedding"), centroids, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap // cid -> but multiple...
    val byVec = Graft.ivfTopK(vectors, col("vec_id"), col("embedding"), centroids, k = 3)
      .collect().map(r => r.getLong(2) -> r.getLong(0)).toMap // vec_id -> cid
    assert(byVec(10L) == 0L && byVec(11L) == 1L)
    assert(byVec(12L) == 0L, "cosine tie must break to the lowest centroid id")
  }

  test("srpTopK: per-bucket top-k equals brute force within the bucket; cap bounds the pool") {
    val sp = spark
    import sp.implicits._
    // one plane (x-axis): positive-x vectors share bucket 1, negative-x
    // bucket 0 — so 1,2,4 are bucket-mates and 3 is alone (emits nothing)
    val vectors = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(-1.0f, 0.0f)),
      (4L, Array(0.5f, 0.8f)))
      .toDF("vec_id", "embedding")
    val planes = Seq((0, Array(1.0f, 0.0f))).toDF("pid", "p_emb")
    val out = Graft.srpTopK(vectors, col("vec_id"), col("embedding"), planes, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force within {1,2,4}: 1's best is 2 (cos≈0.99), 2's best is 1,
    // 4's best is 2 (0.5·0.9+0.8·0.1 normalized beats 1's 0.5)
    assert(out == Map(1L -> 2L, 2L -> 1L, 4L -> 2L), s"got $out")
    // candidateCap=1 restricts every anchor's pool to the smallest id
    // per bucket (vec 1) — so 1 itself gets no candidate, 2 and 4 get 1
    val capped = Graft.srpTopK(vectors, col("vec_id"), col("embedding"), planes,
        k = 3, candidateCap = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(capped == Set(2L -> 1L, 4L -> 1L), s"got $capped")
  }

  test("srpTopK survives total cluster collapse: bounded work and ≤ k rows per anchor") {
    // the cluster-collapse regression guard (PERF.md round 8b): when
    // every vector is near-identical, ALL of them share one SRP bucket
    // at any plane count — the candidate cap must bound each anchor's
    // pool (and the output) regardless, or the bucket join goes n²
    val sp = spark
    import sp.implicits._
    val n = 500
    val vectors = (0L until n).map(i =>
      // one tight cluster: tiny perturbations, all positive dot with the plane
      (i, Array(1.0f, (i % 7).toFloat * 1e-6f))).toDF("vec_id", "embedding")
    val planes = Seq((0, Array(1.0f, 0.0f))).toDF("pid", "p_emb")
    val out = Graft.srpTopK(vectors, col("vec_id"), col("embedding"), planes,
      k = 3, candidateCap = 16)
    val rows = out.collect()
    // output bounded: ≤ k per anchor, and only capped-pool candidates
    assert(rows.length <= n * 3, s"output not linear: ${rows.length}")
    val perAnchor = rows.groupBy(_.getLong(0)).map(_._2.length)
    assert(perAnchor.max <= 3)
    // every neighbor comes from the 16 smallest ids (the capped pool)
    assert(rows.forall(_.getLong(1) < 16), "candidate outside the deterministic cap pool")
    // anchors are NOT dropped by the cap: all 500 get neighbors
    assert(rows.map(_.getLong(0)).distinct.length == n)
  }

  test("srpCandidates tiling is invisible: multi-tile output equals the one-tile pair set") {
    // the straggler-task fix (PERF.md round 9c): a bucket larger than
    // blockSize is enumerated across (tile_a, tile_b) join keys instead
    // of one task per bucket. The pair SET must be exactly the one-tile
    // (= pre-tiling) enumeration — same pairs, same sims, no dups, no
    // holes — including tiles that are partially filled and the
    // diagonal tiles where vec_a < vec_b does the dedup.
    val sp = spark
    import sp.implicits._
    // one tight positive-x cluster of 23 (forces 5 tiles at blockSize=5,
    // last tile partial) plus 3 negative-x vectors in a second bucket
    val vectors = ((0L until 23L).map(i =>
        (i, Array(1.0f, (i % 5).toFloat * 0.01f))) ++
      Seq((100L, Array(-1.0f, 0.0f)), (101L, Array(-0.9f, 0.2f)),
        (102L, Array(-1.0f, 0.3f))))
      .toDF("vec_id", "embedding")
    val planes = Seq((0, Array(1.0f, 0.0f))).toDF("pid", "p_emb")
    def pairs(blockSize: Int): Set[(Long, Long, Long, Double)] =
      Graft.srpCandidates(vectors, col("vec_id"), col("embedding"), planes,
          threshold = -1.0, blockSize = blockSize)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val tiled = pairs(5)
    val oneTile = pairs(Int.MaxValue)
    assert(tiled == oneTile, "tiled pair set diverges from the one-tile enumeration")
    // threshold -1 keeps every within-bucket pair: 23·22/2 + 3·2/2
    assert(oneTile.size == 23 * 22 / 2 + 3, s"expected full pair set, got ${oneTile.size}")
  }

  test("srpDropSet: two-phase prune equals the full pair enumeration's drop set") {
    val sp = spark
    import sp.implicits._
    // (a) hand-built bucket where the deciding witness is NOT in the probe
    // pool: ids 0,1 (the pool at probeCap=2) point along +x; ids 2,3 point
    // along +y (same bucket — the plane is (1,0) and all x > 0), so id 3's
    // only ≥0.95 witness is the NON-pool id 2 — a drop only phase 2 can
    // find. id 4 drops in phase 1 (vs id 0), id 2 survives both phases.
    val vectors = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.05f)),  // vs 0: cos ≈ 0.9988 → phase-1 drop
      (2L, Array(0.05f, 1.0f)),  // vs pool ≈ 0.05 → kept
      (3L, Array(0.06f, 1.0f)),  // vs 2: cos ≈ 0.99995 → PHASE-2 drop
      (4L, Array(0.9f, 0.1f)))   // vs 0: cos ≈ 0.9939 → phase-1 drop
      .toDF("vec_id", "embedding")
    val planes = Seq((0, Array(1.0f, 0.0f))).toDF("pid", "p_emb")
    val drops = Graft.srpDropSet(vectors, col("vec_id"), col("embedding"),
        planes, threshold = 0.95, probeCap = 2, blockSize = 1)
      .collect().map(_.getLong(0)).toSet
    assert(drops == Set(1L, 3L, 4L), s"got $drops")

    // (b) on the real fixture with the qllm_semdedup plane construction:
    // the drop set must equal srpCandidates' distinct vec_b EXACTLY, both
    // at a tiny probeCap/blockSize (phase 2 forced, multi-tile) and at
    // the production defaults — the phase split moves where a witness is
    // found, never whether one exists.
    val emb = graft.etl.Tables.embeddings(spark, sfTiny)
    val pc = emb.agg(greatest(lit(5L),
      ceil(log2(count(lit(1)).cast("double") / lit(8.0)))).as("pc"))
    val fixPlanes = emb.crossJoin(broadcast(pc)).filter(col("vec_id") < col("pc"))
      .select(col("vec_id").cast("int").as("pid"), col("embedding").as("p_emb"))
    val want = Graft.srpCandidates(emb, col("vec_id"), col("embedding"),
        fixPlanes, threshold = 0.3)
      .select(col("vec_b")).distinct().collect().map(_.getLong(0)).toSet
    Seq((2, 3), (64, 1024)).foreach { case (cap, bs) =>
      val got = Graft.srpDropSet(emb, col("vec_id"), col("embedding"),
          fixPlanes, threshold = 0.3, probeCap = cap, blockSize = bs)
        .collect().map(_.getLong(0)).toSet
      assert(got == want,
        s"probeCap=$cap blockSize=$bs: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("fingerprint is stable under whitespace/punctuation noise") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      ("Hello,   World!", 1L),
      ("hello world", 2L)).toDF("text", "id")
    val fps = df.select(Graft.fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0)).distinct
    assert(fps.length == 1, s"normalized forms should collide: ${fps.toSeq}")
  }

  test("simhash candidates find the duplicate pair at hamming 0") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val cands = Graft.simhashCandidates(
        Graft.simhashFingerprints(docs, col("doc_id"), col("text")), maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(cands.get((0L, 1L)).contains(0))
  }

  test("dedupClusters resolves chained pairs into min-id components, pair-order invariant") {
    val sp = spark
    import sp.implicits._
    // two chains (1-2-3-4 via non-transitive edges, 10-11) + a self-contained pair
    val pairs = Seq((2L, 1L), (3L, 2L), (3L, 4L), (11L, 10L), (20L, 21L))
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    for (perm <- Seq(pairs, pairs.reverse, pairs.sortBy(_._2))) {
      val got = Graft.dedupClusters(perm.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"for edge order $perm")
    }
    // a long path needs diameter rounds — exercises the iteration + early stop
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Graft.dedupClusters(path, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 13 && labels.values.forall(_ == 0L), labels)
  }

  test("globalRanks matches a reference sort; ntileFromRank matches SQL ntile sizing") {
    val sp = spark
    import sp.implicits._
    // duplicate order values force the tiebreak; 103 % 4 != 0 exercises sizing
    val df = (0 until 103).map(i => ((i * 37 % 50).toDouble, i.toLong)).toDF("v", "id")
    val ranked = Graft.globalRanks(df, Seq("__rank" -> col("v")), Seq(col("id")),
        buckets = 7, sampleOneIn = 4)
      .withColumn("q", Graft.ntileFromRank(col("__rank"), col("__n"), 4))
      .collect().map(r => (r.getAs[Double]("v"), r.getAs[Long]("id"),
        r.getAs[Long]("__rank"), r.getAs[Long]("__n"), r.getAs[Int]("q")))
    val byRank = ranked.sortBy(_._3)
    val refOrder = ranked.map(t => (t._1, t._2)).sorted
    assert(byRank.map(t => (t._1, t._2)).toSeq == refOrder.toSeq, "rank order != sort order")
    assert(byRank.map(_._3).toSeq == (1L to 103L), "ranks must be exactly 1..n")
    assert(ranked.forall(_._4 == 103L))
    // SQL ntile(4) of 103 rows: sizes 26,26,26,25
    val sizes = ranked.groupBy(_._5).view.mapValues(_.size).toMap
    assert(sizes == Map(1 -> 26, 2 -> 26, 3 -> 26, 4 -> 25), sizes)
  }

  test("saltedJoin returns exactly the plain join's rows on a skewed key") {
    val sp = spark
    import sp.implicits._
    // 10% of fact rows pile onto key 0 — the hot-key shape salting targets
    val fact = (0 until 5000)
      .map(i => (if (i % 10 == 0) 0L else (i % 97).toLong, i.toLong)).toDF("k", "v")
    val dim = (0L until 97L).map(k => (k, s"d$k")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).select("k", "v", "name")
      .collect().map(_.toString).sorted.toSeq
    val salted = Graft.saltedJoin(fact, dim, "k", salt = 8).select("k", "v", "name")
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }

  test("sequenceConcat equals the group-collect reference, including a hot key") {
    val sp = spark
    import sp.implicits._
    // key 7 is bot-grade (half of all rows); order must hold within keys
    val rows = (0 until 4000).map { i =>
      val k = if (i % 2 == 0) 7L else (i % 23).toLong
      (k, (4000 - i).toLong, i.toLong, s"e${i % 5}")
    }
    val df = rows.toDF("k", "t", "id", "ev")
    val got = Graft.sequenceConcat(df, "k", "t", "id", "ev")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    val want = rows.groupBy(_._1).map { case (k, g) =>
      k -> (g.size.toLong, g.sortBy(r => (r._2, r._3)).map(_._4).mkString(","))
    }
    assert(got == want)
  }

  test("globalRanks: NaN order values rank last (explicitly, ANSI-safe)") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1.0, 1L), (Double.NaN, 2L), (5.0, 3L), (Double.NaN, 4L), (2.0, 5L))
      .toDF("v", "id")
    def ranks(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Graft.globalRanks(d, Seq("__rank" -> col("v")), Seq(col("id")), 4, sampleOneIn = 1)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("__rank")).toMap
    // sort order: 1.0, 2.0, 5.0, NaN(id 2), NaN(id 4) — NaN greatest, ties by id
    assert(ranks(df) == Map(1L -> 1L, 5L -> 2L, 3L -> 3L, 2L -> 4L, 4L -> 5L))
    // all NaN: the sample keeps no value, so no boundary; every row takes
    // the NaN bucket and the tiebreak alone orders them
    val allNaN = (1L to 4L).map(i => (Double.NaN, i)).toDF("v", "id")
    assert(ranks(allNaN) == (1L to 4L).map(i => i -> i).toMap)
  }

  test("dedupClusters fails loudly when maxIter exhausts before the fixed point") {
    val sp = spark
    import sp.implicits._
    // a 6-node path graph needs ≥2 label rounds; maxIter=1 must throw, not
    // silently return half-propagated clusters
    val pairs = (0L until 5L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Graft.dedupClusters(pairs, "a", "b", maxIter = 1).collect()
    }
    assert(e.getMessage.contains("no fixed point"))
  }

  test("asofJoin tolerance: stale matches drop, in-window matches keep (merge_asof semantics)") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 100L), (1L, 500L)).toDF("k", "ts")
    val right = Seq((1L, 120L), (1L, 480L), (1L, 505L)).toDF("k", "ts")
    // no tolerance: every right row matches its floor
    val all = Graft.asofJoin(left, right, "k", "ts")
      .select(col("ts"), col("asof_ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((120L, 100L), (480L, 100L), (505L, 500L)))
    // tolerance 50: the 480 row's only floor (100) is 380 stale -> drops
    val tight = Graft.asofJoin(left, right, "k", "ts", tolerance = Some(50L))
      .select(col("ts"), col("asof_ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((120L, 100L), (505L, 500L)))
  }

  test("redactPii counts and replaces per rule, in order") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1L, "mail me at bob@x.co or sue@y.org, tel 555-1234"),
      (2L, "no contact info here")).toDF("id", "t")
    val out = Graft.redactPii(df, col("t")).orderBy("id").collect()
    assert(out(0).getAs[Long]("n_emails") == 2 && out(0).getAs[Long]("n_phones") == 1)
    assert(out(0).getAs[String]("redacted") ==
      "mail me at <EMAIL> or <EMAIL>, tel <PHONE>")
    assert(out(1).getAs[Long]("n_emails") == 0 && out(1).getAs[Long]("n_phones") == 0)
    assert(out(1).getAs[String]("redacted") == "no contact info here")
  }

  test("canonicalUrl folds case, strips query and trailing slash") {
    val sp = spark
    import sp.implicits._
    val urls = Seq(
      "HTTPS://A.Example.COM/Path/?utm=1",
      "https://a.example.com/Path",
      "https://a.example.com/path?x=2").toDF("u")
    val canon = urls.select(Graft.canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0))
    assert(canon(0) == "https://a.example.com/path")
    assert(canon(1) == "https://a.example.com/path")
    assert(canon(2) == "https://a.example.com/path")
  }

  test("boilerplateTag flags grams above the df threshold, zero otherwise") {
    val sp = spark
    import sp.implicits._
    // "x y z" appears in docs 1..3 (df 3 ≥ minDf 3); each doc also has
    // unique grams that must not be flagged
    val docs = Seq(
      (1L, "x y z a b c"),
      (2L, "x y z d e f"),
      (3L, "q r x y z s"),
      (4L, "u v w u v w")).toDF("id", "t")
    val out = Graft.boilerplateTag(docs, col("id"), col("t"), n = 3, minDf = 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1: grams xyz yza zab abc -> 1 boiler; doc 3: qrx rxy xyz yzs -> 1
    assert(out.toSeq == Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (4L, 4L, 0L)))
  }

  test("intervalOverlapJoin: exactly-once pairs — touching, bin-spanning, long, negative") {
    val sp = spark
    import sp.implicits._
    // bin width 10. Cases per key:
    //  k=1: [0,5]  vs [5,9]    touch at 5 (closed ends) -> overlap
    //  k=1: [0,5]  vs [6,8]    disjoint -> no pair
    //  k=2: [8,12] vs [11,14]  overlap [11,12] crosses the 10-bin boundary;
    //                          both touch bins 0 and 1 -> must emit ONCE
    //  k=3: [0,35] vs [30,31]  left spans 4 bins (longer than a bin) -> once
    //  k=4: [-15,-6] vs [-8,-2] negative coords, floor-binned -> once
    //  k=5: [0,3]  vs [20,25]  same key, far apart -> no pair
    val a = Seq((1, 0, 5), (2, 8, 12), (3, 0, 35), (4, -15, -6), (5, 0, 3))
      .toDF("k", "a_s", "a_e")
    val b = Seq((1, 5, 9), (1, 6, 8), (2, 11, 14), (3, 30, 31), (4, -8, -2),
      (5, 20, 25)).toDF("k", "b_s", "b_e")
    val out = Graft.intervalOverlapJoin(a, b, "k", "a_s", "a_e", "b_s", "b_e",
        binWidth = 10L)
      .select(col("k"), col("a_s"), col("b_s"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    // exactly one row per overlapping pair (no multi-bin double count)
    assert(out.sorted == Seq((1, 0, 5), (2, 8, 11), (3, 0, 30), (4, -15, -8)))
  }

  test("zorderKey: exact Morton interleave; aligned quadrant is one contiguous z-range") {
    val sp = spark
    import sp.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val bits = 5 // full 32x32 grid — exhaustive
    val cells = for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong)
    val got = cells.toDF("x", "y")
      .withColumn("z", Graft.zorderKey(col("x"), col("y"), bits))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    cells.foreach { case (x, y) =>
      assert(got((x, y)) == ref(x, y, bits), s"z($x,$y)")
    }
    // power-of-2-aligned quadrant (x in [0,15], y in [16,31]): membership in
    // the box must equal membership in [z(0,16), z(15,31)] — the contiguity
    // that makes min/max row-group pruning serve both columns at once
    val lo = ref(0, 16, bits)
    val hi = ref(15, 31, bits)
    cells.foreach { case (x, y) =>
      val inBox = x <= 15 && y >= 16
      val inRange = got((x, y)) >= lo && got((x, y)) <= hi
      assert(inBox == inRange, s"quadrant contiguity broken at ($x,$y)")
    }
  }

  test("zorderKey: out-of-range coordinates are masked mod 2^bits, negatives included") {
    val sp = spark
    import sp.implicits._
    val bits = 5
    val mod = 1L << bits
    // every input must produce the same key as its value mod 2^bits — a
    // negative coordinate must NOT sign-extend through the shifts
    val inputs = Seq(
      (-1L, 0L), (0L, -1L), (-32L, -32L), (-7L, 40L),
      (Long.MinValue, 3L), (33L, 64L), (Long.MaxValue, Long.MinValue))
    val df = inputs.toDF("x", "y")
      .withColumn("z_raw", Graft.zorderKey(col("x"), col("y"), bits))
      .withColumn("z_mod",
        Graft.zorderKey(pmod(col("x"), lit(mod)), pmod(col("y"), lit(mod)), bits))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(3),
        s"mask semantics broken at (${r.getLong(0)}, ${r.getLong(1)})")
      // key stays within the 2*bits-bit range whatever the input
      assert(r.getLong(2) >= 0L && r.getLong(2) < (1L << (2 * bits)))
    }
  }

  test("bloomPrune: subquery ids stay distinct when fact already embeds dim's subtree") {
    val sp = spark
    import sp.implicits._
    // dim and fact share the SAME DataFrame subtree (same attribute ids):
    // fact = base rows enriched by joining dim itself — the self-join shape
    // the subquery dedup exists for. Without deduplication the bloom
    // subquery's dim attributes alias the outer join's.
    val dim = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "tag")
      .filter(col("k") =!= 2L)
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("k", "v")
    val fact = base.join(dim, Seq("k"), "left")
    val pruned = Graft.bloomPrune(fact, col("k"), dim, col("k"))
    val kept = pruned.select("k").as[Long].collect().sorted
    // bloom has no false negatives: keys 1 and 3 (dim survivors) must stay;
    // key 2 and 4 may only drop (false-positive retention is legal)
    assert(kept.contains(1L) && kept.contains(3L))
    assert(kept.toSet.subsetOf(Set(1L, 2L, 3L, 4L)))
    // and the pruned fact must still re-join the very same dim instance
    val n = pruned.join(dim, Seq("k")).count()
    assert(n == 2L)
  }

  test("hampel: a lone spike is flagged; the steady neighbourhood is not") {
    val sp = spark
    import sp.implicits._
    // steady 10.0s with one 500.0 spike at ts 5: med stays 10, MAD small
    val rows = (1L to 9L).map(t => (t, 1L, t, if (t == 5L) 500.0 else 10.0))
    val df = rows.toDF("id", "key", "ts", "v")
    val out = Graft.hampel(df, col("id"), col("key"), col("ts"), col("v"),
        frame = 5, k = 3)
      .select(col("ts"), col("outlier")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(5L), "the spike itself must be flagged")
    assert(!out(2L) && !out(3L) && !out(4L), "steady prefix must not be flagged")
    // rollingMedian agrees with a hand sort on the spike frame [10,10,500,10,10]
    val med = Graft.rollingMedian(df, col("id"), col("key"), col("ts"), col("v"),
        frame = 5)
      .filter(col("id") === 7L).select(col("med_i")).head().getLong(0)
    assert(med == 100000L, s"median of the spike-containing frame must be 10.0 (got $med)")
  }
}
