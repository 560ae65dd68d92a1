package graft

import graft.api.Graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** SURVEY §5.3 algebraic invariants over scalacheck-generated inputs.
  * Generators are driven manually (fixed seed → reproducible failures)
  * rather than via scalatestplus, which is not on the offline classpath.
  */
class PropertySpec extends SparkFixture {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def intDf(xs: Seq[Int]): DataFrame = {
    val sp = spark
    import sp.implicits._
    xs.toDF("x")
  }

  private val smallLists = Gen.listOfN(40, Gen.chooseNum(-50, 50))

  test("filter fusion: filter(p).filter(q) == filter(p && q)") {
    samples(smallLists, 8).foreach { xs =>
      val df = intDf(xs)
      val a = df.filter(col("x") > 0).filter(col("x") % 2 === 0)
        .collect().map(_.getInt(0)).sorted.toSeq
      val b = df.filter(col("x") > 0 && col("x") % 2 === 0)
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(a == b)
    }
  }

  test("count_leq equals the interpreted filter-lambda it replaced (incl. null elements, empty array)") {
    // the qagg_rfm bucket-assignment contract (round-9 sf30 fix): the
    // native expression must agree with size(filter(arr, b -> b <= v))
    // value-for-value on every input the query can produce — including
    // partially-null arrays (the SQL filter drops a null predicate) and
    // the coalesce-to-empty fallback
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0, 3.0), 2.0),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0), 0.5),   // below all
      (3L, Seq[java.lang.Double](1.0, 2.0, 3.0), 9.9),   // above all
      (4L, Seq[java.lang.Double](2.0, 2.0, 2.0), 2.0),   // ties count each
      (5L, Seq[java.lang.Double](), 1.0),                // empty -> 0
      (6L, Seq[java.lang.Double](1.0, null, 3.0), 2.5),  // null element skipped
      (7L, Seq[java.lang.Double](-1.5, 0.0), -1.5))
      .toDF("id", "arr", "v")
    val got = rows.select(col("id"),
        graft.functions.ArraySearch.count_leq(col("arr"), col("v")).as("native"),
        size(filter(col("arr"), b => b <= col("v"))).cast("bigint").as("lambda"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"id=${r.getLong(0)}: native=${r.getLong(1)} lambda=${r.getLong(2)}")
    }
  }

  test("union additivity: count(a union b) == count(a) + count(b)") {
    samples(Gen.zip(smallLists, smallLists), 8).foreach { case (xs, ys) =>
      assert(intDf(xs).unionByName(intDf(ys)).count() == xs.size + ys.size)
    }
  }

  test("rank values lie in [1, group size]") {
    samples(smallLists.suchThat(_.nonEmpty), 8).foreach { xs =>
      val df = intDf(xs).withColumn("g", pmod(col("x"), lit(3)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("x"))
      val ranked = df.withColumn("r", rank().over(w))
        .groupBy(col("g"))
        .agg(max(col("r")).as("max_r"), count(lit(1)).as("n"))
        .collect()
      ranked.foreach(r => assert(r.getAs[Int]("max_r") <= r.getAs[Long]("n")))
    }
  }

  test("cosine similarity stays in [-1, 1] and is symmetric") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-10.0f, 10.0f))
      .suchThat(_.exists(_ != 0.0f))
    samples(Gen.zip(vecGen, vecGen), 10).foreach { case (a, b) =>
      val sp = spark
      import sp.implicits._
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val row = df.select(
        graft.functions.VectorFunctions.cosine_similarity(col("a"), col("b")).as("ab"),
        graft.functions.VectorFunctions.cosine_similarity(col("b"), col("a")).as("ba"))
        .collect()(0)
      val (ab, ba) = (row.getDouble(0), row.getDouble(1))
      assert(math.abs(ab) <= 1.0 + 1e-9)
      assert(ab == ba) // per-index op sequence is symmetric in a/b
    }
  }

  test("dot_product/(norm*norm) recomposes cosine_similarity bit-identically") {
    // The round-12 pair-scoring split (srpCandidates/srpDropSet/
    // srpBucketTopK carry precomputed norms through the tiled joins and
    // score with dot only) is valid ONLY if the recomposed double is the
    // exact cosine_similarity bit pattern at every input — this is the
    // pin. Checked in BOTH evaluation modes: codegen (plain projection)
    // and interpreted (nullSafeEval via a filter that Catalyst constant-
    // folds away would skip it, so use collect of the projection with
    // codegen disabled).
    import graft.functions.VectorFunctions.{cosine_similarity, dot_product, vector_norm}
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-10.0f, 10.0f))
      .suchThat(_.exists(_ != 0.0f))
    samples(Gen.zip(vecGen, vecGen), 10).foreach { case (a, b) =>
      val sp = spark
      import sp.implicits._
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val proj = df.select(
        cosine_similarity(col("a"), col("b")).as("fused"),
        (dot_product(col("a"), col("b")) /
          (vector_norm(col("a")) * vector_norm(col("b")))).as("split"))
      Seq("true", "false").foreach { wsc =>
        sp.conf.set("spark.sql.codegen.wholeStage", wsc)
        try {
          val row = proj.collect()(0)
          assert(java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
            java.lang.Double.doubleToRawLongBits(row.getDouble(1)),
            s"wholeStage=$wsc fused=${row.getDouble(0)} split=${row.getDouble(1)}")
        } finally sp.conf.set("spark.sql.codegen.wholeStage", "true")
      }
    }
  }

  test("mismatched-length vectors: fused truncates all terms, norm is full-array") {
    // Round-12 advice: the recompose identity above is EQUAL-dimension
    // only. Pin the documented mismatched-length semantics so neither
    // side can drift silently: cosine_similarity/dot_product truncate to
    // min(len), vector_norm sums its FULL array — so the recomposed
    // value intentionally differs from the fused one when lengths differ.
    import graft.functions.VectorFunctions.{cosine_similarity, dot_product, vector_norm}
    val longGen = Gen.listOfN(8, Gen.chooseNum(-10.0f, 10.0f))
      .suchThat(_.exists(_ != 0.0f))
    val shortGen = Gen.listOfN(5, Gen.chooseNum(-10.0f, 10.0f))
      .suchThat(_.exists(_ != 0.0f))
    samples(Gen.zip(longGen, shortGen), 10).foreach { case (a, b) =>
      val sp = spark
      import sp.implicits._
      val df = Seq((a.toArray, b.toArray, a.take(5).toArray)).toDF("a", "b", "a5")
      val row = df.select(
        cosine_similarity(col("a"), col("b")).as("fused_ab"),
        cosine_similarity(col("a5"), col("b")).as("fused_trunc"),
        dot_product(col("a"), col("b")).as("dot_ab"),
        vector_norm(col("a")).as("norm_a")).collect()(0)
      def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
      // fused(a, b) == fused(a truncated to len(b), b) — bit-identical
      assert(bits(row.getDouble(0)) == bits(row.getDouble(1)),
        s"fused should truncate: ${row.getDouble(0)} vs ${row.getDouble(1)}")
      // dot truncates to min(len): same ascending-order Scala sum
      val expDot = (0 until 5).foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
      assert(bits(row.getDouble(2)) == bits(expDot))
      // norm is over the FULL 8 elements, not the truncated 5
      val expNorm = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      assert(bits(row.getDouble(3)) == bits(expNorm))
    }
  }

  test("asof join: matched timestamp is the greatest left ts <= right ts") {
    val tsGen = Gen.listOfN(20, Gen.chooseNum(0L, 1000L))
    samples(Gen.zip(tsGen, tsGen), 8).foreach { case (ls, rs) =>
      val sp = spark
      import sp.implicits._
      val left = ls.map(t => (1L, t)).toDF("k", "t")
      val right = rs.map(t => (1L, t)).toDF("k", "t")
      val out = Graft.asofJoin(left, right, "k", "t").collect()
      val sortedLeft = ls.sorted
      out.foreach { r =>
        val (t, asof) = (r.getAs[Long]("t"), r.getAs[Long]("asof_ts"))
        val expected = sortedLeft.filter(_ <= t).lastOption
        assert(expected.contains(asof), s"t=$t asof=$asof expected=$expected")
      }
      // rows with no prior-or-equal left event are dropped (inner as-of)
      val unmatched = rs.count(t => !ls.exists(_ <= t))
      assert(out.length == rs.size - unmatched)
    }
  }

  test("native as-of join agrees with the window emulation on random data") {
    // multi-key, duplicate timestamps, keys missing on either side — the
    // custom AsofJoinExec and Graft.asofJoin must produce identical
    // (key, t, asof_ts) multisets
    val evGen = Gen.listOfN(30, Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 200L)))
    samples(Gen.zip(evGen, evGen), 6).foreach { case (ls, rs) =>
      val sp = spark
      import sp.implicits._
      val left = ls.toDF("k", "t")
      val right = rs.toDF("k", "t")
      val emulated = Graft.asofJoin(left, right, "k", "t")
        .select("k", "t", "asof_ts")
        .collect().map(_.toString).sorted.toSeq
      val native = graft.plans.AsofJoinNative(spark, left, right, "k", "t")
        .select("k", "t", "asof_ts")
        .collect().map(_.toString).sorted.toSeq
      assert(native == emulated,
        s"native=$native\nemulated=$emulated\nleft=$ls\nright=$rs")
      // tolerance parity: same comparison under a merge_asof-style bound
      val tol = 40L
      val emulatedTol = Graft.asofJoin(left, right, "k", "t", Some(tol))
        .select("k", "t", "asof_ts")
        .collect().map(_.toString).sorted.toSeq
      val nativeTol = graft.plans.AsofJoinNative(spark, left, right, "k", "t", Some(tol))
        .select("k", "t", "asof_ts")
        .collect().map(_.toString).sorted.toSeq
      assert(nativeTol == emulatedTol,
        s"tol native=$nativeTol\nemulated=$emulatedTol\nleft=$ls\nright=$rs")
      // the bound only ever removes rows
      assert(emulatedTol.toSet.subsetOf(emulated.toSet))
    }
  }

  test("globalRanks equals the single-partition global window on random data") {
    // duplicate order values + negative doubles + tiny/large bucket counts:
    // the rank must reproduce Window.orderBy's row_number exactly, for one
    // order column (the lazy bucketed frame) and for two in one call (the
    // materialized one)
    val rowsGen = Gen.listOfN(60, Gen.chooseNum(-100, 100))
    samples(Gen.zip(rowsGen, Gen.chooseNum(1, 16)), 6).foreach { case (xs, buckets) =>
      val sp = spark
      import sp.implicits._
      // u: distinct, negative and positive, in an order unrelated to v's
      val df = xs.zipWithIndex.map { case (v, i) =>
        (v.toDouble, ((i * 37) % 60 - 30).toLong, i.toLong) }.toDF("v", "u", "id")
      def reference(c: String): Map[Long, Long] = {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col(c), col("id"))
        df.withColumn("r", row_number().over(w))
          .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("r").toLong)).toMap
      }
      def ranks(ranked: org.apache.spark.sql.DataFrame, c: String): Map[Long, Long] =
        ranked.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long](c))).toMap
      val one = Graft.globalRanks(df, Seq("__rank" -> col("v")), Seq(col("id")),
        buckets, sampleOneIn = 2)
      assert(ranks(one, "__rank") == reference("v"), s"buckets=$buckets xs=$xs")
      val two = Graft.globalRanks(df, Seq("rv" -> col("v"), "ru" -> col("u")),
        Seq(col("id")), buckets, sampleOneIn = 2)
      assert(ranks(two, "rv") == reference("v"), s"two-column v: buckets=$buckets xs=$xs")
      assert(ranks(two, "ru") == reference("u"), s"two-column u: buckets=$buckets xs=$xs")
      assert(two.select("__n").distinct().collect().map(_.getLong(0)).toSeq == Seq(60L))
    }
  }

  test("globalRanks: exact ranks AND balanced buckets on a pareto-skewed column") {
    val sp = spark
    import sp.implicits._
    // deterministic pareto-tailed values: u ~ LCG uniform in (0,1),
    // v = u^-2 — max ≈ 10⁸ while the bulk sits below 100, so FIXED-width
    // buckets collapse to one hot bucket and only sampled quantiles balance
    val n = 20000
    val rows = (1 to n).map { i =>
      val u = ((i * 2654435761L) % 1000003 + 1).toDouble / 1000004.0
      (1.0 / (u * u), i.toLong)
    }
    val df = rows.toDF("v", "id")
    val buckets = 32

    // correctness: sampled boundaries must not change a single rank
    val reference = df.withColumn("__rank",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("id"))))
      .select(col("id"), col("__rank"))
    val sampled = Graft.globalRanks(df, Seq("__rank_s" -> col("v")), Seq(col("id")),
      buckets, sampleOneIn = 4)
      .select(col("id"), col("__rank_s"))
    assert(reference.join(sampled, "id")
      .filter(col("__rank") =!= col("__rank_s")).count() == 0,
      "sampled-boundary ranks diverge from the single-partition row_number")

    // balance: no sampled bucket exceeds 2× the mean occupancy...
    val occ = Graft.sampledBuckets(df, Seq(col("v")), Seq(col("id")), buckets, 4)
      .groupBy(col("__bk0")).count().collect().map(_.getLong(1))
    val mean = n.toDouble / buckets
    assert(occ.max <= 2 * mean,
      s"sampled buckets unbalanced: max=${occ.max}, mean=$mean, occ=${occ.toSeq.sorted}")

    // ...while the fixed-width assignment on the same data IS the pathology
    // the sampled variant exists for (≈ every row under the first width cut)
    val lo = rows.map(_._1).min
    val hi = rows.map(_._1).max
    val fixedHot = rows.count { case (v, _) =>
      math.min(buckets - 1L, math.floor((v - lo) * buckets / (hi - lo)).toLong) == 0L
    }
    assert(fixedHot > 2 * mean, s"fixture not skewed enough: hot bucket $fixedHot")
  }

  test("dedupClusters equals brute-force union-find on random graphs") {
    val edgeGen = Gen.listOfN(25, Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L)))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)
    samples(edgeGen, 6).foreach { edges =>
      val sp = spark
      import sp.implicits._
      // reference: classic union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(n => n -> find(n)).toMap
      val got = Graft.dedupClusters(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"edges=$edges")
    }
  }

  test("row-local simhash64/minhash64 equal the aggregate pipelines bit-for-bit") {
    // The round-12 row-local rewires (simhashFingerprints, qllm_minhash's
    // minhashSignaturesLocal) replace explode → shuffle → native aggregate
    // with one projection; this is the value pin: on random word lists —
    // duplicates, empties, single chars — the expression forms must equal
    // the SimHashAgg / MinHashAgg forms exactly, both codegen'd and
    // interpreted.
    import graft.functions.{MinHash64, SimHash64}
    val wordGen = Gen.listOfN(12,
      Gen.oneOf(Seq("a", "b", "cat", "dog", "the", "xyz", "", "Zz", "qq", "longerword")))
      .suchThat(_.nonEmpty)
    samples(wordGen, 8).foreach { words =>
      val sp = spark
      import sp.implicits._
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      // simhash: expression form (the simhashFingerprints path) vs aggregate
      val fpExpr = Graft.simhashFingerprints(docs, col("doc_id"), col("text"))
        .collect()(0).getLong(1)
      val fpAgg = docs
        .select(col("doc_id"), explode(array_distinct(split(lower(col("text")), " "))).as("__w"))
        .groupBy(col("doc_id"))
        .agg(graft.functions.SimHashAgg.simhash(xxhash64(col("__w"))).as("fp"))
        .collect()(0).getLong(1)
      assert(fpExpr == fpAgg, s"simhash mismatch for words=$words")
      // minhash: row-local signature vs the aggregate over the same shingles
      val sigLocal = Graft.minhashSignaturesLocal(docs, col("doc_id"), col("text"))
        .collect().headOption.map(_.getSeq[Long](1))
      val sigAgg = Graft.shingleHashes(docs, col("doc_id"), col("text"))
        .groupBy(col("doc_id"))
        .agg(graft.functions.MinHashAgg.minhash_signature(col("h64"), 16).as("sig"))
        .collect().headOption.map(_.getSeq[Long](1))
      assert(sigLocal == sigAgg, s"minhash mismatch for words=$words")
      // interpreted parity of the bare expressions (filters/locals can fall
      // out of whole-stage codegen; both eval paths must agree)
      sp.conf.set("spark.sql.codegen.wholeStage", "false")
      try {
        val fpInterp = Graft.simhashFingerprints(docs, col("doc_id"), col("text"))
          .collect()(0).getLong(1)
        assert(fpInterp == fpExpr, s"simhash codegen/interp divergence for $words")
        val sigInterp = Graft.minhashSignaturesLocal(docs, col("doc_id"), col("text"))
          .collect().headOption.map(_.getSeq[Long](1))
        assert(sigInterp == sigLocal, s"minhash codegen/interp divergence for $words")
      } finally sp.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("hashSplit partitions every row into exactly one split; exact dups co-locate") {
    val textGen = Gen.listOfN(30, Gen.alphaNumStr.suchThat(_.nonEmpty))
    samples(textGen, 4).foreach { texts =>
      val sp = spark
      import sp.implicits._
      // duplicate every text so co-location is actually exercised
      val df = (texts ++ texts).zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .withColumn("split", Graft.hashSplit(col("text")))
      val bySplit = df.groupBy("text").agg(countDistinct("split").as("n")).collect()
      bySplit.foreach(r => assert(r.getLong(1) == 1L, "dup text crossed splits"))
      val names = df.select("split").distinct().collect().map(_.getString(0)).toSet
      assert(names.subsetOf(Set("train", "val", "test")))
    }
  }

  test("minhash API: identical texts collide with estimate 1.0") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally different words entirely here now")).toDF("doc_id", "text")
    val sigs = Graft.minhashSignaturesLocal(docs, col("doc_id"), col("text"))
    val cands = Graft.minhashCandidates(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(cands.get((0L, 1L)).contains(1.0))
  }

  test("canonicalUrl is idempotent on random scheme/host/path/query shapes") {
    val sp = spark
    import sp.implicits._
    val seg = Gen.listOfN(4, Gen.alphaNumChar).map(_.mkString)
    val urlGen = for {
      host <- seg; p1 <- seg; p2 <- seg
      slash <- Gen.oneOf("", "/"); q <- Gen.oneOf("", "?utm=1&x=2")
      scheme <- Gen.oneOf("http://", "HTTPS://")
    } yield s"$scheme$host.Example.COM/$p1/$p2$slash$q"
    val urls = samples(urlGen, 60)
    val df = urls.toDF("u")
    val out = df.select(Graft.canonicalUrl(col("u")).as("c1"))
      .select(col("c1"), Graft.canonicalUrl(col("c1")).as("c2"))
      .collect()
    out.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"not idempotent: ${r.getString(0)}")
      assert(r.getString(0) == r.getString(0).toLowerCase)
      assert(!r.getString(0).contains("?") && !r.getString(0).endsWith("/"))
    }
  }

  test("redactPii leaves nothing to redact: a second pass finds zero matches") {
    val sp = spark
    import sp.implicits._
    val wordGen = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    val textGen = for {
      a <- wordGen; u <- wordGen; d <- wordGen; b <- wordGen
      n <- Gen.chooseNum(0, 9999)
    } yield s"$a contact $u@$d.com or 555-${"%04d".format(n)} $b"
    val df = samples(textGen, 40).toDF("t")
    val once = Graft.redactPii(df, col("t")).select(col("redacted").as("t"))
    val twice = Graft.redactPii(once, col("t"))
    twice.collect().foreach { r =>
      assert(r.getAs[Long]("n_emails") == 0L && r.getAs[Long]("n_phones") == 0L,
        s"residual PII in: ${r.getAs[String]("t")}")
    }
  }

  test("boilerplateTag: 0 <= n_boiler <= n_grams, and minDf above corpus size flags nothing") {
    val sp = spark
    import sp.implicits._
    val docGen = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))
    samples(Gen.listOfN(10, docGen), 4).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val out = Graft.boilerplateTag(df, col("id"), col("t"), n = 3, minDf = 2)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      out.foreach { case (ng, nb) => assert(nb >= 0 && nb <= ng, s"($ng, $nb)") }
      val none = Graft.boilerplateTag(df, col("id"), col("t"), n = 3, minDf = texts.size + 1)
        .collect().map(_.getLong(2))
      assert(none.forall(_ == 0L), "minDf > corpus size must flag nothing")
    }
  }

  test("count-min sketch: estimate >= true count, bounded slack, merge-order independent") {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit, XxHash64}
    import org.apache.spark.sql.types.StringType
    val sp = spark
    import sp.implicits._
    // deterministic zipf-ish corpus: token i appears 200/i times
    val words = (1 to 30).map(i => s"w$i")
    val tokens = words.zipWithIndex.flatMap { case (w, i) => Seq.fill(200 / (i + 1))(w) }
    val n = tokens.size.toLong
    val trueCounts = tokens.groupBy(identity).map { case (w, l) => w -> l.size.toLong }
    val probes = Seq("w1", "w2", "w7", "w29", "absent_token")
    val probeHashes = probes.map(w =>
      new XxHash64(Seq(CatLit.create(w, StringType))).eval(null).asInstanceOf[Long])
    def estimates(partitions: Int): Seq[Long] = {
      val df = tokens.toDF("tok").repartition(partitions)
      df.agg(graft.functions.CountMinAgg
          .cms_estimates(xxhash64(col("tok")), probeHashes, depth = 4, width = 1024).as("e"))
        .collect().head.getSeq[Long](0)
    }
    val est = estimates(1)
    probes.zip(est).foreach { case (w, e) =>
      val truth = trueCounts.getOrElse(w, 0L)
      assert(e >= truth, s"$w: CMS must never undercount ($e < $truth)")
      // per-row slack is the colliding mass (~n/width expected); depth-min
      // keeps it tiny — allow a generous deterministic 16x cushion
      assert(e - truth <= 16 * n / 1024 + 1, s"$w: slack ${e - truth} beyond bound")
    }
    // cell-wise-addition merge: any partitioning (merge order) gives the
    // exact same sketch bits, hence identical estimates
    assert(estimates(13) == est, "merge order changed the CMS estimates")
    assert(estimates(4) == est, "merge order changed the CMS estimates")
  }

  test("hll merge algebra: union of cell sketches equals the direct sketch; within 5% of exact") {
    import org.apache.spark.sql.functions._
    val ev = graft.etl.Tables.events(spark, sfTiny)
    // merged: per-(type, day) sketches unioned up to type
    val merged = ev
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // direct: one sketch straight over the raw rows
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == direct,
      s"sketch union must equal the direct sketch: $merged vs $direct")
    exact.foreach { case (t, n) =>
      val est = merged(t)
      assert(math.abs(est - n) <= math.max(1L, n / 20),
        s"$t: estimate $est vs exact $n exceeds 5%")
    }
  }

  test("GramAgg equals a direct outer-product fold on random vectors, any partitioning") {
    val sp = spark
    import sp.implicits._
    val d = 6
    val vecGen = Gen.listOfN(d, Gen.chooseNum(-1000000L, 1000000L))
    samples(Gen.listOfN(25, vecGen), 4).foreach { vecs =>
      val rows = vecs.map(_.toArray)
      // direct computation: n, per-component sums, upper-triangle products
      val n = rows.size.toLong
      val expect = (for (i <- 0 until d; j <- i until d) yield {
        val sab = rows.map(r => BigInt(r(i)) * BigInt(r(j))).sum
        val sa = rows.map(r => BigInt(r(i))).sum
        val sb = rows.map(r => BigInt(r(j))).sum
        (i, j, n, sab, sa, sb)
      }).toSeq
      for (parts <- Seq(1, 3)) { // partial-merge path must agree with 1-partition
        val got = rows.toDF("q").repartition(parts)
          .agg(graft.functions.GramAgg.gram(col("q"), d).as("g"))
          .select(explode(col("g")).as("p"))
          .select(col("p.i"), col("p.j"), col("p.n"), col("p.sab"), col("p.sa"), col("p.sb"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
            BigInt(r.getDecimal(3).toBigInteger), BigInt(r.getDecimal(4).toBigInteger),
            BigInt(r.getDecimal(5).toBigInteger)))
          .sortBy(t => (t._1, t._2)).toSeq
        assert(got == expect, s"parts=$parts")
      }
    }
  }

  test("GramAgg overflow spill: sums past 2^62 stay exact (BigInteger twin cells)") {
    val sp = spark
    import sp.implicits._
    // components near the 2^30 bound: each product ~2^59.8, so a cell
    // crosses the 2^62 spill threshold after ~5 rows — 60 rows exercise
    // the spill (and the merge of spilled partials) many times over
    val c = (1L << 30) - 1L
    val rows = Seq.fill(60)(Array(c, -c))
    val got = rows.toDF("q").repartition(4)
      .agg(graft.functions.GramAgg.gram(col("q"), 2).as("g"))
      .select(explode(col("g")).as("p"))
      .select(col("p.i"), col("p.j"), col("p.sab"))
      .collect().map(r => (r.getInt(0), r.getInt(1), BigInt(r.getDecimal(2).toBigInteger)))
      .sortBy(t => (t._1, t._2)).toSeq
    val prod = BigInt(c) * BigInt(c) * 60
    assert(got == Seq((0, 0, prod), (0, 1, -prod), (1, 1, prod)))
    assert(prod > BigInt(1L << 62), "fixture must actually cross the spill threshold")
  }

  test("GramAgg rejects components at the bound and dimension drift") {
    val sp = spark
    import sp.implicits._
    val bad = Seq(Array(1L << 30, 0L)).toDF("q")
      .agg(graft.functions.GramAgg.gram(col("q"), 2).as("g"))
    val e = intercept[Exception] { bad.collect() }
    assert(e.getMessage != null)
    val drift = Seq(Array(1L, 2L, 3L)).toDF("q")
      .agg(graft.functions.GramAgg.gram(col("q"), 2).as("g"))
    val e2 = intercept[Exception] { drift.collect() }
    assert(e2.getMessage != null)
  }

  test("ngram_hashes is bit-identical to the xxhash64(array_join(slice)) shape") {
    // the native expression replaces the interpreted transform in the
    // gram dedup family — its VALUES must match exactly, or hashes from
    // different call sites would stop joining
    for (n <- Seq(1, 2, 3, 5, 8)) {
      val d = graft.etl.Tables.documents(spark, sfTiny)
        .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
        .select(col("doc_id"),
          graft.functions.NgramFunctions.ngram_hashes(col("w"), n).as("fast"),
          expr(s"CASE WHEN size(w) >= $n THEN " +
            s"transform(sequence(1, size(w) - ${n - 1}), i -> xxhash64(array_join(slice(w, i, $n), ' '))) " +
            "ELSE array() END").as("ref"))
        .filter(not(col("fast") === col("ref")))
      assert(d.count() == 0, s"n=$n: native gram hashes diverge from the SQL shape")
    }
    // degenerate inputs: empty array, single word, and a word with
    // multi-byte UTF-8 (offset arithmetic is in BYTES)
    val sp = spark
    import sp.implicits._
    val edge = Seq(Seq.empty[String], Seq("solo"), Seq("héllo", "wörld", "日本"))
      .toDF("w")
      .select(
        graft.functions.NgramFunctions.ngram_hashes(col("w"), 2).as("fast"),
        expr("CASE WHEN size(w) >= 2 THEN " +
          "transform(sequence(1, size(w) - 1), i -> xxhash64(array_join(slice(w, i, 2), ' '))) " +
          "ELSE array() END").as("ref"))
      .collect()
    for (r <- edge)
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"edge-case divergence: $r")
  }

  test("gram_run_stats matches the explode+groupBy multiset statistics") {
    // the native row-local pass replaces qllm_repetition's corpus-scale
    // (doc, gram) aggregates — its four counters must equal the
    // (value, count)-table summaries exactly for EVERY array
    val g = graft.etl.Tables.documents(spark, sfTiny)
      .select(col("doc_id"),
        graft.functions.NgramFunctions.ngram_hashes(
          split(lower(col("text")), "\\s+"), 2).as("gs"))
    val fast = g.select(col("doc_id"),
      graft.functions.GramRunStatsUtil.gram_run_stats(col("gs")).as("s"))
      .select(col("doc_id"), col("s.n_grams"), col("s.n_distinct"),
        col("s.top_c"), col("s.dup_c"))
    val ref = g.select(col("doc_id"), explode(col("gs")).as("v"))
      .groupBy(col("doc_id"), col("v")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup_c"))
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty,
      "native run stats diverge from the aggregate shape")
    // degenerate inputs: empty, singleton, all-equal, all-distinct
    val sp = spark
    import sp.implicits._
    val edge = Seq(
      (Seq.empty[Long], (0L, 0L, 0L, 0L)),
      (Seq(7L), (1L, 1L, 1L, 0L)),
      (Seq(7L, 7L, 7L), (3L, 1L, 3L, 3L)),
      (Seq(3L, 1L, 2L), (3L, 3L, 1L, 0L)),
      (Seq(5L, 1L, 5L, 2L, 1L, 5L), (6L, 3L, 3L, 5L)))
    for ((in, want) <- edge) {
      val r = Seq(in).toDF("gs")
        .select(graft.functions.GramRunStatsUtil.gram_run_stats(col("gs")).as("s"))
        .select(col("s.n_grams"), col("s.n_distinct"), col("s.top_c"), col("s.dup_c"))
        .head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == want,
        s"gram_run_stats($in) = $r, want $want")
    }
  }

  test("frame_medians matches the sort_array picks it replaces") {
    // the native one-pass pair replaces qwin_median/qwin_hampel's boxed
    // sort_array median plus interpreted transform-lambda MAD — both
    // picks are the 1-based ceil(n/2)-th smallest and must be bit-equal
    // on EVERY frame the sliding collect_list window produces
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, org.apache.spark.sql.expressions.Window.currentRow)
    val f = graft.etl.Tables.events(spark, sfTiny)
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 4)) * lit(10000))
          .cast(org.apache.spark.sql.types.LongType).as("vi"))
      .withColumn("fr", collect_list(col("vi")).over(w))
    val fast = f.select(col("event_id"),
      graft.functions.FrameMediansUtil.frame_medians(col("fr"), withMad = true).as("m"))
      .select(col("event_id"), col("m.med_i"), col("m.mad_i"))
    val ref = f
      .withColumn("med_i", element_at(sort_array(col("fr")),
        ((size(col("fr")) + 1) / 2).cast(org.apache.spark.sql.types.IntegerType)))
      .withColumn("mad_i", element_at(
        sort_array(expr("transform(fr, x -> abs(x - med_i))")),
        ((size(col("fr")) + 1) / 2).cast(org.apache.spark.sql.types.IntegerType)))
      .select(col("event_id"), col("med_i"), col("mad_i"))
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty,
      "native frame medians diverge from the sort_array shape")
    // degenerate frames: singleton, even/odd lengths, ties, negatives;
    // withMad=false must skip the deviation pass (mad_i = 0), and the
    // empty frame is a loud upstream-bug error, not a value
    val sp = spark
    import sp.implicits._
    val edge = Seq(
      (Seq(7L), (7L, 0L)),
      (Seq(2L, 1L), (1L, 0L)),
      (Seq(3L, 1L, 2L), (2L, 1L)),
      (Seq(5L, 5L, 5L, 5L), (5L, 0L)),
      (Seq(-4L, 0L, 6L, -10L), (-4L, 4L)))
    for ((in, want) <- edge) {
      val r = Seq(in).toDF("fr")
        .select(graft.functions.FrameMediansUtil.frame_medians(col("fr"), withMad = true).as("m"))
        .select(col("m.med_i"), col("m.mad_i")).head()
      assert((r.getLong(0), r.getLong(1)) == want,
        s"frame_medians($in) = $r, want $want")
      val noMad = Seq(in).toDF("fr")
        .select(graft.functions.FrameMediansUtil.frame_medians(col("fr"), withMad = false).as("m"))
        .select(col("m.med_i"), col("m.mad_i")).head()
      assert((noMad.getLong(0), noMad.getLong(1)) == (want._1, 0L),
        s"frame_medians($in, withMad=false) = $noMad, want (${want._1}, 0)")
    }
    val boom = intercept[Exception] {
      Seq(Seq.empty[Long]).toDF("fr")
        .select(graft.functions.FrameMediansUtil.frame_medians(col("fr"), withMad = false))
        .collect()
    }
    assert(boom.getMessage != null)
  }

  test("normalize_text is bit-identical to the lower+regex+trim shape") {
    // the native one-pass normalizer replaces the dedup-key
    // canonicalization tree — byte-identical output or fingerprints from
    // different call sites (and the DuckDB oracle) stop matching
    val ref = (c: org.apache.spark.sql.Column) =>
      trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))
    val d = graft.etl.Tables.documents(spark, sfTiny)
      .select(col("text"))
      .select(graft.functions.TextFunctions.normalize_text(col("text")).as("fast"),
        ref(col("text")).as("slow"))
      .filter(not(col("fast") <=> col("slow")))
    assert(d.count() == 0, "native normalize_text diverges from the SQL shape on fixture text")
    // adversarial inputs: unicode (fallback path, incl. case mappings
    // that LAND in ascii — Kelvin sign K̊ → k, İ → i + combining dot),
    // runs of droppable chars between spaces, leading/trailing space,
    // empty, all-droppable, digits, and a scalacheck sweep
    val sp = spark
    import sp.implicits._
    val hand = Seq(
      "", " ", "   ", ".,;", "a", "A", " a ", "a  b", "a . b", "A.B..C",
      "42 x  9", "KELVIN", "İstanbul", "héllo wörld", "日本 語",
      "tab\tand\nnewline", "MiXeD CaSe  with   runs", "ABC---def___ghi")
    val gen = Gen.listOfN(60, Gen.oneOf(
      Gen.alphaNumChar, Gen.const(' '), Gen.const('.'), Gen.const('é'),
      Gen.const('Z'), Gen.const('\t'))).map(_.mkString)
    val all = hand ++ samples(gen, 40)
    val rows = all.toDF("t")
      .select(graft.functions.TextFunctions.normalize_text(col("t")).as("fast"),
        ref(col("t")).as("slow"))
      .collect()
    for (r <- rows)
      assert(r.getString(0) == r.getString(1),
        s"divergence: fast=${r.getString(0)} slow=${r.getString(1)}")
  }

  test("ngram_hash_chain is bit-identical to the chained-xxhash64 shingle shape") {
    for (n <- Seq(1, 2, 3)) {
      val d = graft.etl.Tables.documents(spark, sfTiny)
        .select(split(lower(col("text")), " ").as("w"))
        .select(
          graft.functions.NgramFunctions.ngram_hash_chain(col("w"), n).as("fast"),
          expr(s"CASE WHEN size(w) >= $n THEN " +
            "transform(sequence(1, size(w) - " + (n - 1) + "), i -> " +
            s"xxhash64(${(0 until n).map(k => s"xxhash64(element_at(w, i + $k))").mkString(", ")})) " +
            "ELSE array() END").as("ref"))
        .filter(not(col("fast") === col("ref")))
      assert(d.count() == 0, s"n=$n: chain hashes diverge from the SQL shape")
    }
  }
}
