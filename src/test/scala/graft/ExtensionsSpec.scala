package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.etl.{Registry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** GraftExtensions, injected at session build: the native functions are
  * callable from SQL text and agree exactly with the Column-API entry
  * points, and the band-join rule rewrites without changing results. The
  * session always carries the rule, so every band-join reference below is
  * computed in plain Scala from the collected inputs.
  *
  * SmallSortOnePartition is an AQE runtime rule: it acts only while a query
  * runs, so its tests read the final adaptive plan after execution.
  */
class ExtensionsSpec extends SparkFixture {

  test("cosine_similarity registered for SQL text matches the Column API") {
    val v = "ext_embeddings"
    Tables.embeddings(spark, sfTiny).createOrReplaceTempView(v)
    val sqlTop = spark.sql(
      s"""WITH q AS (SELECT embedding AS q_emb FROM $v WHERE vec_id = 0)
         |SELECT e.vec_id, cosine_similarity(e.embedding, q.q_emb) AS sim
         |FROM $v e, q WHERE e.vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)
      .collect().map(_.toString).toSeq
    val e = Tables.embeddings(spark, sfTiny)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val apiTop = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.cosine_similarity(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(desc("sim"), asc("vec_id")).limit(5)
      .collect().map(_.toString).toSeq
    assert(sqlTop == apiTop)
  }

  test("ngram_hashes / ngram_hash_chain registered for SQL text match the Column API") {
    val v = "ext_documents"
    Tables.documents(spark, sfTiny).createOrReplaceTempView(v)
    val sql = spark.sql(
      s"""SELECT doc_id, ngram_hashes(split(lower(text), ' '), 3) AS g,
         |ngram_hash_chain(split(lower(text), ' '), 2) AS c
         |FROM $v ORDER BY doc_id LIMIT 20""".stripMargin)
      .collect().map(_.toString).toSeq
    val api = Tables.documents(spark, sfTiny)
      .select(col("doc_id"),
        graft.functions.NgramFunctions.ngram_hashes(split(lower(col("text")), " "), 3).as("g"),
        graft.functions.NgramFunctions.ngram_hash_chain(split(lower(col("text")), " "), 2).as("c"))
      .orderBy(col("doc_id")).limit(20)
      .collect().map(_.toString).toSeq
    assert(sql == api)
    // the gram size must be a literal — data-driven n is a usage error
    val err = intercept[Exception] {
      spark.sql(s"SELECT ngram_hashes(split(text, ' '), CAST(n_chars AS INT)) FROM $v LIMIT 1")
        .collect()
    }
    assert(err.getMessage != null &&
      err.getMessage.contains("gram size must be an integer literal"), err.getMessage)
  }

  test("BandJoinRewrite: rewritten band join returns exactly the naive join's rows") {
    val sp = spark
    import sp.implicits._
    // adversarial values around bin borders: negatives, exact band edges,
    // duplicates, and a null
    val left = Seq((1L, 0L), (2L, 99L), (3L, 100L), (4L, -100L), (5L, -1L),
      (6L, 250L), (7L, 250L)).toDF("lid", "a")
    val right = Seq((10L, 100L), (11L, -200L), (12L, 0L), (13L, 150L),
      (14L, 349L)).toDF("rid", "b")
        .unionByName(Seq((15L, Option.empty[Long])).toDF("rid", "b"))
    val cond = abs(col("a") - col("b")) <= lit(100L)
    val rs = right.collect()
    val naive = (for {
      l <- left.collect(); r <- rs if !r.isNullAt(1)
      if math.abs(l.getLong(1) - r.getLong(1)) <= 100L
    } yield (l.getLong(0), r.getLong(0))).sorted.toSeq
    val rewritten = left.join(right, cond)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_bin"), s"rule did not fire:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"band join still nest-loops:\n$plan")
    val got = rewritten.select(col("lid"), col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == naive, s"rewrite changed results: got=$got naive=$naive")
    assert(got.nonEmpty && got.size == got.distinct.size, "replica duplicates")
  }

  test("BandJoinRewrite scope guards: doubles, outer joins, and rewritten joins are untouched") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 1.0), (2L, 2.5)).toDF("lid", "a")
    val right = Seq((10L, 1.4)).toDF("rid", "b")
    // double band: no exact bin adjacency proof — must NOT rewrite
    val d = left.join(right, abs(col("a") - col("b")) <= lit(0.5))
    assert(!d.queryExecution.executedPlan.toString.contains("__graft_bin"))
    assert(d.count() == 1)
    // left outer: replicating the preserved side would be wrong — skip
    val li = Seq((1L, 0L), (2L, 500L)).toDF("lid", "a")
    val ri = Seq((10L, 50L)).toDF("rid", "b")
    val lo = li.join(ri, abs(col("a") - col("b")) <= lit(100L), "left")
    assert(!lo.queryExecution.executedPlan.toString.contains("__graft_bin"))
    assert(lo.count() == 2) // unmatched left row survives
    // inner integral: fires once, terminates (no infinite re-binning)
    val in = li.join(ri, abs(col("a") - col("b")) <= lit(100L))
    val p = in.queryExecution.executedPlan.toString
    assert("__graft_bin_l".r.findAllIn(p).size >= 1)
    assert(in.count() == 1)
  }

  test("BandJoinRewrite: a user column sharing the __graft_bin prefix does not disable it") {
    val sp = spark
    import sp.implicits._
    // fixpoint termination is tag-based; only the EXACT injected names
    // (__graft_bin_l/_r) are backstopped, so a user column that merely
    // shares the prefix — even one referenced in the join condition —
    // must not suppress the rewrite
    val left = Seq((1L, 0L, 7L), (2L, 99L, 8L), (3L, 260L, 7L))
      .toDF("lid", "a", "__graft_binX")
    val right = Seq((10L, 100L, 7L), (11L, 300L, 9L))
      .toDF("rid", "b", "__graft_binY")
    val cond = abs(col("a") - col("b")) <= lit(100L) &&
      col("__graft_binX") === col("__graft_binY")
    val rs = right.collect()
    val naive = (for {
      l <- left.collect(); r <- rs
      if math.abs(l.getLong(1) - r.getLong(1)) <= 100L && l.getLong(2) == r.getLong(2)
    } yield (l.getLong(0), r.getLong(0))).sorted.toSeq
    val j = left.join(right, cond)
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("__graft_bin_l"), s"prefix-named user column disabled the rewrite:\n$p")
    val got = j.select(col("lid"), col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == naive, s"got=$got naive=$naive")
  }

  test("BandJoinRewrite: fires exactly once and replicates the statistically smaller side") {
    val sp = spark
    import sp.implicits._
    // SMALL side on the LEFT: tripling must land on it, not on the big side
    val small = Seq((10L, 100L), (11L, 300L)).toDF("rid", "b")
    val big = sp.range(0, 1000).select(col("id").as("lid"), (col("id") % 500L).as("a"))
    val cond = abs(col("b") - col("a")) <= lit(50L)
    val bs = big.collect()
    val naive = (for {
      s <- small.collect(); b <- bs
      if math.abs(s.getLong(1) - b.getLong(1)) <= 50L
    } yield (s.getLong(0), b.getLong(0))).sorted.toSeq
    val j = small.join(big, cond)
    val opt = j.queryExecution.optimizedPlan
    val gens = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    // the optimizer batch runs to fixpoint — the TreeNodeTag must stop a
    // second firing (a re-fire would stack another 3× Generate per pass)
    assert(gens.size == 1, s"rule must fire exactly once:\n$opt")
    assert(gens.head.child.outputSet.exists(_.name == "rid"),
      s"replication landed on the big side:\n$opt")
    val got = j.select(col("rid"), col("lid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == naive, s"size-aware orientation changed results")
  }

  /** Queries whose closing global sort runs over a small materialized
    * input at sf0.1 and at this suite's scale, so the rule drops their
    * range exchange. */
  private val smallSortQueries = Seq("qagg_approxhll", "qagg_argmax", "qagg_groupingsets",
    "qagg_mode", "qagg_ohlc", "qjoin_left", "qscan_text", "qsink_json",
    "qstream_tumbling", "qwin_bollinger")

  /** The final part of an executed adaptive plan's string (the initial
    * plan printed below it still shows the exchanges AQE replaced). */
  private def finalPlan(p: String): String = {
    assert(p.contains("== Final Plan =="), s"no final adaptive plan:\n$p")
    p.substring(p.indexOf("== Final Plan =="), p.indexOf("== Initial Plan =="))
  }

  /** The final adaptive plan of `df` consumed through the noop sink, as the
    * session's listener sees the write after it ran. */
  private def noopPlan(df: DataFrame): String = {
    val plans = new LinkedBlockingQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.put(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.put(s"failed: $e")
    }
    spark.listenerManager.register(listener)
    try {
      Bench.noop(df)
      Iterator.continually(plans.poll(30, TimeUnit.SECONDS))
        .map(p => if (p == null) fail("no plan reached the listener") else p)
        .find(p => p.contains("AdaptiveSparkPlan") || p.startsWith("failed"))
        .map(finalPlan).get
    } finally spark.listenerManager.unregister(listener)
  }

  /** Runs `body` with the SQL conf `k` set to `v`, then restores it. */
  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("SmallSortOnePartition: qagg_argmax through the noop sink plans no range exchange") {
    val p = noopPlan(Registry.byName("qagg_argmax").build(spark, sfTiny))
    assert(!p.contains("rangepartitioning"), s"range exchange kept:\n$p")
    assert(p.contains("Coalesce 1"), s"rule did not fire:\n$p")
  }

  test("SmallSortOnePartition: the small-sort queries collect the same rows in the same order") {
    // qset_except_all sorts the output of a replicaterows Generate, whose
    // size estimate ignores the replication: its range exchange stays
    (smallSortQueries :+ "qset_except_all").foreach { name =>
      val q = Registry.byName(name)
      val df = q.build(spark, sfTiny)
      val got = df.collect().toSeq
      val p = finalPlan(df.queryExecution.executedPlan.toString)
      // once its range exchange has run, the rule must not wrap the sort
      val fired = p.contains("Coalesce 1") && !p.contains("rangepartitioning")
      val left = !p.contains("Coalesce 1") && p.contains("rangepartitioning")
      assert(if (name == "qset_except_all") left else fired,
        s"$name: range exchange kept or dropped against the rule's guards:\n$p")
      // with AQE off the runtime rule cannot run: the static range-sorted plan
      val want = withConf("spark.sql.adaptive.enabled", "false") {
        q.build(spark, sfTiny).collect().toSeq
      }
      assert(got == want, s"$name: one-task sort changed rows or their order")
    }
  }

  test("SmallSortOnePartition: an input above AQE's one-partition size keeps its range exchange") {
    val p = withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1") {
      noopPlan(Registry.byName("qagg_argmax").build(spark, sfTiny))
    }
    assert(p.contains("rangepartitioning"), s"range exchange dropped:\n$p")
  }

  test("SmallSortOnePartition: a sort under a limit is left to TakeOrderedAndProject") {
    val df = spark.range(0, 1000).groupBy((col("id") % 37).as("k")).count()
      .orderBy(desc("count"), asc("k")).limit(5)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val p = finalPlan(df.queryExecution.executedPlan.toString)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Coalesce 1"), s"rule rewrote a sort under a limit:\n$p")
    assert(rows == Seq((0L, 28L), (1L, 27L), (2L, 27L), (3L, 27L), (4L, 27L)))
  }
}
