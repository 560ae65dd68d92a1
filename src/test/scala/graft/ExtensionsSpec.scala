package graft

import graft.etl.Tables
import org.apache.spark.sql.functions._

/** GraftExtensions, injected at session build: the native functions are
  * callable from SQL text and agree exactly with the Column-API entry
  * points, and the band-join rule rewrites without changing results. The
  * session always carries the rule, so every band-join reference below is
  * computed in plain Scala from the collected inputs.
  */
class ExtensionsSpec extends SparkFixture {

  test("cosine_similarity registered for SQL text matches the Column API") {
    val v = Tables.view(spark, sfTiny, "embeddings")
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
    val v = Tables.view(spark, sfTiny, "documents")
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
}
