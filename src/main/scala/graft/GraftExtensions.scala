package graft

import graft.functions.{CosineSimilarity, NgramHashChain, NgramHashes}
import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Spark extension entry point: registers graft's native functions into the
  * session's FunctionRegistry so plain SQL text can call them, and graft's
  * planner strategy and optimizer rules.
  *
  * Registration is automatic: `META-INF/services` names this class as a
  * `SparkSessionExtensionsProvider`, so every session built in a JVM with
  * graft on its classpath carries it, whichever builder made the session.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineSimilarityDescriptor)
    ext.injectFunction(GraftExtensions.ngramHashesDescriptor)
    ext.injectFunction(GraftExtensions.ngramHashChainDescriptor)
    // whole-operator extension: the native as-of join planner rule
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // optimizer extension: naive integer band joins → binned equi-joins
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
    // AQE runtime rule: a global sort over a small materialized input runs
    // in one task, with no range exchange and its sampling job
    ext.injectRuntimeOptimizerRule(_ => graft.plans.SmallSortOnePartition)
  }
}

object GraftExtensions {

  private def build(args: Seq[Expression]): Expression = {
    require(args.length == 2, "cosine_similarity takes exactly 2 arguments")
    CosineSimilarity(args(0), args(1))
  }

  /** SQL call sites pass n as an integer LITERAL (`ngram_hashes(w, 5)`):
    * the gram size is part of the expression's identity, not data. */
  private def literalN(fn: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: gram size must be an integer literal, got $other")
  }

  private def buildNgram(args: Seq[Expression]): Expression = {
    require(args.length == 2, "ngram_hashes takes exactly 2 arguments")
    NgramHashes(args(0), literalN("ngram_hashes", args(1)))
  }

  private def buildChain(args: Seq[Expression]): Expression = {
    require(args.length == 2, "ngram_hash_chain takes exactly 2 arguments")
    NgramHashChain(args(0), literalN("ngram_hash_chain", args(1)))
  }

  private[graft] val cosineSimilarityDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_similarity"),
    new ExpressionInfo(
      classOf[CosineSimilarity].getCanonicalName,
      null,
      "cosine_similarity",
      "cosine_similarity(a, b) - cosine similarity of two float vectors (codegen'd)",
      ""),
    build)

  private[graft] val ngramHashesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("ngram_hashes"),
    new ExpressionInfo(
      classOf[NgramHashes].getCanonicalName,
      null,
      "ngram_hashes",
      "ngram_hashes(words, n) - xxhash64 of every word n-gram in one native " +
        "pass; values equal xxhash64(array_join(slice(words, i, n), ' '))",
      ""),
    buildNgram)

  private[graft] val ngramHashChainDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("ngram_hash_chain"),
    new ExpressionInfo(
      classOf[NgramHashChain].getCanonicalName,
      null,
      "ngram_hash_chain",
      "ngram_hash_chain(words, n) - per-word xxhash64 folded with the " +
        "XxHash64 long chain per n-gram (the shingle space)",
      ""),
    buildChain)
}
