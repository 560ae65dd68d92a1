package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Multiset run statistics of a gram-hash array in ONE row-local pass —
  * the native form of "count each gram, then summarize the counts" for
  * summaries that never leave the row's document.
  *
  * Returns `struct<n_grams, n_distinct, top_c, dup_c>` (all BIGINT):
  * array length, number of distinct values, the largest multiplicity,
  * and the summed multiplicity of values occurring more than once —
  * exactly `count(*)`, `count(distinct g)`, `max(c)` and
  * `sum(c) FILTER (c > 1)` of the `(value, count)` table of the array,
  * computed by sorting a copy (O(L log L) primitive-long sort) and
  * walking the runs.
  *
  * Why it exists (round 12, qllm_repetition): per-document token stats
  * were computed as corpus-scale `groupBy(doc_id, gram)` aggregates —
  * near-unique keys, so the partial aggregate's per-task map held ~its
  * entire input, overflowed its pool share, and fell back to sort-based
  * aggregation (Bench --isolate: 8 GB + 8.6 GB memory-spill in the two
  * stages at sf30) — all to count multiplicities that never cross
  * document boundaries. Row-local stats make the query ONE narrow scan:
  * no exchange, no aggregation state, linear by construction. The
  * gram-hash equivalence classes are the repo's standard 64-bit idiom
  * (the qllm_decontam / qllm_novelty rule: the string-side oracle
  * agrees modulo 2⁻⁶⁴ collisions).
  */
case class GramRunStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GramRunStatsUtil.schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gram_run_stats requires array<bigint>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    GramRunStatsUtil.compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.GramRunStatsUtil.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): GramRunStats =
    copy(child = newChild)
}

object GramRunStatsUtil {
  val schema: StructType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_c", LongType, nullable = false),
    StructField("dup_c", LongType, nullable = false)))

  /** One row: sort a primitive copy, walk the runs. A null ELEMENT is an
    * upstream bug (ngram_hashes never yields one) and fails loudly. */
  def compute(grams: ArrayData): InternalRow = {
    val m = grams.numElements()
    val a = grams.toLongArray()
    java.util.Arrays.sort(a)
    var distinct = 0L
    var top = 0L
    var dup = 0L
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && a(j) == a(i)) j += 1
      val run = (j - i).toLong
      distinct += 1
      if (run > top) top = run
      if (run > 1) dup += run
      i = j
    }
    new GenericInternalRow(Array[Any](m.toLong, distinct, top, dup))
  }

  /** Column-API entry point. */
  def gram_run_stats(grams: Column): Column =
    Bridge.column(GramRunStats(Bridge.expression(grams)))
}
