package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Row-local k-minima MinHash signature of a shingle-hash array — the
  * per-DOC form of [[MinHashAgg]], same permutation family
  * (`XXH64.hashLong(h ^ Mix(i), 42)`), same skip-null-element rule, so
  * signatures are bit-identical to the explode → shuffle → aggregate
  * pipeline it replaces (PropertySpec pins the equality). A signature
  * depends only on the row's own shingles, so the corpus-of-shingles
  * exchange the aggregate shape pays is pure overhead at scale.
  *
  * An EMPTY array yields k × Long.MaxValue (the aggregate's untouched
  * buffer) — but the aggregate pipeline never emits such a row because
  * `explode` drops empty docs; callers replicating that semantics filter
  * `size(arr) > 0` upstream ([[graft.api.Graft.minhashSignaturesLocal]] does).
  */
case class MinHash64(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) if k > 0 && k <= MinHashAgg.Mix.length =>
        TypeCheckResult.TypeCheckSuccess
      case ArrayType(LongType, _) =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash64 k must be in [1, ${MinHashAgg.Mix.length}], got $k")
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash64 requires an array<bigint> argument, got ${t.catalogString}")
    }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val buf = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < k) {
          val m = XXH64.hashLong(h ^ MinHashAgg.Mix(j), 42L)
          if (m < buf(j)) buf(j) = m
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(buf)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val buf = ctx.freshName("buf")
      val h = ctx.freshName("h")
      val m = ctx.freshName("m")
      // the Mix table rides along as a reference object (stable across
      // codegen, avoids 16 inline literals per use site)
      val mix = ctx.addReferenceObj("mix", MinHashAgg.Mix, "long[]")
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      s"""
         |int $n = $a.numElements();
         |long[] $buf = new long[$k];
         |java.util.Arrays.fill($buf, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $h = $a.getLong($i);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $m = $xxh.hashLong($h ^ $mix[$j], 42L);
         |      if ($m < $buf[$j]) $buf[$j] = $m;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($buf);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHash64 =
    copy(child = newChild)
}

object MinHash64 {
  /** Column-API entry point: row-local k-element MinHash signature. */
  def minhash64(shingleHashes: Column, k: Int = 16): Column =
    Bridge.column(MinHash64(Bridge.expression(shingleHashes), k))
}
