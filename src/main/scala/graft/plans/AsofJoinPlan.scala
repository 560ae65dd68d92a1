package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow,
  JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampType}

/** A whole-operator custom plan: inner as-of join as a first-class Catalyst
  * node with its own physical merge-scan, the SURVEY §7.4 tier-(c) shape
  * (LogicalPlan + SparkStrategy + SparkPlan) for semantics the built-in
  * operators don't express directly.
  *
  * Semantics (identical to [[graft.api.Graft.asofJoin]], DuckDB
  * `ASOF JOIN ... ON r.ts >= l.ts`): for every right row, the greatest
  * left `ts` with the same key at or before the right row's `ts`; right
  * rows with no such left row are dropped. Output = right's columns plus
  * `asof_ts`.
  *
  * Scale shape: both sides hash-cluster on the key and sort by
  * (key, ts) — the same distribution a sort-merge join would demand — and
  * the merge walks each partition ONCE with two pointers and O(1) state
  * (one remembered timestamp), never materializing a per-key buffer. The
  * window emulation this replaces carries a full per-key sorted window
  * state; the native exec streams.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute,
    asofTs: AttributeReference,
    tolerance: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] = right.output :+ asofTs

  // asof_ts is minted by this node, not read from a child
  override def producedAttributes: AttributeSet = AttributeSet(asofTs)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: AsofJoin → AsofJoinExec. Injected into every session by
  * [[graft.GraftExtensions]]. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, lts, rk, rts, out, tol) =>
      AsofJoinExec(lk, lts, rk, rts, out, planLater(l), planLater(r), tol) :: Nil
    case _ => Nil
  }
}

/** Streaming two-pointer merge over co-partitioned, (key, ts)-sorted
  * children. Keys must be integral (int/long) and timestamps
  * timestamp/long — the fixture shape; widening is a small matter of
  * swapping the two scalar readers for interpreted orderings. */
case class AsofJoinExec(
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute,
    asofTs: AttributeReference,
    left: SparkPlan,
    right: SparkPlan,
    tolerance: Option[Long] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] = right.output :+ asofTs

  // asof_ts is minted here (same as on the logical node) — without this
  // the plan printer flags the node invalid (missingInput)
  override def producedAttributes: AttributeSet = AttributeSet(asofTs)

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = right.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending))

  private def longGetter(a: Attribute): (InternalRow, Int) => Long = a.dataType match {
    case LongType | TimestampType => (r, i) => r.getLong(i)
    case IntegerType => (r, i) => r.getInt(i).toLong
    case t => throw new IllegalArgumentException(
      s"asof join supports int/long keys and timestamp/long timestamps, got ${t.catalogString}")
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyGet = longGetter(leftKey)
    val lTsGet = longGetter(leftTs)
    val rKeyGet = longGetter(rightKey)
    val rTsGet = longGetter(rightTs)
    // merge_asof-style bound: a floor older than rTs - tol never emits.
    // The pointer STATE is unaffected — only emission filters — so the
    // single-pass O(1)-state merge shape is unchanged.
    val tolOrNeg = tolerance.getOrElse(-1L)
    val hasTol = tolerance.isDefined
    left.execute().zipPartitions(right.execute()) { (lRaw, rRaw) =>
      val lSide = UnsafeProjection.create(Seq(leftKey, leftTs), left.output)
      val rSide = UnsafeProjection.create(Seq(rightKey, rightTs), right.output)
      val outProj = UnsafeProjection.create(output, output)
      val tsRow = new GenericInternalRow(1)
      val joined = new JoinedRow

      // one-row lookahead over the left side, reduced to two scalars.
      // Null keys/timestamps are skipped outright: an UnsafeRow getLong on
      // a null slot reads 0, which would silently alias null to key 0 AND
      // (nulls sort first) break the merge's monotonic-key invariant — the
      // window emulation and DuckDB ASOF JOIN both drop null keys, so the
      // native operator matches them.
      var lHas = false
      var lKey = 0L
      var lTs = 0L
      def lAdvance(): Unit = {
        lHas = false
        while (!lHas && lRaw.hasNext) {
          val p = lSide(lRaw.next())
          if (!p.isNullAt(0) && !p.isNullAt(1)) {
            lKey = lKeyGet(p, 0); lTs = lTsGet(p, 1); lHas = true
          }
        }
      }
      lAdvance()

      var lastKey = 0L
      var lastTs = 0L
      var hasLast = false

      rRaw.flatMap { rRow =>
        val p = rSide(rRow)
        if (p.isNullAt(0) || p.isNullAt(1)) Iterator.empty // inner semantics: null never matches
        else {
          val rKey = rKeyGet(p, 0)
          val rTs = rTsGet(p, 1)
          if (hasLast && lastKey != rKey) hasLast = false
          while (lHas && lKey < rKey) lAdvance()
          while (lHas && lKey == rKey && lTs <= rTs) {
            lastKey = rKey; lastTs = lTs; hasLast = true; lAdvance()
          }
          if (hasLast && lastKey == rKey && (!hasTol || lastTs >= rTs - tolOrNeg)) {
            tsRow.update(0, lastTs)
            Iterator.single(outProj(joined(rRow, tsRow)))
          } else Iterator.empty
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsofJoinNative {

  /** Inner as-of join of `right` against `left` on `key`/`ts` via the
    * native operator; returns right's columns plus `asof_ts`. The session
    * must carry [[AsofJoinStrategy]], which [[graft.GraftExtensions]]
    * injects into every session whose JVM has graft on its classpath;
    * without it the node has no physical plan. */
  def apply(spark: SparkSession, left: DataFrame, right: DataFrame,
      key: String, ts: String, tolerance: Option[Long] = None): DataFrame = {
    require(spark.sessionState.planner.strategies.contains(AsofJoinStrategy),
      "AsofJoinNative needs a session carrying graft.GraftExtensions, which " +
        "registers itself through META-INF/services when graft is on the classpath")
    // Self-join safety: both sides often derive from the SAME relation, so
    // their attributes share expr-ids; DeduplicateRelations would re-id one
    // subtree and strand the ids this node captured. Aliasing every column
    // mints fresh, side-unique expr-ids whose Project output survives
    // dedup untouched.
    import org.apache.spark.sql.functions.col
    def fresh(df: DataFrame): DataFrame =
      df.select(df.columns.toIndexedSeq.map(c => col(c).as(c)): _*)
    val lPlan = Bridge.analyzed(fresh(left))
    val rPlan = Bridge.analyzed(fresh(right))
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${p.output.map(_.name).mkString(", ")}"))
    val lts = attr(lPlan, ts)
    val asof = AttributeReference("asof_ts", lts.dataType, nullable = false)()
    Bridge.ofRows(spark,
      AsofJoin(lPlan, rPlan, attr(lPlan, key), lts, attr(rPlan, key), attr(rPlan, ts), asof,
        tolerance))
  }
}
