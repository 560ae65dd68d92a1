package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Optimizer rule (SURVEY §7.4 tier (c), `Rule[LogicalPlan]` flavor):
  * rewrites a naive integer BAND join
  *
  *   A ⋈ B ON ... AND abs(a − b) <= c          (a from A, b from B, c > 0)
  *
  * into the binned equi-join a user would hand-write (the
  * `qjoin_range_binned` technique): both sides gain `x div c` bin columns,
  * the SMALLER side (by logical size-in-bytes statistics — tripling rows
  * is the rewrite's only cost, so it lands on the cheap side) is
  * replicated to its 3 adjacent bins via a Generate (explode), the bin
  * equality joins the conjunction, and the original band predicate stays
  * as a residual. Catalyst then plans a hash join on (…equi keys…, bin)
  * instead of the nested loop the bare inequality forces — the difference
  * between O(matches) and O(|A|·|B|) per nation at 100 TB.
  *
  * Correctness: for truncating integer division with width w = c,
  * |a − b| <= w implies the bins differ by at most 1 (every bin spans >= w
  * values), so the 3-way replication loses no candidate; the replicas
  * carry DISTINCT bin ids, so each candidate pair matches exactly one
  * replica and no duplicate rows appear; a null in a or b nulls both the
  * band predicate and the bin equality, so the inner join drops the row
  * either way. INNER joins only — an outer side must not be replicated.
  *
  * Scope guards: the band must compare two plain integral ATTRIBUTES from
  * opposite sides (no casts — a float band has no exact bin adjacency
  * proof) and c must be a positive integral literal. Fixpoint termination
  * is keyed on a [[TreeNodeTag]] stamped on the rewritten Join — precise
  * under aliasing and immune to user columns that happen to share our
  * name prefix — with an exact-name reference check as a backstop for any
  * copy path that drops tags (a runaway re-fire would otherwise triple a
  * side per optimizer iteration).
  */
object BandJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val BinL = "__graft_bin_l"
  private val BinR = "__graft_bin_r"

  /** Stamped on the Join node this rule emits; its presence (or an exact
    * reference to an injected bin attribute) stops re-rewriting. */
  private[plans] val Rewritten =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graftBandJoinRewritten")

  private def integralAttr(e: Expression): Option[Attribute] = e match {
    case a: Attribute if a.dataType == LongType || a.dataType == IntegerType ||
      a.dataType == ShortType || a.dataType == ByteType => Some(a)
    case _ => None
  }

  private def positiveLong(l: Literal): Option[Long] = l.value match {
    case i: java.lang.Integer if i > 0 => Some(i.toLong)
    case j: java.lang.Long if j > 0 => Some(j)
    case s: java.lang.Short if s > 0 => Some(s.toLong)
    case b: java.lang.Byte if b > 0 => Some(b.toLong)
    case _ => None
  }

  /** `abs(a − b) <= c` (either comparison orientation) on integral attrs. */
  private def bandOf(e: Expression): Option[(Attribute, Attribute, Long)] = {
    def fromAbs(abs: Expression, lim: Literal) = abs match {
      case Abs(Subtract(x, y, _), _) =>
        for {
          a <- integralAttr(x); b <- integralAttr(y); c <- positiveLong(lim)
        } yield (a, b, c)
      case _ => None
    }
    e match {
      case LessThanOrEqual(abs, l: Literal) => fromAbs(abs, l)
      case GreaterThanOrEqual(l: Literal, abs) => fromAbs(abs, l)
      case _ => None
    }
  }

  private def binExpr(a: Attribute, w: Long): Expression =
    IntegralDivide(Cast(a, LongType), Literal(w))

  /** Single bin column appended via Project. */
  private def binned(child: LogicalPlan, attr: Attribute, w: Long): (LogicalPlan, Attribute) = {
    val al = Alias(binExpr(attr, w), BinL)()
    (Project(child.output :+ al, child), al.toAttribute)
  }

  /** 3-adjacent-bin replication via Generate(explode). */
  private def replicated(child: LogicalPlan, attr: Attribute, w: Long): (LogicalPlan, Attribute) = {
    val bin = binExpr(attr, w)
    val replicas = CreateArray(Seq(
      Subtract(bin, Literal(1L)), bin, Add(bin, Literal(1L))))
    val binAttr = AttributeReference(BinR, LongType, nullable = attr.nullable)()
    (Generate(Explode(replicas),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(binAttr), child = child), binAttr)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if j.getTagValue(Rewritten).isEmpty &&
          !cond.references.exists(r => r.name == BinL || r.name == BinR) =>
      val band = splitConjunctivePredicates(cond).iterator.flatMap { c =>
        bandOf(c).flatMap { case (x, y, w) =>
          // orient: `a` from the left side, `b` from the right side
          if (left.outputSet.contains(x) && right.outputSet.contains(y))
            Some((x, y, w))
          else if (left.outputSet.contains(y) && right.outputSet.contains(x))
            Some((y, x, w))
          else None
        }
      }.nextOption()
      band match {
        case None => j
        case Some((a, b, w)) =>
          // Triple the side that is cheaper to triple.
          val replicateLeft = left.stats.sizeInBytes < right.stats.sizeInBytes
          val ((newLeft, lBin), (newRight, rBin)) =
            if (replicateLeft) (replicated(left, a, w), binned(right, b, w))
            else (binned(left, a, w), replicated(right, b, w))
          val newCond = And(cond, EqualTo(lBin, rBin))
          val rewritten = Join(newLeft, newRight, Inner, Some(newCond), hint)
          rewritten.setTagValue(Rewritten, true)
          Project(j.output, rewritten)
      }
  }
}
