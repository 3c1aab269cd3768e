package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Catalyst optimizer rule: plans a keyless range join declaratively.
  *
  * An inner join whose only condition is a range band — `p >= lo AND
  * p <= hi` (any mix of strict/non-strict bounds, `BETWEEN` desugars to
  * this) with the point expression from one side and both bounds from
  * the other — has no equi-key, so Spark executes it as a broadcast
  * nested loop: quadratic work that a 100 TB fact side cannot survive.
  * DuckDB ships a specialized IEJoin for the same shape
  * (reference: the class of query its engine plans natively). This rule
  * rewrites the logical plan into the binned form that
  * [[graft.operators.RangeJoin.pointInInterval]] exposes as a DataFrame
  * op: points project their bin id, intervals explode onto the bins
  * they cover, the join becomes an equi-join on the bin id (planned as
  * a shuffle/sort-merge join like any other), and the original band
  * predicate re-filters exactly.
  *
  * Correctness does not depend on the bin width: binning is monotonic
  * (double division and floor preserve order), so `lo <= p <= hi`
  * implies `bin(p) ∈ [bin(lo), bin(hi)]` — no false negatives — and the
  * exact post-filter removes every false positive. NULLs in the point
  * or bounds drop in both formulations (null bin key / null band
  * comparison). The width only tunes replication: an interval covers
  * `len/width + 1` bins, so set it near the typical interval length.
  *
  * Opt-in via `spark.graft.rangeJoin.binWidth` (positive number, in the
  * units of the point column; seconds for timestamps). Unset = rule is
  * inert. [[BinnedRangeJoinRule.install]] is the one way the rule gets
  * into a session.
  *
  * A width far below the typical interval length would explode each
  * interval onto a huge bin array (ultimately hitting Spark's array
  * size limit with an opaque error), so the per-interval bin count is
  * CLAMPED: any interval covering more than
  * `spark.graft.rangeJoin.maxBinsPerInterval` bins (default 4096)
  * raises a clear reconfigure-the-width error at runtime instead of
  * degrading into an OOM-shaped failure.
  */
case class BinnedRangeJoinRule(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  import BinnedRangeJoinRule._

  override def apply(plan: LogicalPlan): LogicalPlan = binWidth match {
    case None => plan
    case Some(w) => plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if j.resolved && cond.deterministic =>
        extractBand(cond, left, right) match {
          case Some(band) => rewrite(j, left, right, hint, cond, band, w)
          case None => j
        }
    }
  }

  private def binWidth: Option[Double] =
    Option(SQLConf.get.getConfString(WidthConf, ""))
      .filter(_.nonEmpty)
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .filter(_ > 0)

  /** point/lo/hi and which join child carries the point. */
  private case class Band(point: Expression, lo: Expression,
      hi: Expression, pointOnLeft: Boolean)

  /** Matches conditions that are EXACTLY a lower and an upper bound on
    * the same cross-side expression. Anything else (extra conjuncts, an
    * equi-key — which already plans as a hash join — or single-sided
    * predicates, which pushdown has already removed by this point) is
    * left alone. */
  private def extractBand(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Band] = {
    val conjuncts = splitConjunctivePredicates(cond)
    if (conjuncts.size != 2) return None

    // (point, bound) readings of one conjunct as a lower / upper bound
    def asLower(e: Expression) = e match {
      case GreaterThanOrEqual(p, b) => Some((p, b))
      case GreaterThan(p, b) => Some((p, b))
      case LessThanOrEqual(b, p) => Some((p, b))
      case LessThan(b, p) => Some((p, b))
      case _ => None
    }
    def asUpper(e: Expression) = e match {
      case LessThanOrEqual(p, b) => Some((p, b))
      case LessThan(p, b) => Some((p, b))
      case GreaterThanOrEqual(b, p) => Some((p, b))
      case GreaterThan(b, p) => Some((p, b))
      case _ => None
    }
    def binnable(e: Expression) = e.dataType match {
      case _: NumericType | TimestampType => true
      case _ => false
    }
    def sideOf(e: Expression): Option[Boolean] =
      if (e.references.nonEmpty && e.references.subsetOf(left.outputSet))
        Some(true)
      else if (e.references.subsetOf(right.outputSet) &&
        e.references.nonEmpty) Some(false)
      else None

    (for {
      (lowFirst, other) <- Seq((conjuncts(0), conjuncts(1)),
        (conjuncts(1), conjuncts(0)))
      (p1, lo) <- asLower(lowFirst).toSeq
      (p2, hi) <- asUpper(other).toSeq
      if p1.semanticEquals(p2)
      if binnable(p1) && binnable(lo) && binnable(hi)
      pSide <- sideOf(p1).toSeq
      loSide <- sideOf(lo).toSeq
      hiSide <- sideOf(hi).toSeq
      if loSide == hiSide && loSide != pSide
    } yield Band(p1, lo, hi, pointOnLeft = pSide)).headOption
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
      hint: JoinHint, cond: Expression, band: Band,
      w: Double): LogicalPlan = {
    // the rule runs post-analysis, so time-zone-aware expressions
    // (Cast, Sequence) must carry the session zone themselves — the
    // analyzer's ResolveTimeZone will not run again
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    def binOf(e: Expression): Expression =
      Floor(Divide(Cast(e, DoubleType, tz), Literal(w, DoubleType)))

    val pBin = Alias(binOf(band.point), "__pbin")()
    val (pointSide, intervalSide) =
      if (band.pointOnLeft) (left, right) else (right, left)
    val pointPlan = Project(pointSide.output :+ pBin, pointSide)

    // inverted intervals (hi < lo) match nothing: drop instead of
    // exploding; also keeps Sequence's start <= stop contract
    val keep = Filter(LessThanOrEqual(band.lo, band.hi), intervalSide)
    val iBin = AttributeReference("__ibin", LongType,
      nullable = false)()
    val seqExpr = Sequence(binOf(band.lo), binOf(band.hi),
      Some(Literal(1L, LongType)), tz)
    // clamp: a misconfigured width must fail with a clear message, not
    // a runtime array-limit blowup deep inside Sequence
    val maxBins = Option(SQLConf.get.getConfString(MaxBinsConf, ""))
      .filter(_.nonEmpty).flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(_ > 0).getOrElse(DefaultMaxBins)
    val guarded = If(
      GreaterThanOrEqual(Subtract(binOf(band.hi), binOf(band.lo)),
        Literal(maxBins, LongType)),
      Cast(RaiseError(Literal(
        s"$WidthConf produces more than $maxBins bins for one interval; "
          + s"raise the width (or $MaxBinsConf)")), seqExpr.dataType, tz),
      seqExpr)
    val gen = Generate(
      Explode(guarded),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(iBin), child = keep)

    val (newLeft, newRight) =
      if (band.pointOnLeft) (pointPlan, gen) else (gen, pointPlan)
    val binJoin = Join(newLeft, newRight, Inner,
      Some(EqualTo(pBin.toAttribute, iBin)), hint)
    // exact band re-check removes bin-granularity false positives
    Project(j.output, Filter(cond, binJoin))
  }
}

object BinnedRangeJoinRule {
  val WidthConf = "spark.graft.rangeJoin.binWidth"
  val MaxBinsConf = "spark.graft.rangeJoin.maxBinsPerInterval"
  val DefaultMaxBins = 4096L

  /** Adds the rule to an already-built session. Idempotent. */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[BinnedRangeJoinRule]))
      spark.experimental.extraOptimizations =
        cur :+ BinnedRangeJoinRule(spark)
  }
}
