package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions.{CentroidDist2, CmsSketch, DotProduct, HllSketch, KllSketch, NGrams, Nfc, SortedIntersectCount}

/** Session extension point for the engine's custom Catalyst pieces
  * (enable with `spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * Registers the codegen'd `graft_dot(array<double>, array<double>)`
  * and `graft_cent_dist2(array<bigint>, array<array<bigint>>)` scalars
  * and the `graft_hll` sketch aggregate (SURVEY.md §4.3), the
  * optimizer rule that rewrites the HOF dot-product idiom onto
  * graft_dot, and the planner strategy for the native
  * [[TopKPerGroupNode]] whole-operator (partial/final bounded-heap
  * top-k-per-group replacing Exchange→Sort→Window→Filter). Parity for
  * everything else rides on Spark built-ins by design.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // deletion-vector read rewrite: SQL relations over DV-carrying
    // snapshots become the merge-on-read composition (DvReadRule)
    ext.injectResolutionRule(session => new DvReadRule(session))
    ext.injectPlannerStrategy(_ => MaintenanceStrategy)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => MergeIntoSnapshotStrategy)
    ext.injectPlannerStrategy(_ => UpdateSnapshotStrategy)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_cent_dist2"),
      new ExpressionInfo(classOf[CentroidDist2].getName, "graft_cent_dist2"),
      (exprs: Seq[Expression]) => CentroidDist2(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_inter"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_sorted_inter"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SortedIntersectCount(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_hll"),
      new ExpressionInfo(classOf[HllSketch].getName, "graft_hll"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HllSketch(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[Nfc].getName, "graft_nfc"),
      (exprs: Seq[Expression]) => Nfc(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[NGrams].getName, "graft_ngrams"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c, n) if n.foldable =>
          NGrams(c, n.eval().asInstanceOf[Number].intValue)
        case _ => throw new IllegalArgumentException(
          "graft_ngrams(tokens, n) — n must be an integer literal")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_kll"),
      new ExpressionInfo(classOf[KllSketch].getName, "graft_kll"),
      (exprs: Seq[Expression]) => {
        // SQL fractional literals eval to Spark Decimal, not j.l.Number
        def numOf(e: Expression): Double = e.eval() match {
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number => n.doubleValue
          case other => throw new IllegalArgumentException(
            s"graft_kll: expected a numeric literal, got $other")
        }
        exprs match {
          case Seq(c, q) if q.foldable => KllSketch(c, numOf(q))
          case Seq(c, q, k) if q.foldable && k.foldable =>
            KllSketch(c, numOf(q), numOf(k).toInt)
          case _ => throw new IllegalArgumentException(
            "graft_kll(col, q[, k]) — q and k must be literals")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms"),
      new ExpressionInfo(classOf[CmsSketch].getName, "graft_cms"),
      (exprs: Seq[Expression]) => {
        def numOf(e: Expression): Int = e.eval().asInstanceOf[Number].intValue
        exprs match {
          case Seq(c) => CmsSketch(c)
          case Seq(c, d) if d.foldable => CmsSketch(c, numOf(d))
          case Seq(c, d, w) if d.foldable && w.foldable =>
            CmsSketch(c, numOf(d), numOf(w))
          case _ => throw new IllegalArgumentException(
            "graft_cms(col[, depth[, width]]) — depth and width must be integer literals")
        }
      }))
    // Catalyst's internal runtime-filter bloom expressions, exposed as
    // library SQL surface (operators.BloomOps): build with
    // graft_bloom_agg(xxhash64(k) [, numItems [, numBits]]), probe with
    // graft_might_contain(<scalar bloom>, xxhash64(k))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
        case _ => throw new IllegalArgumentException(
          "graft_bloom_agg(child[, estimatedNumItems[, numBits]])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (exprs: Seq[Expression]) => BloomFilterMightContain(exprs(0), exprs(1))))
    // auto-accelerate the aggregate(zip_with(...)) dot-product idiom
    ext.injectOptimizerRule(_ => RewriteHofDotProduct)
  }
}
