package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => WindowNode}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{ArrayAgreeCount, BpeTokenCount, DotProduct,
  FingerprintNorm, JaroWinkler, KmvSketch, Md5Hash60, MinHashSketch,
  NgramHash60, SortedIntersectSize}

/** Advisory lint (SURVEY.md §4): a `Window` with an empty partition
  * spec serializes its whole input onto one task — correct, and fine
  * when the input is a calendar-grain aggregate (≤ a few thousand
  * rows), catastrophic when someone orders 100 TB of raw facts.
  *
  * The rule rewrites nothing: it logs a warning for each global
  * window whose child is *not* an aggregation (the only shape where
  * the input is provably pre-reduced in this engine). [[findings]]
  * states the same check as a pure function of a plan, so tests
  * assert on a query's optimized plan.
  */
object GlobalWindowLint extends Rule[LogicalPlan] {

  private def isPreReduced(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    // a cached frame hides its lineage behind an InMemoryRelation
    // leaf; walk the cached PHYSICAL plan for an aggregate exec (the
    // S5 session cache memoizes exactly such pre-reduced frames)
    case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
      physPreReduced(imr.cachedPlan)
    // joins/unions of pre-reduced inputs stay pre-reduced (raw facts
    // cannot reach the window without passing through an aggregate on
    // EVERY branch) — e.g. the gap-fill spine ⟕ gapped-series join,
    // both sides derived from the month-grain aggregate
    case other if other.children.nonEmpty =>
      other.children.forall(isPreReduced)
    case _ => false
  }

  /** True iff the physical tree contains an aggregate exec. Under AQE
    * the cached plan is an `AdaptiveSparkPlanExec` LEAF (a plain tree
    * collect sees nothing below it) and stage reuse wraps subtrees in
    * `QueryStageExec` leaves — recurse through both explicitly, and
    * through nested caches (`InMemoryTableScanExec`). A typed walk,
    * not a `toString` match: any plan whose rendering merely mentions
    * "Aggregate" (field names, expression ids) must not pass. */
  private def physPreReduced(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      physPreReduced(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      physPreReduced(q.plan)
    case t: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      physPreReduced(t.relation.cachedPlan)
    case other => other.children.exists(physPreReduced)
  }

  /** One message per global window over non-aggregated input in
    * `plan`, its subqueries included. */
  def findings(plan: LogicalPlan): Seq[String] = plan.collectWithSubqueries {
    case w: WindowNode if w.partitionSpec.isEmpty && !isPreReduced(w.child) =>
      s"global window over non-aggregated input: " +
        s"${w.windowExpressions.map(_.sql).mkString(", ")}"
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    findings(plan).foreach(msg => logWarning(s"[graft-lint] $msg — " +
      "single-task execution; partition the window or pre-aggregate its input"))
    plan
  }
}

/** Session extension wiring: the lint rule plus SQL registration of
  * the engine's native expressions, so
  * `spark.sql("SELECT sorted_intersect_size(a, b) ...")` works.
  * Activate via `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => GlobalWindowLint)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    // the size argument of the parameterized kernels: a foldable,
    // non-null integral literal, else `usage` rather than a raw
    // cast/NPE
    def sizeArg(exprs: Seq[Expression], usage: String): Int =
      exprs.lift(1)
        .filter(_.foldable).map(_.eval()).collect {
          case i: Int => i
          case l: Long => l.toInt
        }.getOrElse(throw new IllegalArgumentException(usage))
    fn("sorted_intersect_size", classOf[SortedIntersectSize])(
      x => SortedIntersectSize(x(0), x(1)))
    fn("array_agree_count", classOf[ArrayAgreeCount])(x => ArrayAgreeCount(x(0), x(1)))
    fn("dot_product", classOf[DotProduct])(x => DotProduct(x(0), x(1)))
    fn("jaro_winkler", classOf[JaroWinkler])(x => JaroWinkler(x(0), x(1)))
    fn("md5_hash60", classOf[Md5Hash60])(x => Md5Hash60(x(0)))
    fn("fingerprint_norm", classOf[FingerprintNorm])(x => FingerprintNorm(x(0)))
    fn("bpe_token_count", classOf[BpeTokenCount])(x => BpeTokenCount(x(0)))
    fn("ngram_hash60", classOf[NgramHash60])(x => NgramHash60(x(0),
      sizeArg(x, "ngram_hash60(toks, n): n must be an integer literal")))
    fn("kmv_sketch", classOf[KmvSketch])(x => KmvSketch(x(0),
      sizeArg(x, "kmv_sketch(v, k): k must be an integer literal")).toAggregateExpression())
    fn("minhash_sketch", classOf[MinHashSketch])(x => MinHashSketch(x(0),
      sizeArg(x, "minhash_sketch(tok, numPerms): numPerms must be an integer literal"))
      .toAggregateExpression())
  }
}
