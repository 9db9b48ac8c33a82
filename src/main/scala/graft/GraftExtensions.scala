package graft

import graft.functions.expressions.{MinHashExpressions, MinHashSig, SimHash64, VecDot}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Expression, ExpressionInfo, Literal, RegExpCount, RegExpReplace}
import org.apache.spark.sql.types.LongType

/** Session-extension hook registering the engine's native expressions and
  * the planner strategies of its two custom operators (per-key top-k and
  * the as-of merge join) at session build time — the deployment-grade
  * alternative to per-session temp-function registration. It adds no
  * optimizer rule: a plan only uses the custom operators where the caller
  * asked for them through their Column API.
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)           // in-process
  * // or, via config (spark-submit):
  * //   --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      // a raw exprs(i) would throw IndexOutOfBounds on too few args and
      // silently IGNORE extra args — both worse than a clear error
      require(exprs.length == n,
        s"$name expects $n argument(s), got ${exprs.length}")
      build(exprs)
    }

  override def apply(e: SparkSessionExtensions): Unit = {
    // the whole-operator rung: per-key top-k planned as a partial/final
    // bounded-heap pair (graft.plans.TopKPerKey) — injected here for
    // config-driven deployments; the Column API registers the same
    // strategy per-session idempotently
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // the second whole-operator rung: sorted-merge as-of join (each
    // side shuffled at its own width, O(1) merge state — see
    // graft.plans.AsOfMergeJoin); the Column API registers the same
    // strategy per-session idempotently
    e.injectPlannerStrategy(_ => graft.plans.AsOfMergeJoinStrategy)
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      arity("vec_dot", 2)(exprs => VecDot(exprs(0), exprs(1)))))
    e.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      arity("simhash64", 1)(exprs => SimHash64(exprs.head))))
    // SQL surface for the engine-default MinHash configuration — the same
    // constants the Column path defaults to, so the surfaces cannot drift
    e.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      arity("minhash_sig", 1) { exprs =>
        val params = MinHashExpressions.defaultParams
        MinHashSig(exprs.head, params.map(_._1), params.map(_._2),
          MinHashExpressions.HashPrime)
      }))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.NfcNormalize].getName,
        "nfc_normalize"),
      arity("nfc_normalize", 1)(exprs =>
        graft.functions.expressions.NfcNormalize(exprs.head))))
    // PII surface: the same Redact pattern table that drives the Column
    // path and the oracle SQL, composed into stock codegen'd regexp
    // expressions — three surfaces, one source of truth
    e.injectFunction((
      FunctionIdentifier("pii_scrub"),
      new ExpressionInfo(classOf[RegExpReplace].getName, "pii_scrub"),
      arity("pii_scrub", 1)(exprs =>
        graft.ops.Redact.patterns.foldLeft(exprs.head) {
          case (acc, (_, re, tok)) => RegExpReplace(acc, Literal(re), Literal(tok))
        })))
    e.injectFunction((
      FunctionIdentifier("pii_count"),
      new ExpressionInfo(classOf[RegExpCount].getName, "pii_count"),
      arity("pii_count", 1)(exprs =>
        graft.ops.Redact.patterns
          .map { case (_, re, _) =>
            Cast(RegExpCount(exprs.head, Literal(re)), LongType): Expression
          }
          .reduce(Add(_, _)))))
    // bloom join-pruning surface (engine-default sketch size) — the SAME
    // builder the BloomPrune Column path registers per session (including
    // its empty-input coalesce to an empty sketch: a bare aggregate
    // returns NULL over an empty build side, and a null sketch makes
    // every probe null — silently dropping all rows in pure SQL)
    e.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      arity("bloom_agg", 1)(exprs =>
        graft.ops.BloomPrune.bloomAggExpression(
          exprs.head, graft.ops.BloomPrune.DefaultExpectedItems))))
    e.injectFunction((
      FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_contains"),
      arity("bloom_contains", 2)(exprs =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs.head, exprs(1)))))
  }
}
