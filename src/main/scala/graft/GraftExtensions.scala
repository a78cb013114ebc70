package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

import graft.functions.{BloomMightContain, CharGrams, DotProduct, NGrams, PqAdc, PqEncode, SignPack, SimHash64}

/** Engine extension point, applied via
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — the
  * public SparkSessionExtensions surface. Injects the GraftLake SQL
  * planning rule (reads + row-level UPDATE/DELETE for
  * `graft.<ns>.<table>` relations), the bucket-local scan claim, and
  * `graft.plans.ParamLiterals`, which rewrites the inlined literal
  * operands of comparisons and arithmetic in filters and projections
  * to `ParamLiteral`s just before whole-stage codegen, so a lookup with
  * a new key reuses the compiled class of the last one. It registers
  * the eight native kernels by name.
  *
  * Every query returns the same rows on a session without these
  * extensions; only the generated code differs (it inlines every
  * literal, so each new key compiles its stages again).
  *
  * The engine's own queries never need that registration: they build
  * each kernel directly as a Column (`graft.functions.vec`,
  * `graft.functions.grams`), so they plan identically on a session
  * without these extensions. Registering the names has one job left —
  * letting SQL text and `call_function` resolve `vec_dot`,
  * `simhash64`, `ngrams` and the rest.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(session =>
      graft.lake.sql.GraftSqlResolution(session))
    // plans the bucket-local (storage-partitioned) scan claim — see
    // graft.plans.ClaimHashPartitioned
    ext.injectPlannerStrategy(_ =>
      graft.plans.ClaimHashPartitionedStrategy)
    // distribute filters/projections over the claim so pushdown and
    // column pruning reach the per-bucket parquet scans
    ext.injectOptimizerRule(_ => graft.plans.ClaimPushdown)
    // constant-independent generated code: runs just before
    // CollapseCodegenStages on every plan, adaptive or not
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] =
        graft.plans.ParamLiterals
    })
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "vec_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getCanonicalName, "simhash64"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("vec_signpack"),
      new ExpressionInfo(classOf[SignPack].getCanonicalName, "vec_signpack"),
      (children: Seq[Expression]) => SignPack(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getCanonicalName, "pq_encode"),
      (children: Seq[Expression]) => PqEncode(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("ngrams"),
      new ExpressionInfo(classOf[NGrams].getCanonicalName, "ngrams"),
      (children: Seq[Expression]) => NGrams(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("chargrams"),
      new ExpressionInfo(classOf[CharGrams].getCanonicalName, "chargrams"),
      (children: Seq[Expression]) => CharGrams(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getCanonicalName,
        "bloom_might_contain"),
      (children: Seq[Expression]) =>
        BloomMightContain(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getCanonicalName, "pq_adc"),
      (children: Seq[Expression]) => PqAdc(children.head, children(1))))
  }
}
