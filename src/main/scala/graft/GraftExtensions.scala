package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType
import graft.functions.{CosineSimilarity, GkQuantile, HllDistinct, KmvDistinct,
  KmvSketchAgg, ShingleHashes, TokenizeExplode, Vectors}

/** Catalyst optimizer rule: cosine(x, x) is identically 1.0 — fold it
  * to a literal so self-similarity terms (common in generated pair
  * queries: the diagonal of a similarity join, normalization against
  * self) cost nothing. Null-safe only when the child can't be null.
  */
object SimplifySelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b) if a.semanticEquals(b) && !a.nullable =>
        Literal(1.0, DoubleType)
    }
}

/** SparkSessionExtensions entry point: register graft's native
  * functions and optimizer rules at session build time
  * (`spark.sql.extensions=graft.GraftExtensions`) so SQL users get
  * them on every executor without per-session registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // each builder is the one its object's `register` uses
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      ("graft_cosine", classOf[CosineSimilarity], Vectors.cosineBuilder),
      ("graft_tokenize", classOf[TokenizeExplode], TokenizeExplode.builder),
      ("graft_shingle_hashes", classOf[ShingleHashes], ShingleHashes.builder),
      ("graft_kmv_distinct", classOf[KmvDistinct], KmvDistinct.builder),
      ("graft_kmv_sketch", classOf[KmvSketchAgg], KmvSketchAgg.builder),
      ("graft_gk_quantile", classOf[GkQuantile], GkQuantile.builder),
      ("graft_hll_distinct", classOf[HllDistinct], HllDistinct.builder)
    ).foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    e.injectOptimizerRule(_ => SimplifySelfCosine)
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
