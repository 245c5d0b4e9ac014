package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions for SQL use:
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *   ...
  *   spark.sql("SELECT dot_product_f(a.embedding, b.embedding) ...")
  * }}}
  *
  * The same expressions remain directly usable from the DataFrame API
  * via [[VectorFunctions]]; this makes them reachable from pure-SQL
  * clients (thriftserver, spark-sql shell, notebook SQL cells).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    // opt-in approx mode: COUNT(DISTINCT) -> HLL++ under
    // spark.graft.approxDistinct=true (no query-code changes)
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite())
    // whole-operator extension: heap-based top-k per key (the
    // DataFrame API self-registers too — this covers builder-time)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // opt-in: plain row_number()<=k window SQL -> heap operator under
    // spark.graft.heapTopK=true (no query-code changes)
    ext.injectOptimizerRule(_ => graft.plans.HeapTopKRewrite())
  }
}

object GraftExtensions {
  /** Every graft SQL function as (name, expression class, builder): the
    * one table both the builder-time extension and [[registerAll]] walk. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_product_f", classOf[DotProductF], c => DotProductF(c(0), c(1))),
    ("dot_product_i", classOf[DotProductI], c => DotProductI(c(0), c(1))),
    ("quantize_codes", classOf[QuantizeCodes], c => QuantizeCodes(c.head)),
    ("hll_sketch", classOf[HllSketchAgg], c => HllSketchAgg(c.head).toAggregateExpression()),
    ("hll_merge", classOf[SketchMergeAgg[_]],
      c => SketchMergeAgg(c.head, HllFamily).toAggregateExpression()),
    ("hll_estimate", classOf[HllEstimate], c => HllEstimate(c.head)),
    ("cm_sketch", classOf[CmSketchAgg], c => CmSketchAgg(c.head).toAggregateExpression()),
    ("cm_merge", classOf[SketchMergeAgg[_]],
      c => SketchMergeAgg(c.head, CmsFamily).toAggregateExpression()),
    ("cm_estimate", classOf[CmEstimate], c => CmEstimate(c(0), c(1))),
    ("cm_inner", classOf[CmInnerProduct], c => CmInnerProduct(c(0), c(1))),
    ("q_sketch", classOf[QSketchAgg], c => QSketchAgg(c(0), c(1)).toAggregateExpression()),
    ("q_sketch_merge", classOf[SketchMergeAgg[_]],
      c => SketchMergeAgg(c.head, QSketchFamily).toAggregateExpression()),
    ("q_sketch_quantile", classOf[QSketchQuantile], c => QSketchQuantile(c(0), c(1))),
    // oracle-replicable (md5-hash) sketch variants — see ReplicableHash
    ("hll_sketch_r", classOf[HllSketchAgg],
      c => HllSketchAgg(c.head, replicable = true).toAggregateExpression()),
    ("q_sketch_r", classOf[QSketchAgg],
      c => QSketchAgg(c(0), c(1), replicable = true).toAggregateExpression()),
    // one-pass text expressions (constants must be SQL literals)
    ("char_shingles", classOf[CharShingles], c => CharShingles(c(0), intArg(c(1)))),
    ("winnow_fps", classOf[WinnowFps],
      c => WinnowFps(c(0), intArg(c(1)), intArg(c(2)), longArg(c(3)), longArg(c(4)))),
    ("gram_fps", classOf[GramFps], c => GramFps(c(0), intArg(c(1)))),
    // minhash_sigs(text, n): the dedup family's signature constants
    // are fixed engine-wide, so SQL callers only pick the shingle width
    ("minhash_sigs", classOf[MinhashSigs],
      c => MinhashSigs(c(0), intArg(c(1)), 257L, 263L,
        graft.dedup.Dedup.polyP, graft.dedup.Dedup.hashP,
        (0 until graft.dedup.Dedup.numHashes).map(graft.dedup.Dedup.hashConsts))))

  /** Register every graft SQL function on an already-built session
    * (extensions only apply at builder time). */
  def registerAll(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.GraftColumnBridge.registerFunction(spark, name, builder)
    }

  /** Constant argument extraction for SQL-registered expressions whose
    * parameters are plan-time constants (literal-folded at resolution). */
  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue
  private def longArg(e: Expression): Long =
    e.eval().asInstanceOf[Number].longValue
}
