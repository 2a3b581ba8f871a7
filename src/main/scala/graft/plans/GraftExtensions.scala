package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Engine extension point — install with
 * `spark.sql.extensions=graft.plans.GraftExtensions`, as every
 * `graft.Sessions` session does.
 *
 * Registers the native expressions the engine adds beyond Spark's built-ins.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction(MinHashSignatureExpr.descriptor)
    extensions.injectFunction(CosineSimilarityExpr.descriptor)
    extensions.injectFunction(TopKByExpr.descriptor)
    extensions.injectFunction(HyperplaneSignatureExpr.descriptor)
    extensions.injectFunction(HyperplaneSignatureWordsExpr.descriptor)
    extensions.injectFunction(CosineArgmaxExpr.descriptor)
    extensions.injectFunction(SimHash62Expr.descriptor)
    extensions.injectFunction(MinHash60Expr.descriptor)
    extensions.injectFunction(BottomKDistinctExpr.descriptor)
    extensions.injectFunction(MinKByExpr.descriptor)
    extensions.injectFunction(WordNgramsExpr.descriptor)
    extensions.injectFunction(CdcBoundsExpr.descriptor)
    extensions.injectFunction(WinnowSelectExpr.descriptor)
    extensions.injectFunction(CharStatsExpr.descriptor)
    extensions.injectFunction(IntersectCountSortedExpr.descriptor)
    extensions.injectFunction(DotSortedExpr.descriptor)
    extensions.injectFunction(MinCommonSortedExpr.descriptor)
    extensions.injectOptimizerRule(_ => CosineRewriteRule)
  }
}
