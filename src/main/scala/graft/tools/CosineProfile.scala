package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.operators.Similarity

/**
 * Phase/structure profile of q126_tfidf_cosine (VERDICT r17 #4 — dec3 ~20×
 * at sf100, same postings family as the r18 Jaccard rewrite): measures the
 * kept-term df census (Σ df² = pair-join rows), the DISTINCT co-occurring
 * pair count (= the aggregation state that scales into the third decade),
 * the qualifying output size, and the full-operator wall time — the
 * numbers that decide between a prefix-filter rewrite and an adjudication.
 */
object CosineProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)

    val spark = graft.Sessions.get("graft-cosine-profile")

    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"), explode(T.tokens(col("text"))).as("term"))
      .localCheckpoint()

    // q126's exact postings construction
    val tf = toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = toks.agg(countDistinct(col("id")).as("n_docs")).head().getLong(0)
    val kept = df_.where(col("df") * 2 <= nd)
    val post = tf.join(kept.select(col("term"), col("df")), "term")
      .select(col("id"), col("term"), expr("1000 * tf div df").as("wt"), col("df"))
      .where(col("wt") > 0)
      .localCheckpoint()

    val census = post.groupBy(col("term")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_terms"), max(col("d")).as("max_df"),
        sum(col("d") * col("d")).as("sum_df2"), sum(col("d")).as("n_post")).head()
    println(s"n_docs=$nd kept_terms=${census.getLong(0)} max_df=${census.getLong(1)} " +
      s"sum_df2=${census.getLong(2)} n_post=${census.getLong(3)}")

    val t0 = System.nanoTime()
    val pairs = post.select(col("term"), col("id").as("a"))
      .join(post.select(col("term"), col("id").as("b")), Seq("term"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct().count()
    println(f"distinct co-occurring pairs: $pairs (${(System.nanoTime() - t0) / 1e9}%.1f s)")

    val t1 = System.nanoTime()
    val out = Similarity.tfidfCosinePairs(toks, maxDfDenom = 2,
      minCosPpm = 500000, maxDf = 10000L).count()
    println(f"q126 operator: $out rows in ${(System.nanoTime() - t1) / 1e9}%.1f s")
    spark.stop()
  }
}
