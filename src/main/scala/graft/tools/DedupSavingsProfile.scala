package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.operators.Dedup

/**
 * Phase profile of q141_dedup_savings (the r16 decade table's worst ratio,
 * 11.05× dec2 / 65.6 s at sf10, never decomposed — VERDICT r16 #4): the
 * query is one exact pair table (allPairsJaccard at the loose θ=0.5 gate
 * over the deterministic 1/3 sample) materialized once, then six bounded
 * aggregates sweeping three thresholds over it. The sweep can only see the
 * sum; this tool times the phases separately and prints the pair-join's
 * volume drivers (postings, max df, Σ df² — the candidate-join row count by
 * construction, and the quantity that explains ANY postings self-join's
 * decade growth) so the next round attacks the real term. One JSON line.
 *
 * Usage: runMain graft.tools.DedupSavingsProfile <sfDir> [runs]
 */
object DedupSavingsProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 2

    val spark = graft.Sessions.get("graft-dedup-savings-profile")

    // q141's exact input: the deterministic 1/3 sample, distinct word
    // 2-gram shingles (T.shingles is value-identical to the fused kernel)
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))

    var shingleSec, pairSec, aggSec = Double.MaxValue
    var nDocs = -1L; var nPost = -1L; var nSh = -1L
    var maxDf = -1L; var sumDf2 = -1L; var nPairs = -1L
    for (_ <- 1 to runs) {
      // phase 0 (diagnostic, untimed vs the query but timed here): the
      // postings census — Σ df² IS the cold candidate-join volume
      val t0 = System.nanoTime()
      val posts = docs.select(col("id"), explode(col("shingles")).as("sh"))
      val census = posts.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .agg(count(lit(1)).as("n_sh"), max(col("df")).as("max_df"),
          sum(col("df") * col("df")).as("sum_df2"),
          sum(col("df")).as("n_post")).head()
      nSh = census.getLong(0); maxDf = census.getLong(1)
      sumDf2 = census.getLong(2); nPost = census.getLong(3)
      nDocs = docs.count()
      shingleSec = math.min(shingleSec, (System.nanoTime() - t0) / 1e9)

      // phase 1: the pair table — q141's localCheckpoint materialization
      val t1 = System.nanoTime()
      val pairs = Dedup.allPairsJaccard(docs, 0.5).localCheckpoint()
      nPairs = pairs.count()
      pairSec = math.min(pairSec, (System.nanoTime() - t1) / 1e9)

      // phase 2: the six bounded aggregates (three thresholds × two stats)
      val t2 = System.nanoTime()
      def row(t: Double) = {
        val p = pairs.where(col("jac") >= t)
        p.agg(count(lit(1)).as("n_pairs")).crossJoin(
          p.select(explode(array(col("a"), col("b"))).as("x"))
            .agg(countDistinct(col("x")).as("n_docs")))
          .select(lit(t).as("theta"), col("n_pairs"), col("n_docs"))
      }
      row(0.5).unionByName(row(0.7)).unionByName(row(0.9)).collect()
      aggSec = math.min(aggSec, (System.nanoTime() - t2) / 1e9)

      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    println(s"""{"tool":"dedup_savings_phase","sf":"$sfDir","docs":$nDocs,""" +
      s""""postings":$nPost,"shingles":$nSh,"max_df":$maxDf,""" +
      s""""sum_df2":$sumDf2,"pairs":$nPairs,"census_sec":$shingleSec,""" +
      s""""pair_sec":$pairSec,"agg_sec":$aggSec,"runs":$runs}""")
    spark.stop()
  }
}
