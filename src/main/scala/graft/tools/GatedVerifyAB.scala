package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.operators.Dedup

/**
 * Isolation A/B for the r19 gated verify regression triage: the targeted
 * sweep showed the gate WINNING inside the componentsStar consumers (q116
 * 28.7→19.4) but LOSING in the direct consumers (q32 16.9→65.6, q97
 * 8.4→18.1). This tool times, in one JVM at one sfDir:
 *
 *   1. plain exact verify on CHECKPOINTED candidates + docs
 *   2. gated verify on the same checkpointed inputs
 *   3. plain verify, q32's exact lazy shape (docs/candidates rebuilt inline)
 *   4. gated verify, q32's exact lazy shape
 *
 * (1) vs (2) isolates the verify-stage algebra; (3) vs (4) adds the
 * re-derivation cost the lazy shape pays — the difference attributes the
 * regression. Usage: runMain graft.tools.GatedVerifyAB <sfDir> [repeat]
 */
object GatedVerifyAB {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val repeat = if (args.length > 1) args(1).toInt else 2

    val spark = graft.Sessions.get("graft-gated-verify-ab")

    def lazyDocs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"),
        (if (spark.catalog.functionExists("word_ngrams"))
          call_function("word_ngrams", col("text"), lit(2))
        else T.shingles(col("text"), 2)).as("shingles"))

    def time(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"AB $tag%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    for (i <- 1 to repeat) {
      println(s"=== pass $i ===")
      val docs = lazyDocs.localCheckpoint()
      val cands = Dedup.minhashCandidates(docs, 36, 12).localCheckpoint()
      time("plain, checkpointed inputs") {
        noop(Dedup.verifyJaccard(cands, docs, 0.8)) }
      val docs2 = lazyDocs.localCheckpoint()
      val cands2 = Dedup.minhashCandidates(docs2, 36, 12).localCheckpoint()
      time("gated, checkpointed inputs") {
        noop(Dedup.verifyJaccardGated(cands2, docs2, 0.8)) }
      time("plain, q32 lazy shape") {
        val d = lazyDocs
        noop(Dedup.verifyJaccard(Dedup.minhashCandidates(d, 36, 12), d, 0.8)
          .orderBy(col("a"), col("b"))) }
      time("gated, q32 lazy shape") {
        val d = lazyDocs
        noop(Dedup.verifyJaccardGated(Dedup.minhashCandidates(d, 36, 12), d, 0.8)
          .orderBy(col("a"), col("b"))) }
    }
    spark.stop()
  }
}
