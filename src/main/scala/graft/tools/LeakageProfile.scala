package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.operators.{CorpusOps, Dedup}

/**
 * Phase profile of q116_leakage_safe_split (VERDICT r18 #4 — 350.8 s at
 * sf100, dec3 16.6×, the one heavy query never decomposed in 18 rounds).
 * The query's pipeline, phase by phase:
 *
 *   1. shingles   documents → (id, word-2-gram set)          [scan+Generate]
 *   2. candidates Dedup.minhashCandidates(docs, 36, 12)      [36-hash sigs,
 *                 12 bands, bucketed pair enumeration]
 *   3. verify     Dedup.verifyJaccard(cands, docs, 0.8)      [string-array
 *                 join onto candidates, exact jaccard]
 *   4. components Dedup.componentsStar(pairs)                [O(log n) star
 *                 contraction rounds]
 *   5. split      leakageSafeSplitFromComponents + orderBy   [left join +
 *                 hash bucket + global sort]
 *
 * Each phase is timed with the noop sink over a checkpointed input from the
 * previous phase, so phases don't re-pay upstream work; the full query is
 * timed last in the same JVM (bench-style: construction + execution) as the
 * cross-check that the phases add up. Usage:
 *   runMain graft.tools.LeakageProfile <sfDir> [repeat]
 */
object LeakageProfile {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val repeat = if (args.length > 1) args(1).toInt else 1

    val spark = graft.Sessions.get("graft-leakage-profile")

    def docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"),
        (if (spark.catalog.functionExists("word_ngrams"))
          call_function("word_ngrams", col("text"), lit(2))
        else T.shingles(col("text"), 2)).as("shingles"))

    def clear(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PHASE $tag%-14s ${(System.nanoTime() - t0) / 1e9}%9.2f s")
      r
    }

    for (i <- 1 to repeat) {
      println(s"=== pass $i ===")
      spark.sparkContext.setJobDescription("q116 profile: shingles")
      time("shingles") { noop(docs) }
      // materialize the shingle frame once for the downstream phases (the
      // query itself rebuilds it inline; the full-query timing below pays it)
      val dsh = time("shingles_ckpt") { docs.localCheckpoint() }
      spark.sparkContext.setJobDescription("q116 profile: candidates")
      val cands = time("candidates") {
        val c = Dedup.minhashCandidates(dsh, 36, 12).localCheckpoint()
        println(s"  candidate pairs: ${c.count()}")
        c
      }
      spark.sparkContext.setJobDescription("q116 profile: verify")
      val pairs = time("verify") {
        val p = Dedup.verifyJaccard(cands, dsh, 0.8).localCheckpoint()
        println(s"  verified pairs: ${p.count()}")
        p
      }
      spark.sparkContext.setJobDescription("q116 profile: components")
      val comp = time("components") {
        val (c, rounds) = Dedup.componentsStarWithRounds(pairs)
        val cc = c.localCheckpoint()
        println(s"  rounds: $rounds, labelled vertices: ${cc.count()}")
        cc
      }
      spark.sparkContext.setJobDescription("q116 profile: split")
      time("split") {
        noop(CorpusOps.leakageSafeSplitFromComponents(
            spark.read.parquet(s"$sfDir/documents.parquet"), col("doc_id"),
            comp, "lss", trainPct = 80, valPct = 10)
          .select(col("id").as("doc_id"), col("cluster"), col("split"))
          .orderBy(col("doc_id")))
      }
      clear()
      spark.sparkContext.setJobDescription("q116 profile: full query")
      time("full_q116") {
        noop(graft.SparkEntry.queries("q116_leakage_safe_split")(spark, sfDir))
      }
      clear()
    }
    spark.stop()
  }
}
