package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.operators.Dedup

/**
 * VERDICT r17 #7 A/B: would canonical-band emission (the q169 shape — no
 * candidate distinct, no verify joins) pay for the MINHASH text family
 * (q32/q97/q139)? The q90 family won 4.3× because candidates were ~113M
 * and the distinct + verify joins dominated; this measures where the text
 * family's time actually goes at the same corpus — signature build vs
 * bucket enumeration + distinct vs exact verification — so the keep/drop
 * decision is a measurement, not an analogy.
 */
object MinhashAB {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)

    val spark = graft.Sessions.get("graft-minhash-ab")

    // q32's exact corpus and parameters (k=36, 12 bands, verify at 0.8)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))
      .localCheckpoint()

    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"phase $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s -> $r")
      r
    }

    val banded = timed("banding (sig build + explode, checkpointed)")(
      Dedup.bandedKeys(docs, 36, 12).localCheckpoint())
    timed("bucket census: pre-distinct pair rows")(
      banded.groupBy(col("band"), col("band_key"))
        .agg(countDistinct(col("id")).as("n"))
        .agg(sum(expr("n * (n - 1) / 2")).as("pairs"),
          max(col("n")).as("max_bucket")).head().toString)
    val cands = timed("bucketedPairs (enumerate + distinct)")(
      Dedup.bucketedPairs(banded).localCheckpoint())
    timed("candidate count")(cands.count())
    timed("verifyJaccard at 0.8")(
      Dedup.verifyJaccard(cands, docs, 0.8).count())
    spark.stop()
  }
}
