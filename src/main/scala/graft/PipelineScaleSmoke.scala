package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/**
 * Pipeline scale smoke: synthesize an N-document corpus (default 100k — 20×
 * the sf0.1 documents table) entirely from deterministic md5-derived
 * expressions, plant ~1% near-duplicates, and run the LSH dedup stack
 * end-to-end — exact dedup, MinHash candidate generation, Jaccard
 * verification — reporting wall times and docs/sec. The point is evidence
 * that the candidate-generation path stays near-linear when the corpus is
 * 20× the bench table: candidates should track the planted duplicates, not
 * N².
 *
 * Usage: `runMain graft.PipelineScaleSmoke [nDocs]` (default 100000).
 */
object PipelineScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toInt).getOrElse(100000)
    val spark = Sessions.get("graft-pipeline-scale-smoke")

    // doc d with d % 100 == 1 copies doc d-1's words, changing only the last
    // word — a planted near-duplicate pair per 100 docs. Words come from a
    // 500-term vocabulary indexed by md5, so the corpus is deterministic and
    // Zipf-free (the LSH worst case: every shingle distinct-ish).
    val words = 50
    val docs = spark.range(nDocs)
      .select(col("id"),
        when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id")).as("seed"),
        (col("id") % 100 === 1).as("isDup"))
      .select(col("id"),
        concat_ws(" ", transform(sequence(lit(0), lit(words - 1)),
          i => concat(lit("w"),
            pmod(conv(substring(md5(concat(col("seed"), lit(":"), i)), 1, 15), 16, 10)
              .cast("long"), lit(500)).cast("string")))).as("base"),
        col("isDup"))
      .select(col("id"),
        when(col("isDup"),
          concat(expr("substring(base, 1, length(base) - locate(' ', reverse(base)))"),
            lit(" wEDIT")))
          .otherwise(col("base")).as("text"))
      .localCheckpoint() // corpus built once; the stages below each scan it

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[pipeline-smoke] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val nExact = timed("exact dedup") {
      Dedup.exact(docs, col("id"), col("text")).count()
    }
    val shingled = docs.select(col("id"),
      call_function("word_ngrams", col("text"), lit(2)).as("shingles"))
    // checkpoint the candidate set so the verify timing measures ONLY the
    // verification join, not a second candidate-generation run
    var candidates: org.apache.spark.sql.DataFrame = null
    val nCand = timed("minhash candidates") {
      candidates = Dedup.minhashCandidates(shingled, 36, 12).localCheckpoint()
      candidates.count()
    }
    val nVerified = timed("jaccard verify") {
      Dedup.verifyJaccard(candidates, shingled, 0.8).count()
    }
    // minhashCandidates checkpoints its band table internally and this stage
    // checkpointed the candidate set; no Spark action runs after this point,
    // so free every block (the TrainingScaleSmoke storage-starvation hygiene)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val planted = nDocs / 100
    println(s"[pipeline-smoke] docs=$nDocs exact_groups=$nExact " +
      s"candidates=$nCand verified=$nVerified planted=$planted")
    require(nVerified >= planted * 95 / 100,
      s"verified pairs $nVerified should recover ~all $planted planted dups")
    require(nCand < nDocs.toLong * 20,
      s"candidates $nCand should stay near-linear in docs, not quadratic")
    spark.stop()
  }
}
