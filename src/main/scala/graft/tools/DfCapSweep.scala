package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.functions.{TextFunctions => T}
import graft.queries.Tables

/**
 * The promised df-cap measurement for the postings co-occurrence family
 * (VERDICT r15 "What's wrong" #1/#2): q92 (`Dedup.containmentPairs`) and
 * q112 (`Dedup.allPairsJaccard` + the minhash-estimate join) both ride the
 * same cold-postings pair join whose cost grows ~df² until shingle dfs
 * saturate the ABSOLUTE maxDf cap — the measured 12.6×/11.5× second-decade
 * ratios are the transition zone. This tool runs BOTH query shapes at
 * maxDf ∈ {2000, 5000, 10000} on one corpus and reports, per cap:
 *
 *   - `sec`    — min-of-`runs` wall seconds for the full query shape
 *     (shingle checkpoint included, mirroring the bench's cold query cost);
 *   - `pairs`  — result rows: the RECALL side of the adjudication. The cap
 *     is exactness-preserving for every pair it ENUMERATES (the hot
 *     correction restores exact counts), but pairs overlapping ONLY in hot
 *     shingles enter solely as star pairs — a tighter cap can drop
 *     qualifying non-star hot-only pairs, and that loss must be seen, not
 *     argued;
 *   - the corpus df census (max df, #shingles above each cap) so "does
 *     this cap even bind here" is data, not inference.
 *
 * One JSON line per (shape, cap) plus one census line — PLANS.md gets the
 * table, and the adopted cap cites it.
 *
 * Usage: runMain graft.tools.DfCapSweep <sfDir> [runs] [cap,cap,...]
 */
object DfCapSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 2
    val caps = if (args.length > 2) args(2).split(",").map(_.toLong).toSeq
      else Seq(2000L, 5000L, 10000L)

    val spark = graft.Sessions.get("graft-df-cap-sweep")

    // the exact q92/q112 input: distinct word-2-gram shingles of the %3 draw
    def dsh(): DataFrame =
      Tables.documents(spark, sfDir).where(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))

    // df census once per corpus: does each cap bind, and by how much
    val dfs = dsh().select(explode(col("shingles")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .agg(max(col("df")).as("max_df"),
        caps.map(c => sum(when(col("df") > c, 1L)).as(s"n_above_$c")): _*)
      .collect()(0)
    val censusFields = (s""""max_df":${dfs.getLong(0)}""" +:
      caps.zipWithIndex.map { case (c, i) =>
        s""""n_above_$c":${if (dfs.isNullAt(i + 1)) 0L else dfs.getLong(i + 1)}""" })
      .mkString(",")
    println(s"""{"tool":"dfcap_census","sf":"$sfDir",$censusFields}""")

    def shapes(cap: Long): Seq[(String, () => DataFrame)] = Seq(
      ("q92_containment", () =>
        Dedup.containmentPairs(dsh().localCheckpoint(), 800000L, maxDf = cap)),
      ("q112_calibration", () => {
        val d = dsh().localCheckpoint()
        val nonEmpty = d.where(size(col("shingles")) > 0)
        val (b1, b2) = T.minhashBases(col("shingles"))
        val sigs = nonEmpty.select(col("id"), b1.as("b1"), b2.as("b2"))
          .select(col("id"),
            T.minhashSignatureFromBases(col("b1"), col("b2"), 32).as("sig"))
        Dedup.allPairsJaccard(d, 0.1, maxDf = cap)
          .join(sigs.select(col("id").as("a"), col("sig").as("siga")), "a")
          .join(sigs.select(col("id").as("b"), col("sig").as("sigb")), "b")
          .select(col("a"), col("b"), col("jac"),
            expr("(1000000 * size(filter(zip_with(siga, sigb, (x, y) -> x = y), " +
              "v -> v))) div 32").as("est_fp"))
      }))

    for (cap <- caps; (name, build) <- shapes(cap)) {
      var sec = Double.MaxValue
      var pairs = -1L
      for (_ <- 1 to runs) {
        val t0 = System.nanoTime()
        pairs = build().count()
        sec = math.min(sec, (System.nanoTime() - t0) / 1e9)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
      println(s"""{"tool":"dfcap","sf":"$sfDir","shape":"$name",""" +
        s""""max_df_cap":$cap,"pairs":$pairs,"sec":$sec,"runs":$runs}""")
    }
    spark.stop()
  }
}
