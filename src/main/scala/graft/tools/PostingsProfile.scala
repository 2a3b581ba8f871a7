package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/**
 * Decision profiler for the exact-postings family (q141/q31/q92/q112 —
 * VERDICT r17 #1): measures, on the family's exact corpus (the %3 sample,
 * word 2-gram shingles), the candidate volumes of the three exact
 * pair-generation schemes so the r18 rewrite is chosen by data:
 *
 *   A. the shipped counting join        — rows = Σ df²
 *   B. 1-token prefix filter (Bayardo)  — rows = Σ df_p², candidates need
 *      an array verify
 *   C. 2-token prefix pigeonhole        — the k-prefix theorem (Xiao/Wang/
 *      Lin PPJoin line): the k smallest common tokens of a qualifying pair
 *      sit within each doc's first sz − ⌈θ'·sz⌉ + k tokens under any global
 *      total order, so joining on PAIRS of prefix tokens cannot miss —
 *      and a junk pair must share ≥2 tokens to ever be generated.
 *
 * All thresholds are widened by the oracle's round(·,4) tolerance
 * (θ' = θ − 0.00005) so the measured pruning is what an EXACT rewrite may
 * legally use. Output: one JSON line per (θ, scheme) with row/candidate
 * censuses; everything driver-side is a bounded head().
 */
object PostingsProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // schemes needing a pair join are skipped above this Σdf² (default: on)
    val joinCensus = args.length <= 1 || args(1) != "--no-join"

    val spark = graft.Sessions.get("graft-postings-profile")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))
      .localCheckpoint()

    val posts = docs.select(col("id"), size(col("shingles")).as("sz"),
      explode(col("shingles")).as("sh"))
    val dfreq = posts.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val census = dfreq.agg(count(lit(1)).as("n_sh"), max(col("df")).as("max_df"),
      sum(col("df") * col("df")).as("sum_df2"), sum(col("df")).as("n_post")).head()
    val szc = docs.agg(count(lit(1)).as("n_docs"),
      avg(size(col("shingles"))).as("avg_sz"),
      max(size(col("shingles"))).as("max_sz")).head()
    println(s"""{"corpus":"$sfDir","n_docs":${szc.getLong(0)},"avg_sz":${szc.getDouble(1)},"max_sz":${szc.getInt(2)},"n_sh":${census.getLong(0)},"max_df":${census.getLong(1)},"sum_df2":${census.getLong(2)},"n_post":${census.getLong(3)}}""")

    // ranked postings under the global (df, sh) order — shared by B and C
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("sh"))
    val ranked = posts.join(dfreq, "sh")
      .withColumn("rk", row_number().over(w))
      .localCheckpoint()

    def profile(tag: String, theta: Double): Unit = {
      val tp = theta - 0.00005
      for (k <- Seq(1, 2)) {
        val t0 = System.nanoTime()
        val prefix = ranked.where(col("rk") <=
          col("sz") - ceil(col("sz") * tp) + k)
        if (k == 1) {
          val pc = prefix.groupBy(col("sh")).agg(count(lit(1)).as("dfp"))
            .agg(sum(col("dfp") * col("dfp")).as("sum_dfp2"),
              max(col("dfp")).as("max_dfp"), sum(col("dfp")).as("n_pfx")).head()
          val nCand = if (joinCensus) {
            val a = prefix.select(col("id").as("a"), col("sh"))
            val b = prefix.select(col("id").as("b"), col("sh"))
            a.join(b, "sh").where(col("a") < col("b"))
              .select(col("a"), col("b")).distinct().count()
          } else -1L
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"""{"theta":"$tag","k":1,"sum_dfp2":${pc.getLong(0)},"max_dfp":${pc.getLong(1)},"n_pfx_post":${pc.getLong(2)},"candidates":$nCand,"sec":$sec%.1f}""")
        } else {
          // token-PAIR postings: self-join the prefix on id (codegen, no HOF)
          val l = prefix.select(col("id"), col("sz"), col("rk").as("rk1"), col("sh").as("sh1"))
          val r = prefix.select(col("id"), col("rk").as("rk2"), col("sh").as("sh2"))
          val posts2 = l.join(r, Seq("id")).where(col("rk1") < col("rk2"))
          val p2c = posts2.groupBy(col("sh1"), col("sh2")).agg(count(lit(1)).as("df2"))
            .agg(count(lit(1)).as("n_keys"), max(col("df2")).as("max_df2"),
              sum(col("df2") * col("df2")).as("sum_df22"),
              sum(col("df2")).as("n_post2")).head()
          val nCand2 = if (joinCensus) {
            val a = posts2.select(col("id").as("a"), col("sh1"), col("sh2"))
            val b = posts2.select(col("id").as("b"), col("sh1"), col("sh2"))
            a.join(b, Seq("sh1", "sh2")).where(col("a") < col("b"))
              .select(col("a"), col("b")).distinct().count()
          } else -1L
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"""{"theta":"$tag","k":2,"n_keys":${p2c.getLong(0)},"max_df2":${p2c.getLong(1)},"sum_df22":${p2c.getLong(2)},"n_post2":${p2c.getLong(3)},"candidates":$nCand2,"sec":$sec%.1f}""")
        }
      }
    }

    profile("0.5_jac_q141_q31", 0.5)
    profile("0.1_jac_q112", 0.1)
    // q92 containment at 0.8: a directed pair needs c >= t*min(sa,sb); the
    // SMALLER doc's k-prefix carries the guarantee, the larger side must be
    // probed on its full tokens — profile the small-side prefix census and
    // the asymmetric prefix×full join volume.
    locally {
      val tp = 0.8 - 0.0000005 // fixed-point ge at 1e6 scale
      for (k <- Seq(1, 2)) {
        val t0 = System.nanoTime()
        val prefix = ranked.where(col("rk") <= col("sz") - ceil(col("sz") * tp) + k)
        if (k == 1) {
          val pj = prefix.groupBy(col("sh")).agg(count(lit(1)).as("dfp"))
            .join(dfreq, "sh")
            .agg(sum(col("dfp") * col("df")).as("rows_pfx_full"),
              sum(col("dfp") * col("dfp")).as("sum_dfp2")).head()
          val nCand = if (joinCensus) {
            val a = prefix.select(col("id").as("a"), col("sz").as("sza"), col("sh"))
            val b = ranked.select(col("id").as("b"), col("sz").as("szb"), col("sh"))
            // guarantee side: smaller doc's prefix; probe: any doc's full
            a.join(b, "sh").where(col("a") =!= col("b") && col("sza") <= col("szb"))
              .select(least(col("a"), col("b")).as("a"),
                greatest(col("a"), col("b")).as("b")).distinct().count()
          } else -1L
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"""{"theta":"0.8_cont_q92","k":1,"rows_pfx_full":${pj.getLong(0)},"sum_dfp2":${pj.getLong(1)},"candidates":$nCand,"sec":$sec%.1f}""")
        }
      }
    }
    spark.stop()
  }
}
