package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/**
 * Measure-FIRST estimator for the r19 q126 candidate-stream lever (VERDICT
 * r18 #5): on q126's exact postings (id, term, wt, df), compare the
 * merge-dot path's current candidate volume — Σ df² over cold terms (every
 * shared cold term emits a row) — against the COSINE WEIGHT-PREFIX bound's
 * volume: order each doc's cold terms by the global (df asc, term) order,
 * keep position p in the index only while the suffix (positions ≥ p, plus
 * ALL the doc's hot terms) can still carry a qualifying dot product:
 *
 *   1e6 · sqrt(S(p)) · N_b ≥ T · n_a · n_b   for some partner b
 *   ⇐ sufficient to index p:  1e12 · S(p) · (minNrm+1)² ≥ T² · n_a² · minNrm²
 *
 * (S(p) = n2_a − Σ_{cold i<p} wt_i², N_b ≤ n_b·(minNrm+1)/minNrm with
 * minNrm the corpus-min floored norm). A qualifying pair with ≥1 shared
 * cold term must then share a term in the PARTNER-side prefix, so the
 * one-sided join (full postings × prefix postings) is recall-safe — the
 * estimated join volume is Σ_t df(t) · dfp(t). Prints both volumes, the
 * prefix-mass distribution, and the exact candidate row counts replayed on
 * the real corpus.
 *
 * Usage: runMain graft.tools.CosinePrefixEstimate <sfDir> [minCosPpm]
 */
object CosinePrefixEstimate {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tPpm = if (args.length > 1) args(1).toLong else 500000L
    val maxDf = 10000L

    val spark = graft.Sessions.get("graft-cosine-prefix-estimate")

    // q126's exact postings construction (%10 corpus, maxDfDenom=2)
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"), explode(T.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = toks.agg(countDistinct(col("id")).as("n_docs")).head().getLong(0)
    val kept = df_.where(col("df") * 2 <= nd)
    val post = tf.join(kept.select(col("term"), col("df")), "term")
      .select(col("id"), col("term"), expr("1000 * tf div df").as("wt"), col("df"))
      .where(col("wt") > 0)
      .localCheckpoint()

    val cold = post.where(col("df") <= maxDf)
    val norms = post.groupBy(col("id"))
      .agg(sum(col("wt") * col("wt")).as("n2"))
      .select(col("id"), col("n2"),
        floor(sqrt(col("n2").cast("double"))).cast("long").as("nrm"))
    val minNrm = norms.agg(min(col("nrm"))).head().getLong(0)
    println(s"n_docs=$nd minNrm=$minNrm tPpm=$tPpm")

    val base = cold.groupBy(col("term")).agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(col("d") * col("d")), lit(0L)).as("s2"),
        count(lit(1)).as("t")).head()
    println(s"cold terms=${base.getLong(1)}  sum_df2 (current join rows, " +
      s"unoriented)=${base.getLong(0)}")

    // ranked cold postings with running prefix mass
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("df"), col("term"))
    val ranked = cold.join(norms, "id")
      .withColumn("rk", row_number().over(w))
      .withColumn("pre2", sum(col("wt") * col("wt"))
        .over(w.rowsBetween(Window0.unboundedPreceding, -1)))
      .withColumn("s_p",
        col("n2") - coalesce(col("pre2"), lit(0L)))
      // index position p while the suffix can still carry a qualifying dot:
      // 1e12·S(p)·(minNrm+1)² ≥ T²·nrm²·minNrm² — exact decimals; a decimal
      // overflow yields null and the position stays indexed (recall-safe)
      .withColumn("keep", coalesce(
        lit(1000000000000L).cast("decimal(38,0)") *
          col("s_p").cast("decimal(38,0)") *
          lit((minNrm + 1) * (minNrm + 1)).cast("decimal(38,0)") >=
          lit(tPpm * tPpm).cast("decimal(38,0)") *
            (col("nrm") * col("nrm")).cast("decimal(38,0)") *
            lit(minNrm * minNrm).cast("decimal(38,0)"),
        lit(true)))
    val prefix = ranked.where(col("keep")).localCheckpoint()

    val pstats = prefix.groupBy(col("id")).agg(count(lit(1)).as("np"))
      .join(cold.groupBy(col("id")).agg(count(lit(1)).as("nc")), "id")
      .agg(sum(col("np")).as("p_posts"), sum(col("nc")).as("c_posts"),
        avg(col("np") / col("nc")).as("avg_frac")).head()
    println(f"prefix postings=${pstats.getLong(0)} of cold=${pstats.getLong(1)} " +
      f"(avg per-doc prefix fraction ${pstats.getDouble(2)}%.3f)")

    // one-sided join volume: Σ_t df(t)·dfp(t)
    val dfp = prefix.groupBy(col("term")).agg(count(lit(1)).as("dp"))
    val vol = cold.groupBy(col("term")).agg(count(lit(1)).as("d"))
      .join(dfp, Seq("term"), "left")
      .agg(sum(col("d") * coalesce(col("dp"), lit(0L))).as("v")).head()
    println(s"one-sided prefix join rows (sum df*dfp) = ${vol.getLong(0)}")

    // exact replay: current a<b candidate rows vs prefix-oriented rows
    val ck = cold.select(xxhash64(col("term")).as("kh"), col("id"))
    val cur = ck.select(col("kh"), col("id").as("a"))
      .join(ck.select(col("kh"), col("id").as("b")), Seq("kh"))
      .where(col("a") < col("b")).count()
    // oriented like the real rewrite would be: the LOWER id ships its full
    // postings, the HIGHER id its prefix — a qualifying pair (x<y) shares a
    // term in prefix(y) by the per-doc suffix bound, so this is recall-safe
    val pk = prefix.select(xxhash64(col("term")).as("kh"), col("id"))
    val curP = ck.select(col("kh"), col("id").as("a"))
      .join(pk.select(col("kh"), col("id").as("b")), Seq("kh"))
      .where(col("a") < col("b")).count()
    println(s"current candidate rows (a<b): $cur ; oriented prefix rows " +
      s"(a<b, prefix side b): $curP ; cut = " +
      f"${100.0 * (1.0 - curP.toDouble / math.max(1L, cur).toDouble)}%.1f%%")
    spark.stop()
  }

  // alias so the rowsBetween bound reads cleanly above
  private val Window0 = org.apache.spark.sql.expressions.Window
}
