package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/**
 * Measure-first probe for q126's remaining sf100 lever (VERDICT r18 #5):
 * in the STATE-FREE merge-dot regime the final `.distinct()` ingests
 * (qualifying pairs × shared-term multiplicity) rows — if the multiplicity
 * is high, emitting each qualifying pair ONCE (gate row survives only when
 * its join token is the pair's smallest common hash) would shrink that
 * exchange by the same factor for the cost of one extra early-exit merge
 * kernel per candidate row. This probe computes, on q126's postings at a
 * given sfDir: candidate rows, qualifying rows BEFORE distinct, distinct
 * qualifying pairs (= the multiplicity), and the wall time of the scoring
 * join vs the distinct, by running the merge-dot pipeline's stages.
 *
 * Usage: runMain graft.tools.CosineDistinctProbe <sfDir>
 */
object CosineDistinctProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tPpm = 500000L

    val spark = graft.Sessions.get("graft-cosine-distinct-probe")

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

    // merge-dot scoring pipeline (cold = all, cap unbound on this corpus)
    val varr = post.groupBy(col("id"))
      .agg(sort_array(collect_list(
        struct(xxhash64(col("term")).as("k"), col("wt")))).as("kw"),
        floor(sqrt(sum(col("wt") * col("wt")).cast("double")))
          .cast("long").as("nrm"))
      .select(col("id"), expr("transform(kw, x -> x.k)").as("ks"),
        expr("transform(kw, x -> x.wt)").as("ws"), col("nrm"))
      .localCheckpoint()
    val coldKeyed = post.select(xxhash64(col("term")).as("kh"), col("id"))
    val pairs = coldKeyed.select(col("kh"), col("id").as("a"))
      .join(coldKeyed.select(col("kh"), col("id").as("b")), Seq("kh"))
      .where(col("a") < col("b")).select(col("a"), col("b"))
    val scored = pairs
      .join(broadcast(varr.select(col("id").as("a"), col("ks").as("ka"),
        col("ws").as("wa"), col("nrm").as("na"))), "a")
      .join(broadcast(varr.select(col("id").as("b"), col("ks").as("kb"),
        col("ws").as("wb"), col("nrm").as("nb"))), "b")
      .select(col("a"), col("b"),
        call_function("intersect_count_sorted", col("ka"), col("kb"))
          .cast("long").as("n_shared"),
        call_function("dot_sorted", col("ka"), col("wa"), col("kb"), col("wb"))
          .as("dot"),
        col("na"), col("nb"))
      .select(col("a"), col("b"), col("n_shared"),
        expr("1000000 * dot div (na * nb)").as("cos_ppm"))
      .where(col("cos_ppm") >= tPpm)

    var t0 = System.nanoTime()
    val nQual = scored.count()
    val tScore = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nDistinct = scored.distinct().count()
    val tBoth = (System.nanoTime() - t0) / 1e9
    println(f"qualifying rows pre-distinct: $nQual%d (scoring pass $tScore%.1f s)")
    println(f"distinct qualifying pairs: $nDistinct%d " +
      f"(scoring+distinct pass $tBoth%.1f s; distinct marginal ${tBoth - tScore}%.1f s)")
    println(f"multiplicity: ${nQual.toDouble / math.max(1L, nDistinct)}%.2f")
    spark.stop()
  }
}
