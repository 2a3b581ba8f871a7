package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{TextFunctions => T}
import graft.queries.Tables

/**
 * Value-identity pins for the r18 state-free tf-idf cosine path:
 * [[Similarity.mergeDotCosinePairs]] (hashed-key merge-dot over broadcast
 * sorted arrays — the third-decade plan behind the Σ df² dispatch) must
 * return EXACTLY what the counting core returns, including under a binding
 * df cap (cold candidates + star fallback) and at minCosPpm = 0 (every
 * co-occurring pair emitted). The dispatch census guarantees a
 * collision-free hashed vocabulary before this path runs; these corpora
 * satisfy it naturally (asserted, so a vacuous pin cannot hide).
 */
class MergeDotCosineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def toks = Tables.documents(spark, sf)
    .where(col("doc_id") % 4 === 0)
    .select(col("doc_id").as("id"), explode(T.tokens(col("text"))).as("term"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def both(maxDfDenom: Int, minCosPpm: Long, maxDf: Long) = {
    val post = Similarity.buildPostingsForTest(toks, maxDfDenom).localCheckpoint()
    val cen = post.groupBy(col("term")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("t"),
        count_distinct(xxhash64(col("term"))).as("h")).head()
    assert(cen.getLong(0) == cen.getLong(1),
      "fixture vocabulary must be hash-collision-free or the pin is vacuous")
    val counting = rows(Similarity.cappedCosineForTest(post, minCosPpm, maxDf))
    val merged = rows(Similarity.mergeDotCosinePairs(post, minCosPpm, maxDf))
    (counting, merged)
  }

  test("merge-dot equals the counting core on the natural corpus") {
    for (minCos <- Seq(0L, 500000L)) {
      val (counting, merged) = both(maxDfDenom = 2, minCos, Long.MaxValue)
      assert(counting.nonEmpty, s"vacuous at minCos=$minCos")
      assert(merged == counting, s"minCosPpm $minCos")
    }
  }

  test("merge-dot equals the counting core under a binding df cap") {
    val (counting, merged) = both(maxDfDenom = 1, minCosPpm = 0L, maxDf = 20L)
    assert(counting.nonEmpty)
    assert(merged == counting)
  }

  test("exactly-once emission (hotFree) equals full-multiplicity emission") {
    // the r19 min_common_sorted filter: on a cap-free postings frame every
    // pair must survive exactly once through its minimal common hash — the
    // OUTPUT must be identical to both the unfiltered merge-dot and the
    // counting core, at a permissive threshold (multiplicity > 1 pairs) and
    // at q126's production threshold
    for (minCos <- Seq(0L, 500000L)) {
      val post = Similarity.buildPostingsForTest(toks, 2).localCheckpoint()
      val counting = rows(Similarity.cappedCosineForTest(post, minCos, Long.MaxValue))
      val oncePath = rows(Similarity.mergeDotCosinePairs(post, minCos,
        Long.MaxValue, hotFree = true))
      assert(counting.nonEmpty, s"vacuous at minCos=$minCos")
      assert(oncePath == counting, s"minCosPpm $minCos")
    }
  }

  test("dispatch keeps full multiplicity when the wt prune hides a hot term") {
    // h sits in 1003 docs (df 1003 > maxDf 3), but only docs 1-3 (tf 2)
    // keep a posting after the wt = 1000·tf div df > 0 prune — the kept
    // postings count d = 3 would call the frame hot-free. Docs 2 and 3
    // also share one cold term c whose hash is above h's, so their
    // minimal common hash is the hot h: exactly-once emission would drop
    // (2, 3).
    val s = spark
    import s.implicits._
    val colds = (0 until 50).map(i => s"c$i")
    val hash = ("h" +: colds).toDF("t")
      .select(col("t"), xxhash64(col("t"))).as[(String, Long)].collect().toMap
    val c = colds.find(hash(_) > hash("h")).get
    val toks = ((1L to 3L).flatMap(id => Seq((id, "h"), (id, "h"))) ++
      Seq((2L, c), (3L, c)) ++ (1001L to 2000L).map(id => (id, "h")))
      .toDF("id", "term")
    val post = Similarity.buildPostingsForTest(toks, 1).localCheckpoint()
    val budget = 0L // any Σ d² > 0 leaves the counting core

    assert(Similarity.mergeDotDispatch(post, maxDf = 3L, budget) == Some(false))
    val counting = rows(Similarity.cappedCosineForTest(post, 0L, 3L))
    assert(counting.exists(r => (r._1, r._2) == (2L, 3L)))
    assert(rows(Similarity.mergeDotCosinePairs(post, 0L, 3L, hotFree = false)) ==
      counting)

    // uncapped, the same frame IS hot-free and exactly-once emission is exact
    assert(Similarity.mergeDotDispatch(post, Long.MaxValue, budget) == Some(true))
    assert(rows(Similarity.mergeDotCosinePairs(post, 0L, Long.MaxValue,
      hotFree = true)) == rows(Similarity.cappedCosineForTest(post, 0L, Long.MaxValue)))
  }

  test("the state-free budget knob rejects a malformed value by name") {
    assert(Similarity.stateFreeMinDf2(Map.empty) == 1000000000L)
    assert(Similarity.stateFreeMinDf2(
      Map("SPARK_GRAFT_COSINE_STATE_FREE_MIN_DF2" -> "0")) == 0L)
    for (bad <- Seq("-1", "1e9", "x")) {
      val e = intercept[IllegalArgumentException](Similarity.stateFreeMinDf2(
        Map("SPARK_GRAFT_COSINE_STATE_FREE_MIN_DF2" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_COSINE_STATE_FREE_MIN_DF2"), bad)
    }
  }
}
