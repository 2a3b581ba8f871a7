package graft.operators

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{TextFunctions => T}
import graft.queries.Tables

/**
 * Value-identity pin for the r19 two-stage LSH verify:
 * [[Dedup.verifyJaccardGated]] must return EXACTLY what [[Dedup.verifyJaccard]]
 * returns for the same (candidates, docs, threshold) — the hash gate only
 * drops candidates it can PROVE fail (overcounting hashed intersection ⟹ a
 * gate value ≥ the true jaccard, so gate < θ ⟹ true < θ), and the exact
 * string-array stage emits the final values. Any divergence is a
 * recall/monotonicity bug in the gate.
 */
class GatedVerifySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docShingles = Tables.documents(spark, sf)
    .select(col("doc_id").as("id"), T.shingles(col("text"), 2).as("shingles"))

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("gated verify equals plain verify on LSH candidates, natural corpus") {
    val docs = docShingles
    for (t <- Seq(0.5, 0.8)) {
      val cands = Dedup.minhashCandidates(docs, 36, 12)
      val plain = asSet(Dedup.verifyJaccard(cands, docs, t))
      val gated = asSet(Dedup.verifyJaccardGated(cands, docs, t))
      assert(plain.nonEmpty, s"vacuous at t=$t")
      assert(gated == plain, s"threshold $t")
    }
  }

  test("gated verify keeps boundary pairs and empty-array candidates behave") {
    import spark.implicits._
    // (1,2): jac exactly 0.5 — sits ON the threshold, the gate must keep it;
    // (3,4): jac 1/3 — below, both stages drop it; (5,6): identical docs;
    // (7,8): one side empty — true jac 0, must not survive (or NPE)
    val docs = Seq(
      (1L, Seq("a b", "b c")), (2L, Seq("a b", "x y", "b c")),
      (3L, Seq("p q", "q r")), (4L, Seq("p q", "s t", "u v")),
      (5L, Seq("m n")), (6L, Seq("m n")),
      (7L, Seq.empty[String]), (8L, Seq("z z"))
    ).toDF("id", "shingles")
    val cands = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("a", "b")
    // jac(1,2) = 2/3 ≥ 0.5 — wait: {ab,bc} ∩ {ab,xy,bc} = 2, ∪ = 3
    val plain = asSet(Dedup.verifyJaccard(cands, docs, 0.5))
    val gated = asSet(Dedup.verifyJaccardGated(cands, docs, 0.5))
    assert(gated == plain)
    assert(gated.exists(p => p._1 == 1L && p._2 == 2L))
    assert(gated.exists(p => p._1 == 5L && p._2 == 6L && p._3 == 1.0))
    assert(!gated.exists(p => p._1 == 3L || p._1 == 7L))
  }

  test("each side broadcasts once: the b role reuses the a role's exchange") {
    val docs = docShingles.localCheckpoint()
    val cands = Dedup.minhashCandidates(docs, 36, 12).localCheckpoint()
    val gated = Dedup.verifyJaccardGated(cands, docs, 0.8)
    assert(gated.collect().nonEmpty)
    val plan = gated.queryExecution.executedPlan
    // the helper's traversal descends into the final plan's query stages
    val broadcasts = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case s: BroadcastQueryStageExec => s.plan
    }
    // the hashed gate side and the exact stage's docs side, once each
    assert(broadcasts.count(_.isInstanceOf[BroadcastExchangeExec]) == 2, plan)
    assert(broadcasts.count(_.isInstanceOf[ReusedExchangeExec]) == 2, plan)
  }

  test("two gate slices equal plain verify, and hash the corpus once") {
    val docs = docShingles.localCheckpoint()
    val cands = Dedup.minhashCandidates(docs, 36, 12).localCheckpoint()
    val plain = asSet(Dedup.verifyJaccard(cands, docs, 0.8))
    val postings = docs.agg(sum(size(col("shingles")))).head().getLong(0)
    // a budget of half the corpus census forces K = 2 slices
    sys.props("graft.inline.verify.max.postings") = ((postings + 1) / 2).toString
    try {
      val gated = Dedup.verifyJaccardGated(cands, docs, 0.8)
      val plan = gated.queryExecution.optimizedPlan.toString
      assert(plan.contains("pmod(xxhash64(id"), s"not sliced: $plan")
      // the four slice broadcasts read one checkpoint of the hashed side
      assert(!plan.contains("xxhash64(lambda"), plan)
      assert(plain.nonEmpty && asSet(gated) == plain)
    } finally sys.props -= "graft.inline.verify.max.postings"
  }
}
