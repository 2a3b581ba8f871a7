package graft.queries

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.SparkSpec

/**
 * The generation-eval trio (q160/q161/q163) shares its two expensive
 * derivations through the queries' own `Checkpoints.reusePoint`s: the
 * md5-dropout (reference, candidate) pair table and the orders-1..4 gram
 * census of each side. Each reuse point is a lazy persist, so the first
 * consumer seeds the cache and the CacheManager substitutes plan-keyed:
 * every consumer's optimized plan must read all three as
 * InMemoryRelations, with the derivation they cache nowhere above them
 * (VERDICT r13 #4, r15 #7). `Bench.freeCaches` must leave none of those
 * seeds behind for the next query.
 */
class SeedSubstitutionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val trio = Seq("q160_rouge_eval", "q161_bleu_precisions",
    "q163_corpus_generation_eval")

  /** Each trio query's optimized plan, built in a session with no reuse
   * points left over from earlier suites. */
  private def withTrioPlans(check: (String, LogicalPlan) => Unit): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    try for (q <- trio)
      check(q, graft.SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan)
    finally spark.catalog.clearCache()
  }

  /** Distinct cache entries the plan reads whose columns start with
   * `cols` (a consumer may rename the rest, e.g. the census count). */
  private def cachedReads(opt: LogicalPlan, cols: String*) =
    opt.collect { case m: InMemoryRelation if m.output.map(_.name).startsWith(cols) =>
      m.cacheBuilder }.distinct

  /** Nodes whose expressions contain `needle`. InMemoryRelation is a LEAF
   * in the logical plan (its cached plan is a field, not a child), so any
   * node found here is genuinely outside the caches. */
  private def outside(opt: LogicalPlan, needle: String) =
    opt.collect { case n if n.expressions.exists(_.toString.contains(needle)) =>
      n.nodeName }

  test("q160/q161/q163 optimized plans read the seeded dropout-pair InMemoryRelation") {
    withTrioPlans { (q, opt) =>
      assert(cachedReads(opt, "id", "reference", "candidate").size == 1,
        s"$q: the pair table must be read from its reuse point")
      // the needle is the dropout SALT ('drop' into the per-word md5) — the
      // gram builders legitimately use array_join above the cache
      assert(outside(opt, "concat(drop").isEmpty,
        s"$q: the dropout derivation runs above the pair table's cache")
    }
  }

  test("the trio's plans read the seeded 1..4 gram-census InMemoryRelations") {
    withTrioPlans { (q, opt) =>
      // both sides, two distinct cache entries (q160's n <= 2 filters sit
      // ABOVE them)
      assert(cachedReads(opt, "id", "n", "g").size == 2,
        s"$q: both gram censuses must be read from their reuse points")
      // the census derivation (the per-word hash60 md5) must not survive
      // above the cache boundary
      val md5 = outside(opt, "md5")
      assert(md5.isEmpty, s"$q: md5 derivation above the censuses: $md5")
    }
  }

  test("Bench.freeCaches empties the cache manager, so q161 after q160 reads no stale entry") {
    def cached(q: String) = graft.SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      .collect { case m: InMemoryRelation => m.cacheBuilder }
    graft.Bench.freeCaches(spark)
    val seeded = cached(trio.head)
    assert(seeded.nonEmpty)
    graft.SparkEntry.queries(trio.head)(spark, sf).write.format("noop").mode("overwrite").save()
    graft.Bench.freeCaches(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // q161 persists its own lazy reuse points; an entry q160 left behind
    // would substitute instead and serve q160's shuffle output
    try {
      val stale = cached(trio(1)).filter(b => seeded.exists(_ eq b))
      assert(stale.isEmpty, stale.mkString("\n", "\n", ""))
    } finally graft.Bench.freeCaches(spark)
  }
}
