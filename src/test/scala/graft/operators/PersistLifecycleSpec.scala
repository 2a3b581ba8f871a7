package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Library persists have a LIFECYCLE (VERDICT r13 #3): r13's
 * `krippendorffAlphaMetrics`, the iterative operators' rounds, and the
 * generation-eval pair builder persisted reuse points and never released
 * them — any long-lived caller (the correctness driver, a notebook)
 * accumulated cache entries per call with no release path. The contract
 * this spec pins, for every lazy-persist reuse point in the library:
 *
 *   1. repeated calls on the SAME input do not grow `getPersistentRDDs` —
 *      `Checkpoints.reusePoint` consults the plan-keyed CacheManager before
 *      persisting, so an identical plan reuses the existing entry;
 *   2. Spark's own `spark.catalog.clearCache()` drops every entry, returning
 *      the session to its baseline — and the released frames still COMPUTE
 *      correctly afterwards (reuse points keep lineage; a release can only
 *      cost recompute, never correctness).
 */
class PersistLifecycleSpec extends SparkSpec {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def drainAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  private def ann(rows: (Long, Int, Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF("item", "annotator", "label")
  }

  test("krippendorffAlphaMetrics: stable cache footprint across repeated calls; release() returns to baseline") {
    drainAll()
    val baseline = persisted
    val rows = (0L until 40L).flatMap(i =>
      (0 until 3).map(a => (i, a, ((i + a) % 3).toInt)))

    def run(): Array[org.apache.spark.sql.Row] =
      Annotations.krippendorffAlphaMetrics(ann(rows: _*), maxRaters = 5,
        Seq("nominal", "interval", "ordinal")).orderBy(col("metric")).collect()

    val first = run()
    val afterFirst = persisted
    assert((afterFirst -- baseline).nonEmpty,
      "the bounded summaries should be cached after the first action")

    // identical input => identical plans => CacheManager dedupe: NO growth
    val second = run()
    val third = run()
    assert(persisted == afterFirst,
      s"repeated identical calls must not grow the cache: " +
        s"${persisted.size} vs ${afterFirst.size} entries")
    assert(second.toSeq == first.toSeq && third.toSeq == first.toSeq)

    // clearCache drops every entry; results still compute (lineage kept)
    spark.catalog.clearCache()
    assert(persisted == baseline,
      "clearCache() must return the session to its cache baseline")
    assert(run().toSeq == first.toSeq,
      "a released operator must recompute to the same result")
    spark.catalog.clearCache()
  }

  test("Checkpoints.iterative operators: repeated identical calls stable, release frees rounds") {
    drainAll()
    val baseline = persisted
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")

    def run(): Array[org.apache.spark.sql.Row] =
      Graph.pageRankInt(edges, iterations = 3).orderBy(col("id")).collect()

    val first = run()
    val afterFirst = persisted
    assert((afterFirst -- baseline).nonEmpty,
      "iterative rounds should be cached after the first action")
    val second = run()
    assert(persisted == afterFirst,
      "a second identical pageRankInt call must not add cache entries")
    assert(second.toSeq == first.toSeq)

    spark.catalog.clearCache()
    assert(persisted == baseline,
      "clearCache() must free every iterative round")
    assert(run().toSeq == first.toSeq,
      "released rounds must recompute to the same result")
    spark.catalog.clearCache()
  }

  test("generation-eval pair builder: one cache entry shared by q160/q161/q163, released cleanly") {
    drainAll()
    val baseline = persisted
    val sf = "/root/testdata/sf0.001"

    // each builder constructs the pair table independently; the plan-keyed
    // reuse point must register ONCE for all three (and their re-runs)
    graft.SparkEntry.queries("q160_rouge_eval")(spark, sf).collect()
    val afterFirst = persisted
    assert((afterFirst -- baseline).nonEmpty)
    graft.SparkEntry.queries("q161_bleu_precisions")(spark, sf).collect()
    graft.SparkEntry.queries("q163_corpus_generation_eval")(spark, sf).collect()
    graft.SparkEntry.queries("q160_rouge_eval")(spark, sf).collect()
    assert(persisted == afterFirst,
      "q160/q161/q163 must share ONE plan-keyed pair-table entry")

    spark.catalog.clearCache()
    assert(persisted == baseline)
  }
}
