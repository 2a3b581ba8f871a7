package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Dedup.bandCanonicalPairs — the fused canonical-band enumeration — must be
 * pair-SET-identical to the composite path (`bucketedPairs(blockBands)`
 * annotated with brute-force Hamming) at both orders, and under a BINDING
 * hot-bucket cap, including the rescue case: a pair whose
 * lexicographically-first clean band lands in a HOT bucket must still be
 * emitted from its first small clean band.
 */
class BandCanonicalSpec extends SparkSpec {

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Random corpus with planted near-groups: base hashes plus variants at
   * a few flipped bits, so buckets of every size appear. */
  private def fixture(n: Int): Seq[(Long, Long)] =
    (0 until n).map { i =>
      val flips = i % 8 // 0..7 bit flips off the group base
      (i.toLong, (0 until flips).foldLeft(mix(i / 8 * 31)) { (v, f) =>
        v ^ (1L << ((mix(i * 131 + f) & 63).toInt))
      })
    }

  private def composite(df: DataFrame, order: Int,
                        maxBucket: Int): Set[(Long, Long, Long)] = {
    val hashOf = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Long =
      java.lang.Long.bitCount(hashOf(a) ^ hashOf(b)).toLong
    Dedup.bucketedPairs(Dedup.blockBands(df, order), maxBucket).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) => (a, b, ham(a, b)) }.toSet
  }

  private def fused(df: DataFrame, order: Int,
                    maxBucket: Int): Set[(Long, Long, Long)] =
    Dedup.bandCanonicalPairs(df, order, maxBucket).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("fused == composite at orders 2/3, blocks 8, no cap binding") {
    import spark.implicits._
    val df = fixture(240).toDF("id", "hash")
    for (order <- 2 to 3) {
      val want = composite(df, order, 10000)
      val got = fused(df, order, 10000)
      assert(want.nonEmpty, s"fixture must collide at order=$order")
      assert(got == want,
        s"order=$order: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    }
  }

  test("fused == composite under a BINDING cap, hot-canonical rescue included") {
    import spark.implicits._
    // 12 ids identical in blocks (0,1) — band (0,1) is one hot bucket at
    // maxBucket=3; two more (ids 100, 101) also share blocks (2,3)
    // uniquely, so their first clean band (0,1) is HOT and the rescue must
    // emit them from the small (0,2) bucket exactly as the composite does.
    // For triples the 12 also take block 2 from 100/101, so band (0,1,2)
    // is the hot one and (0,1,3) the small rescue.
    val shared01 = 0xabcdL // blocks 0,1
    for (order <- 2 to 3) {
      val rows =
        (0 until 12).map { i =>
          val rest = mix(i + 50) & ~0xffffffffL | (mix(i + 90) & 0xffff0000L)
          val b23 = if (order == 2) mix(i) & 0xffffL else mix(i) & 0xff00L | 0x66L
          (i.toLong, shared01 | (rest << 32) | (b23 << 16))
        } ++ Seq(
          (100L, shared01 | (0x11223344L << 32) | (0x5566L << 16)),
          (101L, shared01 | (0x99887766L << 32) | (0x5566L << 16)))
      val df = rows.toDF("id", "hash")
      for (cap <- Seq(3, 10000)) {
        val want = composite(df, order, cap)
        val got = fused(df, order, cap)
        assert(got == want, s"order=$order cap=$cap: " +
          s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
      }
      // the rescue case is actually exercised: at cap=3 the (100, 101)
      // pair must be present (via its small clean band)
      assert(fused(df, order, 3).exists(p => p._1 == 100L && p._2 == 101L),
        s"order=$order: the hot-canonical pair must be rescued through its small band")
    }
  }

  test("a binding hot-bucket cap is observed with its counts (the WARN renders)") {
    import spark.implicits._
    val readings = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val marker = s"graft.test.marker.${System.nanoTime()}"
    @volatile var drained = false
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          // cap 4 is this test's; an earlier test's late event carries its own cap
          if (name.startsWith("graft.dedup.hot_buckets.") && row.getLong(2) == 4L)
            readings.add((row.getLong(0), row.getLong(1), row.getLong(2)))
          if (name == marker) drained = true
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // five identical hashes: all 28 pair bands hold one 5-member bucket
      val df = (1L to 5L).map(i => (i, 0x0123456789abcdefL)).toDF("id", "hash")
      assert(fused(df, 2, 4).map(p => (p._1, p._2)) == (2L to 5L).map(i => (1L, i)).toSet)
      // listener delivery is async but in order: once a later query's event
      // arrives, every reading of the call above has arrived
      spark.range(1).observe(marker, count(lit(1))).collect()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(50)
      assert(drained, "the marker query's event never arrived")
      // one reading of the full census: the emptiness probe is not observed
      assert(readings.asScala.toSeq == Seq((28L, 5L, 4L)),
        s"hot-bucket audit must read (n_hot=28, max=5, cap=4) once, got $readings")
    } finally spark.listenerManager.unregister(listener)
  }

  test("collapsedVerifiedPairs == collapsedBandCandidates + verify (the q169 semantics)") {
    import spark.implicits._
    // identical-hash classes + near variants (the q169 shape)
    val rows = (0 until 60).map { i =>
      val cls = i / 6
      val base = mix(cls * 17) | 1L
      val h = if (i % 6 < 3) base else base ^ (1L << ((i % 6) * 7))
      (i.toLong, h)
    }
    val df = rows.toDF("id", "hash")
    val fusedOut = Dedup.collapsedVerifiedPairs(df, 2, budget = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hashOf = rows.toMap
    def ham(a: Long, b: Long) =
      java.lang.Long.bitCount(hashOf(a) ^ hashOf(b)).toLong
    val candidate = Dedup
      .collapsedBandCandidates(df, order = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) => (a, b, ham(a, b)) }
      .filter(_._3 <= 6).toSet
    assert(fusedOut.nonEmpty && fusedOut == candidate,
      s"extra=${(fusedOut -- candidate).take(3)} missing=${(candidate -- fusedOut).take(3)}")
  }

  test("collapsedVerifiedPairs refuses a budget or order outside the recall theorem") {
    import spark.implicits._
    // a pair at ham 7 can damage 7 of the 8 blocks, leaving one clean
    // block and no shared pair band: budget 7 at order 2 would drop it
    // silently, so it must fail by name instead
    val df = Seq((1L, 0L), (2L, 0x0002040810204080L)).toDF("id", "hash")
    for ((order, budget) <- Seq((2, 7), (3, 6), (2, -1), (4, 4), (1, 6))) {
      val ex = intercept[IllegalArgumentException] {
        Dedup.collapsedVerifiedPairs(df, order, budget)
      }
      assert(ex.getMessage.contains("collapsedVerifiedPairs"),
        s"order=$order budget=$budget: ${ex.getMessage}")
    }
    // the bounds themselves are accepted
    assert(Dedup.collapsedVerifiedPairs(df, 2, budget = 6).count() == 0)
    assert(Dedup.collapsedVerifiedPairs(df, 3, budget = 5).count() == 0)
  }
}
