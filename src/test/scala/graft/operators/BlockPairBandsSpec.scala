package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * The block-band recall THEOREM, property-proven at both orders: for the
 * 8 8-bit blocks of a 64-bit hash, a pair within Hamming distance
 * `8 − order` damages at most `8 − order` blocks, leaving ≥ `order` clean —
 * and those clean blocks are an identical `(band, band_key)` bucket, so
 * every true pair collides. The test is corpus-free: random hashes with a
 * random ≤-budget bit-flip set, the exact pigeonhole adversary (no corpus
 * data could be stronger than arbitrary flips), evaluated through the REAL
 * Spark expression in one batch per order.
 */
class BlockPairBandsSpec extends SparkSpec {

  /** Deterministic sampler (scalatestplus isn't in the offline cache). */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** 120 random (hash, hash with ≤ 8 − order bits flipped) pairs must share
   * a bucket; every id gets C(8, order) distinct bands of 8·order-bit keys. */
  private def collide(order: Int): Unit = {
    import spark.implicits._
    val gen = for {
      h <- Gen.choose(Long.MinValue, Long.MaxValue)
      n <- Gen.choose(0, 8 - order) // the full budget, 0 included
      flips <- Gen.pick(n, 0 until 64)
    } yield (h, flips.foldLeft(h)((d, p) => d ^ (1L << p)), n)
    val cases = samples(gen, 120)
    val rows = cases.zipWithIndex.flatMap { case ((orig, dam, _), i) =>
      Seq((i.toLong * 2, orig), (i.toLong * 2 + 1, dam))
    }.toDF("id", "hash")
    val keys = Dedup.blockBands(rows, order)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => (r.getInt(1), r.getLong(2))).toSet
      }
    val nBands = (0 until 8).combinations(order).size
    cases.indices.foreach { i =>
      val a = keys(i.toLong * 2); val b = keys(i.toLong * 2 + 1)
      assert(a.map(_._1).size == nBands && b.map(_._1).size == nBands,
        s"case $i: expected C(8,$order) = $nBands distinct bands per id")
      assert(b.forall(_._2 < (1L << (8 * order))), s"keys are ${8 * order}-bit")
      assert((a intersect b).nonEmpty,
        s"case $i (order=$order, ham=${cases(i)._3}): no shared " +
          "(band, band_key) — the pigeonhole recall theorem is violated")
    }
  }

  test("blocks = 8: every pair within ham 6 of 64 shares a band bucket") {
    collide(2)
  }

  test("blocks = 8 reproduces q90's inline banding exactly") {
    import spark.implicits._
    // the refactor must not move a single bucket: compare against the
    // original single-long formula on random hashes
    val hs = samples(Gen.choose(Long.MinValue, Long.MaxValue), 64)
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val df = hs.toDF("id", "phash")
    val legacy = df.select(col("id"), explode(expr(
      "flatten(transform(sequence(0, 6), i -> transform(sequence(i + 1, 7), j -> " +
        "struct(i * 8 + j AS band, " +
        "(shiftright(phash, i * 8) & 255) * 256 + (shiftright(phash, j * 8) & 255) AS band_key))))")).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.band_key").as("band_key"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val nu = Dedup.blockBands(df.select(col("id"), col("phash").as("hash")), 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(nu == legacy, "parameterized banding diverged from q90's inline formula")
  }

  test("triples, blocks = 8: every pair within ham 5 of 64 shares a 24-bit band bucket") {
    collide(3)
  }

  test("triple band keys are the exact block triple (spot formula check)") {
    import spark.implicits._
    // hash with block b holding value b+1 (blocks 0..7 little-endian):
    // band (i,j,k) must key (i+1)<<16 | (j+1)<<8 | (k+1)
    val h = (0 until 8).map(b => (b + 1).toLong << (8 * b)).sum
    val rows = Seq((1L, h)).toDF("id", "hash")
    val got = Dedup.blockBands(rows, 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(got.size == 56)
    for (i <- 0 until 8; j <- i + 1 until 8; k <- j + 1 until 8) {
      val band = (i * 8 + j) * 8 + k
      val key = ((i + 1).toLong * 256 + (j + 1)) * 256 + (k + 1)
      assert(got(band) == key, s"band ($i,$j,$k)")
    }
  }

  test("collapsedBandCandidates: identical-hash cliques cost star edges, " +
    "one-hop connectivity holds at the pair budget") {
    import spark.implicits._
    // fixture: a 60-member identical-hash class A, a 40-member class B at
    // ham 3 from A (within the pairs budget 6), one far singleton, one
    // singleton at ham 2 from A — covers clique-internal, clique-to-clique,
    // clique-to-singleton, and non-pair structure
    val h1 = 0x0123456789abcdefL
    val h2 = h1 ^ 0x0700000000000000L // 3 bits flipped in one block
    val h3 = h1 ^ 0x0000000000000003L // 2 bits flipped
    val far = h1 ^ -1L                // every bit flipped
    val rows: Seq[(Long, Long)] =
      (0L until 60L).map(i => (i, h1)) ++
        (100L until 140L).map(i => (i, h2)) ++
        Seq((200L, far), (300L, h3))
    val df = rows.toDF("id", "hash")
    val cand = Dedup
      .collapsedBandCandidates(df, order = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // the clique CUT: class A contributes exactly its 59 star edges —
    // never an intra-class non-star pair (the C(m,2)·bands blowup)
    val aIntra = cand.filter { case (a, b) => a < 60 && b < 60 }
    assert(aIntra == (1L until 60L).map(i => (0L, i)).toSet,
      s"class A must collapse to star edges, got ${aIntra.size} intra pairs")

    // one-hop connectivity at the budget: for EVERY true pair within
    // ham 6, same rep or the rep pair is a candidate (the collapse theorem)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val hashOf = rows.toMap
    val repOf = rows.groupBy(_._2)
      .flatMap { case (_, rs) => rs.map(r => r._1 -> rs.map(_._1).min) }
    val ids = rows.map(_._1)
    for (x <- ids; y <- ids if x < y && ham(hashOf(x), hashOf(y)) <= 6) {
      val (ra, rb) = (repOf(x), repOf(y))
      assert(ra == rb ||
          cand((math.min(ra, rb), math.max(ra, rb))),
        s"pair ($x, $y) at ham ${ham(hashOf(x), hashOf(y))} not connected " +
          s"via reps ($ra, $rb)")
    }

    // anti-vacuousness: the far singleton pairs with nothing
    assert(!cand.exists { case (a, b) => a == 200L || b == 200L },
      "the far singleton must produce no candidates")
  }
}
