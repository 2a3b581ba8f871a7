package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Randomized differential tests for the newest composite operators, against
 * brute-force Scala references. The planted-case specs (ScaleOpsSpec,
 * CorpusOpsSpec) pin known shapes; these sweeps hunt the shapes nobody
 * planted — tiny vocabularies force heavy window collisions, overlap, and
 * adjacent-span coalescing edge cases, and random pair graphs (including
 * chains past the min-label diameter cap) exercise the clustering choice
 * leakageSafeSplit depends on.
 */
class DedupFuzzSpec extends SparkSpec {

  /** Brute-force duplicateSpans: census every n-window as a plain string,
   * mark window starts whose text occurs >= minOcc corpus-wide (within-doc
   * repeats count), merge overlapping/adjacent [i, i+n) intervals. */
  private def referenceSpans(docs: Seq[(Long, Vector[String])], n: Int,
                             minOcc: Int): Set[(Long, Int, Int)] = {
    val census = new scala.collection.mutable.HashMap[String, Int]()
    for ((_, w) <- docs; i <- 0 to w.length - n)
      census.updateWith(w.slice(i, i + n).mkString(" ")) {
        c => Some(c.getOrElse(0) + 1)
      }
    docs.flatMap { case (id, w) =>
      val starts = (0 to w.length - n)
        .filter(i => census(w.slice(i, i + n).mkString(" ")) >= minOcc)
      // coalesce [i, i+n) runs: a new span opens when start > current end
      val spans = scala.collection.mutable.ListBuffer[(Long, Int, Int)]()
      for (i <- starts) {
        if (spans.nonEmpty && i <= spans.last._3)
          spans.update(spans.size - 1, (id, spans.last._2, i + n))
        else spans += ((id, i, i + n))
      }
      spans
    }.toSet
  }

  test("duplicateSpans equals the brute-force census on random tiny-vocab corpora") {
    val rnd = new Random(20260814L)
    for (trial <- 1 to 12) {
      val vocab = (1 to (2 + rnd.nextInt(4))).map(i => s"w$i") // 2-5 words
      val n = 2 + rnd.nextInt(3)                               // window 2-4
      val docs = (1L to (3 + rnd.nextInt(6)).toLong).map { id =>
        id -> Vector.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size)))
      }
      val expected = referenceSpans(docs, n, minOcc = 2)
      import spark.implicits._
      val df = docs.toDF("id", "w")
      val got = Dedup.duplicateSpans(df, n, minOcc = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(got == expected,
        s"trial $trial (vocab=${vocab.size}, n=$n): got ${got.toSeq.sorted} " +
          s"expected ${expected.toSeq.sorted} docs=$docs")
    }
  }

  test("leakageSafeSplit holds cluster-atomicity on random graphs incl. a 80-chain") {
    val rnd = new Random(42L)
    import spark.implicits._
    for (trial <- 1 to 4) {
      val nIds = 120L
      // random sparse edges + one 80-vertex chain (past components' 50-round
      // diameter cap — the shape that must not abort the split)
      val randomEdges = Seq.fill(30)(
        (rnd.nextLong(nIds), rnd.nextLong(nIds))).filter(e => e._1 != e._2)
      val chain = (20L until 100L).sliding(2).map(s => (s(0), s(1))).toSeq
      val edges = (randomEdges ++ chain).map { case (a, b) =>
        (math.min(a, b), math.max(a, b))
      }.distinct
      val ids = spark.range(nIds).select(col("id").as("doc_id"))
      val pairs = edges.toDF("a", "b")
      val split = CorpusOps.leakageSafeSplit(ids, col("doc_id"), pairs,
        s"fuzz$trial", trainPct = 70, valPct = 15)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(split.size == nIds, "every id assigned exactly once")
      // invariant: both endpoints of every edge share a side (transitively,
      // the whole component does)
      edges.foreach { case (a, b) =>
        assert(split(a) == split(b), s"trial $trial: edge ($a,$b) straddles")
      }
    }
  }

  /** Brute-force tf-idf cosine pairs with the operator's exact integer
   * semantics (relative prune, wt = 1000·tf div df, ⌊√Σwt²⌋ norms,
   * cos_ppm = 10⁶·dot div (na·nb)): every pair sharing ≥ 1 kept term. */
  private def referenceTfidf(docs: Seq[(Long, Seq[String])], maxDfDenom: Int)
      : Map[(Long, Long), (Long, Long)] = {
    val nDocs = docs.map(_._1).distinct.size
    val tf = docs.flatMap { case (id, ts) => ts.map(t => (id, t)) }
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val df = tf.keys.toSeq.groupBy(_._2).map { case (t, v) => (t, v.size.toLong) }
    val byDoc = tf.toSeq.collect {
      case ((id, t), f) if df(t) * maxDfDenom <= nDocs && 1000 * f / df(t) > 0 =>
        (id, t, 1000 * f / df(t))
    }.groupBy(_._1).map { case (id, rows) =>
      (id, rows.map(r => (r._2, r._3)).toMap)
    }
    val norms = byDoc.map { case (id, m) =>
      (id, math.floor(math.sqrt(m.values.map(w => w * w).sum.toDouble)).toLong)
    }
    val ids = byDoc.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      shared = byDoc(a).keySet & byDoc(b).keySet
      if shared.nonEmpty
    } yield {
      val dot = shared.toSeq.map(t => byDoc(a)(t) * byDoc(b)(t)).sum
      ((a, b), (shared.size.toLong, 1000000L * dot / (norms(a) * norms(b))))
    }).toMap
  }

  private def componentsOf(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => (k, find(k))).toMap
  }

  test("capped tf-idf pairs are value-exact, cold-complete, and component-preserving") {
    val rnd = new Random(20260814L)
    import spark.implicits._
    for (trial <- 1 to 8) {
      // tiny vocab → big dfs → a small absolute cap binds on real structure;
      // maxDfDenom = 1 disables the relative prune so the cap is the only guard
      val vocab = (1 to (3 + rnd.nextInt(4))).map(i => s"t$i")
      val docs = (1L to (6 + rnd.nextInt(8)).toLong).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
      }
      val expected = referenceTfidf(docs, maxDfDenom = 1)
      val toks = docs.flatMap { case (id, ts) => ts.map(t => (id, t)) }
        .toDF("id", "term")
      def run(maxDf: Long) = Similarity
        .tfidfCosinePairs(toks, maxDfDenom = 1, minCosPpm = 0L, maxDf = maxDf)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .toMap
      // 1. uncapped == reference exactly
      val uncapped = run(1000000L)
      assert(uncapped == expected, s"trial $trial uncapped: $uncapped vs $expected")
      // compute the cold-term set for a binding cap
      val maxDf = 2L + rnd.nextInt(3)
      val nDocs = docs.size
      val df = docs.flatMap { case (id, ts) => ts.distinct.map(t => (t, id)) }
        .groupBy(_._1).map { case (t, v) => (t, v.size.toLong) }
      val capped = run(maxDf)
      // 2. every emitted pair carries the exact uncapped value (correction
      // join + star verify are exact, never approximate)
      capped.foreach { case (pair, v) =>
        assert(expected.get(pair).contains(v),
          s"trial $trial maxDf=$maxDf: pair $pair got $v expected ${expected.get(pair)}")
      }
      // 3. cold-completeness: every reference pair sharing >= 1 cold kept
      // term must be enumerated
      val byDoc = docs.toMap
      expected.keys.foreach { case (a, b) =>
        val sharedCold = (byDoc(a).toSet & byDoc(b).toSet)
          .exists(t => df(t) <= maxDf)
        if (sharedCold)
          assert(capped.contains((a, b)),
            s"trial $trial maxDf=$maxDf: cold-shared pair ($a,$b) missing")
      }
      // 4. the capped pair graph preserves the reference graph's components
      // (hot-only clusters survive through the star fallback)
      assert(componentsOf(capped.keys) == componentsOf(expected.keys),
        s"trial $trial maxDf=$maxDf: component structure diverged")
    }
  }

  test("contaminationReport equals the brute-force overlap census on random corpora") {
    val rnd = new Random(20260814L)
    import spark.implicits._
    for (trial <- 1 to 6) {
      val vocab = (1 to (3 + rnd.nextInt(5))).map(i => s"g$i")
      // docs with possibly-duplicated shingles (array_distinct path) and
      // some empty-shingle docs (must not emit — n_hit 0)
      val docs = (1L to (6 + rnd.nextInt(10)).toLong).map { id =>
        id -> Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      }
      val benchIds = docs.map(_._1).filter(_ % 3 == 0).toSet
      val benchGrams = docs.filter(d => benchIds(d._1)).flatMap(_._2).toSet
      val expected = docs.collect {
        case (id, sh) if !benchIds(id) && sh.nonEmpty =>
          val ds = sh.distinct
          val hit = ds.count(benchGrams)
          (id, ds.size.toLong, hit.toLong, 1000L * hit / ds.size)
      }.filter(_._3 > 0).toSet
      val df = docs.toDF("id", "shingles")
      val got = CorpusOps.contaminationReport(df,
          df.where(col("id") % 3 === 0))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == expected, s"trial $trial: got $got expected $expected docs=$docs")
    }
  }

  test("hot-only recall concession is near zero at operating thresholds on Zipfian corpora") {
    // Both df-capped postings joins document the same concession: a non-star
    // pair whose members share ONLY hot terms is not enumerated. This case
    // MEASURES it on Zipfian corpora with planted near-dups. Two rates ride
    // the report:
    //  - the ANY-OVERLAP rate (threshold 0): large on toy proportions by
    //    construction — with df capped at the corpus size, every hot term
    //    still carries weight (wt = 1000·tf div df > 0 needs df <= 1000·tf,
    //    true for ANY df a 150-doc corpus can produce), so noise pairs
    //    sharing one boilerplate term count as "missed". At production
    //    proportions the wt floor zeroes exactly those terms (df > 10⁴ with
    //    tf ~ 1 → wt = 0, dropped from the REFERENCE postings too), which is
    //    why the default absolute cap loses ≈nothing at the scale it guards.
    //  - the OPERATING-THRESHOLD rate (cos_ppm >= 500 000 / jac >= 0.5, the
    //    shipped q126/q31 gates): the pairs a dedup pipeline acts on. A
    //    high-similarity pair shares most of its weight, necessarily
    //    including sub-cap terms — this rate is pinned ≈0.
    val rnd = new Random(20260814L)
    import spark.implicits._
    val anyRates = scala.collection.mutable.ListBuffer[Double]()
    val opRates = scala.collection.mutable.ListBuffer[(String, Double)]()
    for (trial <- 1 to 3) {
      val vocabSize = 300
      // Zipf(s=1.1) sampler over z1..z300
      val weights = (1 to vocabSize).map(i => 1.0 / math.pow(i.toDouble, 1.1))
      val cum = weights.scanLeft(0.0)(_ + _).tail
      val tot = cum.last
      def draw(): String = {
        val x = rnd.nextDouble() * tot
        s"z${cum.indexWhere(_ >= x) + 1}"
      }
      // 100 base docs + 50 near-copies (~10% token mutation) so the
      // thresholded reference is well populated
      val base = (1L to 100L).map(id =>
        id -> Seq.fill(25 + rnd.nextInt(26))(draw()))
      val copies = (101L to 150L).map { id =>
        val src = base(rnd.nextInt(base.size))._2
        id -> src.map(t => if (rnd.nextDouble() < 0.1) draw() else t)
      }
      val docs = base ++ copies
      val nDocs = docs.size
      val df = docs.flatMap { case (id, ts) => ts.distinct.map(t => (t, id)) }
        .groupBy(_._1).map { case (t, v) => (t, v.size.toLong) }
      val maxDf = (nDocs / 5).toLong // hot = the Zipf head (df > 20% of corpus)
      assert(df.values.max > maxDf, s"trial $trial: cap must bind")

      // tf-idf side, full reference with values (maxDfDenom=1: the absolute
      // cap is the only guard under measurement)
      val reference = referenceTfidf(docs, maxDfDenom = 1)
      val toks = docs.flatMap { case (id, ts) => ts.map(t => (id, t)) }
        .toDF("id", "term")
      val cappedAll = Similarity
        .tfidfCosinePairs(toks, maxDfDenom = 1, minCosPpm = 0L, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      anyRates += (reference.keySet -- cappedAll).size.toDouble / reference.size
      val expectedOp = reference.collect {
        case (pair, (_, cos)) if cos >= 500000L => pair }.toSet
      assert(expectedOp.size >= 20,
        s"trial $trial: planted near-dups must populate the thresholded reference")
      val cappedOp = Similarity
        .tfidfCosinePairs(toks, maxDfDenom = 1, minCosPpm = 500000L,
          maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      opRates += (("tfidf", (expectedOp -- cappedOp).size.toDouble / expectedOp.size))

      // jaccard side at the q31 operating threshold (distinct-set semantics)
      val sets = docs.map { case (id, ts) => (id, ts.toSet) }.toMap
      val ids = sets.keys.toSeq.sorted
      val jExpected = (for {
        i <- ids.indices; j <- (i + 1) until ids.size
        a = ids(i); b = ids(j)
        inter = (sets(a) & sets(b)).size
        if inter > 0 && inter.toDouble / (sets(a) | sets(b)).size >= 0.5
      } yield (a, b)).toSet
      assert(jExpected.size >= 20, s"trial $trial: jaccard reference too thin")
      val shingled = docs.map { case (id, ts) => (id, ts.distinct) }
        .toDF("id", "shingles")
      val jCapped = Dedup.allPairsJaccard(shingled, 0.5, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      opRates += (("jaccard", (jExpected -- jCapped).size.toDouble / jExpected.size))
    }
    info(f"any-overlap missed rate (threshold 0, toy proportions — see comment): " +
      anyRates.map(r => f"$r%.3f").mkString(", "))
    info("operating-threshold missed rates: " +
      opRates.map { case (k, r) => f"$k=$r%.5f" }.mkString(", "))
    opRates.foreach { case (kind, r) =>
      assert(r <= 0.01,
        f"$kind missed-pair rate $r%.5f at the operating threshold exceeds " +
          "the 1% bound — the hot-only concession is not negligible")
    }
  }

  /** Brute-force bucketedPairs: per (band, band_key) bucket of distinct ids,
   * every pair a < b when 2 <= size <= maxBucket, else (min, other) stars. */
  private def referenceBucketed(rows: Seq[(Long, Int, Long)],
                                maxBucket: Int): Set[(Long, Long)] =
    rows.groupBy(r => (r._2, r._3)).values.flatMap { bucket =>
      val ids = bucket.map(_._1).distinct.sorted
      if (ids.size > maxBucket) ids.tail.map(ids.head -> _)
      else for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet

  test("bucketedPairs equals the brute-force buckets at the maxBucket boundaries") {
    import spark.implicits._
    val rnd = new Random(20261018L)
    val sizes = scala.collection.mutable.Set[(Int, Int)]() // (maxBucket, size)
    for (trial <- 1 to 10) {
      val maxBucket = 2 + trial % 2
      val (nIds, bands) = (40, 4)
      // one row per (id, band): random keys from a small space make buckets
      // of sizes 1..6; band 0 also plants a bucket of exactly maxBucket and
      // of maxBucket + 1 ids, and band 1 alone a hot bucket
      val keyOf = Array.tabulate(nIds, bands)((_, _) => rnd.nextInt(12).toLong)
      for (i <- 0 until maxBucket) keyOf(i)(0) = 100L
      for (i <- maxBucket until 2 * maxBucket + 1) keyOf(i)(0) = 101L
      for (i <- 0 until maxBucket + 4) keyOf(nIds - 1 - 2 * i)(1) = 200L
      val ids = rnd.shuffle((0 until nIds).map(_ * 7L + 3L))
      val rows = for (i <- 0 until nIds; b <- 0 until bands) yield (ids(i), b, keyOf(i)(b))
      rows.groupBy(r => (r._2, r._3)).values.foreach(g => sizes += ((maxBucket, g.size)))
      val expected = referenceBucketed(rows, maxBucket)
      // the operator takes any key type: minhash bands are arrays, phash bands longs
      val banded =
        if (trial % 3 == 0) rows.map(r => (r._1, r._2, Seq(r._3, r._3 % 5))).toDF("id", "band", "band_key")
        else rows.toDF("id", "band", "band_key")
      val got = Dedup.bucketedPairs(banded, maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.size == got.distinct.size, s"trial $trial: duplicate pairs")
      assert(got.toSet == expected,
        s"trial $trial (maxBucket $maxBucket): missing ${(expected -- got).toSeq.sorted}, " +
          s"extra ${(got.toSet -- expected).toSeq.sorted}")
    }
    // non-vacuity: singletons, both boundaries and hot buckets all occurred
    for (m <- Seq(2, 3); size <- Seq(1, m, m + 1, m + 4))
      assert(sizes.contains((m, size)), s"no bucket of $size ids at maxBucket $m")
  }

  /** Union-find reference for components: every vertex of an edge, labelled
   * with the minimum id of its connected component. */
  private def referenceComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("components equals union-find on random graphs: chains, reversed and duplicate edges") {
    import spark.implicits._
    val rnd = new Random(18102026L)
    for (trial <- 1 to 6) {
      val pool = rnd.shuffle((1L to 200L).toVector)
      // two scrambled chains of diameter 4..7, a clique, disjoint pairs and
      // sparse random edges, each edge possibly reversed and/or repeated
      val chains = Seq(pool.slice(0, 5 + rnd.nextInt(4)), pool.slice(20, 25 + rnd.nextInt(4)))
        .flatMap(_.sliding(2).map(p => (p(0), p(1))))
      val clique = for (a <- pool.slice(40, 45); b <- pool.slice(40, 45) if a < b) yield (a, b)
      val disjoint = pool.slice(50, 60).grouped(2).map(p => (p(0), p(1))).toSeq
      val random = Seq.fill(15)((pool(60 + rnd.nextInt(40)), pool(60 + rnd.nextInt(40))))
        .filter(e => e._1 != e._2)
      val edges = (chains ++ clique ++ disjoint ++ random).flatMap { case (a, b) =>
        val e = if (rnd.nextBoolean()) (b, a) else (a, b)
        if (rnd.nextInt(4) == 0) Seq(e, e, (e._2, e._1)) else Seq(e)
      }
      val got = Dedup.components(rnd.shuffle(edges).toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.size == got.map(_._1).distinct.size, s"trial $trial: a vertex labelled twice")
      assert(got.toMap == referenceComponents(edges), s"trial $trial")
    }
  }

  test("components: a clique converges in one checked round, a chain of diameter d in d") {
    import spark.implicits._
    // seeded labels already hold min(self, neighbours), so a clique (and a
    // star around its minimum) is at its fixpoint after the seed: one
    // checked round confirms it
    val clique = (for (a <- 10L to 14L; b <- 10L to 14L if a != b) yield (a, b)).toDF("a", "b")
    assert(Dedup.components(clique, maxIters = 1).collect()
      .map(r => r.getLong(1)).toSet == Set(10L))
    // a path 1-2-3-4-5 with its minimum at one end (diameter 4): the seed
    // covers distance 1, each round one more, the 4th round changes nothing
    val chain = Seq((5L, 4L), (3L, 4L), (2L, 3L), (1L, 2L)).toDF("a", "b")
    assert(Dedup.components(chain, maxIters = 4).collect()
      .map(r => r.getLong(1)).toSet == Set(1L))
    val e = intercept[IllegalStateException](Dedup.components(chain, maxIters = 3))
    assert(e.getMessage.contains("did not converge in 3 rounds"))
  }
}
