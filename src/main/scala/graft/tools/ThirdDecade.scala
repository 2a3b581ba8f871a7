package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/**
 * Third-decade candidate-generation probe (VERDICT r13 next-round #6): the
 * q90 image-phash near-dup pipeline, parameterized by `blocks`, runnable at
 * ANY corpus scale — the first PREDICTIVE test of the key-bits-per-decade
 * doctrine (`blocks = 8` measured exponent 0.44 at the second decade;
 * doctrine says it degrades at the third while `blocks = 16` holds).
 *
 * Identical shape to q90 (synthesize REAL image payloads for the %3 docs,
 * decode, perceptual-hash, plant a ham ≤ 4 twin for every %15 doc, band via
 * [[Dedup.blockPairBands]], pair via the guarded [[Dedup.bucketedPairs]],
 * verify at the pigeonhole budget), with two scale knobs q90 pins:
 *
 *   - `blocks` 8 → the 64-bit aHash; 16 → the 128-bit aHash+dHash
 *     (`Multimodal.imagePhash128`), verify budget `blocks − 2`;
 *   - the twin offset is 100_000_000 (q90's 999999 collides above sf10) —
 *     same in-plan guard, raised ceiling.
 *
 * Prints ONE JSON line: docs, hashed images, candidate pairs, verified
 * pairs, planted-twin recall (must be 1000‰ — the pigeonhole THEOREM says
 * every ham ≤ budget pair collides; a miss means the banding is broken, so
 * the probe double-checks correctness while it measures), and seconds for
 * the timed candidates+verify phase (hashing is checkpointed untimed, as in
 * q90 where the checkpoint cost is part of the measured query — here the
 * DECADE question is about the banded join, so the phases are reported
 * separately: hash_sec and pair_sec).
 *
 * Banding mode (4th arg, r15; `quads` added r16; `*-collapsed` and
 * `census` added r17): `pairs` (default) bands block PAIRS (C(blocks,2)
 * bands × 16-bit keys, verify budget blocks − 2); `triples` bands block
 * TRIPLES via [[Dedup.blockTripleBands]] (C(blocks,3) bands × 24-bit keys,
 * budget blocks − 3) — the third-decade form; `quads` bands block
 * QUADRUPLES via [[Dedup.blockQuadBands]] (C(blocks,4) bands × 32-bit
 * keys, budget blocks − 4) — the fourth-decade form, measured at sf100 and
 * adjudicated a LOSS (r16: candidates are genuine duplicate cliques, not
 * background collisions).
 *
 * `pairs-collapsed` / `triples-collapsed` / `quads-collapsed` route the
 * same banding through [[Dedup.collapsedBandCandidates]] — the r17
 * STRUCTURAL answer to the clique mass: identical-hash classes collapse to
 * one representative before banding and re-enter as star edges, so a
 * clique of m bit-identical images costs m−1 rows instead of
 * C(m,2)·bands. The recall metric becomes one-hop CONNECTIVITY (twin and
 * its planted source share a verified rep pair or a rep), which the
 * collapse theorem guarantees at the same Hamming budget; the JSON gains
 * the class census (classes, max_class, star edges, rep-level candidates)
 * so the candidate cut is attributable.
 *
 * `census` skips pairing entirely and prints the identical-hash class
 * distribution — the measurement that decides whether clique mass is
 * exact-duplicate (collapse pays) or merely near-identical (it cannot).
 *
 * Usage: runMain graft.tools.ThirdDecade <sfDir> <blocks> [runs]
 *          [pairs|triples|quads|pairs-collapsed|triples-collapsed|quads-collapsed|census]
 */
object ThirdDecade {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val blocks = args(1).toInt
    val runs = if (args.length > 2) args(2).toInt else 2
    val banding = if (args.length > 3) args(3) else "pairs"
    require(blocks == 8 || blocks == 16, s"blocks must be 8 or 16, got $blocks")
    require(Set("pairs", "triples", "quads", "pairs-collapsed",
      "triples-collapsed", "quads-collapsed", "census")(banding),
      s"unknown banding mode $banding")
    val collapsed = banding.endsWith("-collapsed")
    val form = banding.stripSuffix("-collapsed")
    val budget = form match {
      case "quads" => blocks - 4
      case "triples" => blocks - 3
      case _ => blocks - 2
    }
    // ≡ 0 mod 3 so a twin of an image doc synthesizes as an image too (the
    // q90 offset rule — the first r14 runs used 1e8 ≡ 1 mod 3 and planted
    // ZERO image twins, reported as twin_recall_pm = -1), and above every
    // real doc_id through sf100 (5M)
    val offset = 99999999L

    val spark = graft.Sessions.get("graft-third-decade")

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val guardedId = when(col("doc_id") < offset, col("doc_id"))
      .otherwise(raise_error(concat(
        lit(s"twin offset $offset collides with real doc_id "),
        col("doc_id").cast("string"))).cast("long"))
    val corpus = base.select(guardedId.as("doc_id"), col("text"))
      .unionByName(base
        .where(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0 &&
          length(col("text")) > 0)
        .select((col("doc_id") + offset).as("doc_id"),
          concat(lit("Z"), expr("substring(text, 2)")).as("text")))

    def hashes(): DataFrame = {
      val media = graft.multimodal.Multimodal.synthesizeReal(corpus)
      if (blocks == 8)
        graft.multimodal.Multimodal.imagePhash(media)
          .select(col("doc_id"), array(col("phash")).as("hash"))
      else
        graft.multimodal.Multimodal.imagePhash128(media)
          .select(col("doc_id"), col("phash").as("hash"))
    }

    def ham(a: String, b: String): org.apache.spark.sql.Column =
      (0 until blocks / 8).map(i =>
        expr(s"bit_count(element_at($a, ${i + 1}) ^ element_at($b, ${i + 1}))")
          .cast("long")).reduce(_ + _)

    var hashSec = Double.MaxValue
    var pairSec = Double.MaxValue
    var nDocs = 0L; var nHashed = 0L; var nCand = 0L; var nVerified = 0L
    var recallPm = -1L
    var nClasses = -1L; var maxClass = -1L; var intraPairs = -1L
    var hist = ""
    for (_ <- 1 to runs) {
      val t0 = System.nanoTime()
      val ph = hashes().localCheckpoint()
      nHashed = ph.count()
      hashSec = math.min(hashSec, (System.nanoTime() - t0) / 1e9)
      val keyed = ph.select(col("doc_id").as("id"), col("hash"))

      if (banding == "census") {
        // identical-hash class distribution — decides whether the clique
        // mass is exact-duplicate (collapse pays) or near-identical only
        val t1 = System.nanoTime()
        val sizes = keyed.groupBy(col("hash")).agg(count(lit(1)).as("m"))
          .localCheckpoint()
        val agg = sizes.agg(count(lit(1)).as("classes"),
          max(col("m")).as("max_m"),
          sum(expr("m * (m - 1) div 2")).as("intra")).head()
        nClasses = agg.getLong(0); maxClass = agg.getLong(1)
        intraPairs = agg.getLong(2)
        hist = sizes.select(
            when(col("m") === 1, "1").when(col("m") < 10, "2-9")
              .when(col("m") < 100, "10-99").when(col("m") < 1000, "100-999")
              .otherwise("1000+").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .collect().map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
          .sorted.mkString("{", ",", "}")
        pairSec = math.min(pairSec, (System.nanoTime() - t1) / 1e9)
        nDocs = corpus.count()
      } else if (collapsed) {
        // the r17 FUSED path: exact-dup collapse (stars at ham 0) + the
        // canonical-band enumeration with inline Hamming over the distinct-
        // hash reps (Dedup.bandCanonicalPairs — no candidate distinct, no
        // verify joins). "candidates" = canonical rep collisions + stars,
        // the same distinct-collision semantics the raw modes count.
        val t1 = System.nanoTime()
        val order = form match {
          case "quads" => 4; case "triples" => 3; case _ => 2
        }
        val classes = keyed.groupBy(col("hash"))
          .agg(min(col("id")).as("rep")).localCheckpoint()
        nClasses = classes.count()
        val nStars = nHashed - nClasses
        val stars = keyed.join(classes, Seq("hash"))
          .where(col("id") =!= col("rep"))
          .select(least(col("rep"), col("id")).as("a"),
            greatest(col("rep"), col("id")).as("b"), lit(0L).as("ham"))
        val reps = classes.select(col("rep").as("id"), col("hash"))
        val cand = Dedup.bandCanonicalPairs(reps, blocks, order)
          .localCheckpoint()
        nCand = cand.count() + nStars
        intraPairs = nStars
        val verified = cand.where(col("ham") <= budget).unionByName(stars)
          .localCheckpoint()
        nVerified = verified.count()
        pairSec = math.min(pairSec, (System.nanoTime() - t1) / 1e9)

        // recall contract under collapse: one-hop CONNECTIVITY — twin and
        // source share an identical-hash rep, or their two reps form a
        // verified pair (rep distance equals member distance, so the
        // pigeonhole theorem carries to the rep pair)
        val planted = ph.select(col("doc_id").as("a"), col("hash").as("ha"))
          .join(ph.select((col("doc_id") - offset).as("a"),
            col("hash").as("hb")), "a")
          .where(ham("ha", "hb") <= budget)
        val nPlanted = planted.count()
        val repOf = keyed.join(classes, Seq("hash"))
          .select(col("id"), col("rep"))
        val withReps = planted
          .select(col("a"), (col("a") + offset).as("b"))
          .join(repOf.select(col("id").as("a"), col("rep").as("ra")), "a")
          .join(repOf.select(col("id").as("b"), col("rep").as("rb")), "b")
          .localCheckpoint()
        val same = withReps.where(col("ra") === col("rb")).count()
        val cross = withReps.where(col("ra") =!= col("rb"))
          .select(least(col("ra"), col("rb")).as("a"),
            greatest(col("ra"), col("rb")).as("b"))
          .join(verified, Seq("a", "b"), "left_semi").count()
        recallPm = if (nPlanted == 0) -1L else 1000L * (same + cross) / nPlanted
        nDocs = corpus.count()
      } else {
        val t1 = System.nanoTime()
        val bandFn: DataFrame => DataFrame = form match {
          case "quads" => Dedup.blockQuadBands(_, blocks)
          case "triples" => Dedup.blockTripleBands(_, blocks)
          case _ => Dedup.blockPairBands(_, blocks)
        }
        val pairs = Dedup.bucketedPairs(bandFn(keyed)).localCheckpoint()
        nCand = pairs.count()
        val verified = pairs
          .join(ph.select(col("doc_id").as("a"), col("hash").as("ha")), "a")
          .join(ph.select(col("doc_id").as("b"), col("hash").as("hb")), "b")
          .where(ham("ha", "hb") <= budget)
          .localCheckpoint()
        nVerified = verified.count()
        pairSec = math.min(pairSec, (System.nanoTime() - t1) / 1e9)

        // pigeonhole recall over the planted twins: every (id, id+offset)
        // twin within the budget must be among the verified pairs
        val planted = ph.select(col("doc_id").as("a"), col("hash").as("ha"))
          .join(ph.select((col("doc_id") - offset).as("a"),
            col("hash").as("hb")), "a")
          .where(ham("ha", "hb") <= budget)
        val nPlanted = planted.count()
        val nFound = planted.select(col("a"), (col("a") + offset).as("b"))
          .join(verified, Seq("a", "b"), "left_semi").count()
        recallPm = if (nPlanted == 0) -1L else 1000L * nFound / nPlanted
        nDocs = corpus.count()
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    val extra =
      if (banding == "census")
        s""","classes":$nClasses,"max_class":$maxClass,""" +
          s""""intra_class_pairs":$intraPairs,"class_hist":$hist"""
      else if (collapsed)
        s""","classes":$nClasses,"star_edges":$intraPairs,""" +
          s""""rep_candidates":${nCand - intraPairs}"""
      else ""
    println(s"""{"tool":"third_decade","sf":"$sfDir","blocks":$blocks,""" +
      s""""banding":"$banding","budget":$budget,""" +
      s""""docs":$nDocs,"hashed":$nHashed,"candidates":$nCand,""" +
      s""""verified":$nVerified,"twin_recall_pm":$recallPm,""" +
      s""""hash_sec":$hashSec,"pair_sec":$pairSec,"runs":$runs$extra}""")
    spark.stop()
  }
}
