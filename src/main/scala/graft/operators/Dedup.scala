package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/**
 * Corpus deduplication operators for the training-data pipeline.
 *
 * Scale posture (the 100 TB path): every method here is expressed as
 * hash-partitioned aggregation / bucket joins — NO all-pairs cross join ever
 * touches the full corpus. Exact dedup is a single `groupBy(md5)`; MinHash-LSH
 * reduces near-dup detection to an equi-join on (band, band-signature) buckets,
 * so the only quadratic work is within a bucket (expected O(1) per bucket);
 * SimHash reduces it to a 62-bit signature comparison. The brute-force
 * all-pairs verifier exists only for *candidate* pairs and for small
 * oracle-checked subsets.
 */
object Dedup {

  /**
   * Exact deduplication by content hash: one row per distinct text, keeping the
   * smallest id — the canonical `groupBy(hash)` formulation: a single shuffle
   * on the 128-bit digest, map-side partial aggregation, no data skew (md5 is
   * uniform).
   */
  def exact(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(textCol).as("content_md5"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("group_size"))

  /** (id, band, band_key) for every doc with features: the MinHash signature
   * cut into `bands` row-groups — the shared front half of the symmetric and
   * incremental LSH paths. `private[graft]` for the streaming twin
   * ([[graft.streaming.StreamingExtraction.streamingNearDupCandidates]]),
   * which bands micro-batches with this IDENTICAL pipeline so streamed
   * buckets collide exactly where batch buckets do; the whole transform is
   * narrow (no shuffle, no checkpoint) — safe under Structured Streaming. */
  private[graft] def bandedKeys(docs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // Operator boundary: a doc with no features has no signature (the
    // kernel returns null) — drop it here so empty docs never collide into
    // one bucket.
    val nonEmpty = docs.where(size(col("shingles")) > 0)
    // the codegen'd graft.plans.MinHashSignatureExpr; a session without
    // GraftExtensions fails at analysis naming `minhash_signature`
    val sigs = nonEmpty.select(col("id"), expr(s"minhash_signature(shingles, $k)").as("sig"))
    sigs.select(
      col("id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        j => slice(col("sig"), j * r + 1, lit(r)))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
  }

  /**
   * MinHash-LSH candidate pairs: signature → `bands` bands of `k/bands` rows →
   * equi-join on (band index, band slice). Input must have columns `id`
   * (one row per id: the [[bucketedPairs]] contract) and `shingles` (distinct
   * feature array). Output: distinct (a, b) with a < b.
   *
   * The band bucket join is the scale path: corpus-size shuffle on the band
   * key, pair enumeration only inside buckets.
   */
  def minhashCandidates(docs: DataFrame, k: Int, bands: Int,
                        maxBucket: Int = 10000): DataFrame =
    // Materialize the band table ONCE: bucketedPairs reads it three ways
    // (size census, small-bucket enumeration, hot-star fallback), and
    // column-pruning differences defeat exchange reuse — without this the
    // minhash of the whole corpus computes once per branch (measured 4×
    // at sf0.1).
    // CALLER CONTRACT (the localCheckpoint trade): construction is EAGER —
    // a Spark job runs before this returns (plan-only/explain callers pay
    // it too), and the band-table blocks stay pinned in the block manager
    // until the caller clears them (Bench and Verify run `Bench.freeCaches`
    // between queries). Long-lived sessions should instead persist the band
    // table once with [[writeBandIndex]] and probe it via
    // [[incrementalCandidatesFromIndex]] — the artifact path with no
    // in-session block footprint and no recompute-on-executor-loss caveat.
    bucketedPairs(bandedKeys(docs, k, bands).localCheckpoint(), maxBucket)

  /**
   * Guarded pair enumeration over ANY banded bucket table `(id, band,
   * band_key)` — the shared back half of every bucketed candidate generator
   * (MinHash bands here, phash bands in q90). Hot-bucket guard: a degenerate
   * bucket (mass-duplicated boilerplate, an all-dark image band) would go
   * quadratic on one reducer under pairsOf. Above `maxBucket`, emit only star
   * pairs (every id against the bucket minimum) — O(bucket) work that
   * preserves the connected component a dedup pass needs, while normal
   * buckets keep the exact all-pairs enumeration. Bounded-candidate behavior
   * on a planted mega-bucket is pinned in ScaleOpsSpec.
   *
   * CONTRACT: `banded` has at most one row per `(id, band)`, so a bucket's
   * row count is its size. Every caller bands a table with one row per id
   * through a generator that emits each band index once per row
   * ([[bandedKeys]]' posexplode, the block-pair/triple/quad bands, the
   * simhash chunks, the hyperplane words). A duplicated row would only
   * overstate `n`: a bucket near the cap could take the star shape early.
   *
   * Plan: ONE `(band, band_key) → (n, rep)` census — a map-side-combinable
   * count/min, so a mega-bucket never materializes as one in-memory array
   * just to be sliced back down — joined back to the banded rows once, and
   * ONE grouping of that joined frame emits both shapes. A small bucket
   * (2..maxBucket) is one group: its sorted ids enumerate all pairs. A hot
   * bucket groups by `star` = the member id, one row per group, which
   * emits the star pair (rep, id); its rows spread over the reducers by id
   * and never collect into one array.
   */
  def bucketedPairs(banded: DataFrame, maxBucket: Int = 10000): DataFrame = {
    val census = banded.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("rep"))
      .where(col("n") >= 2)
    val hot = col("n") > maxBucket
    banded.join(census, Seq("band", "band_key"))
      .where(!hot || col("id") =!= col("rep"))
      .groupBy(col("band"), col("band_key"), col("rep"),
        when(hot, col("id")).as("star"))
      .agg(array_sort(collect_set(col("id"))).as("ids"))
      .select(explode(when(col("star").isNull, pairsOf(col("ids")))
        .otherwise(array(struct(col("rep").as("a"), col("star").as("b"))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /**
   * Block band keys for a 64-bit bit-sampled hash (the phash/simhash
   * family), feeding [[bucketedPairs]]. The hash splits into 8 blocks of
   * 8 bits, little-endian (block b is bits [8b, 8b + 8)), and each band
   * keys one unordered block `order`-subset i < j (< k): `band` is the
   * block indices as base-8 digits (i·8 + j, or (i·8 + j)·8 + k) and
   * `band_key` is their bytes concatenated (256·block_i + block_j, or
   * 65536·block_i + 256·block_j + block_k). Input `(id, hash: bigint)`;
   * output `(id, band, band_key)` plus the `carry` columns, one row per
   * band.
   *
   * RECALL THEOREM (the pigeonhole argument, property-proven in
   * BlockPairBandsSpec): a pair within Hamming distance `8 − order`
   * damages at most `8 − order` blocks, leaving ≥ `order` blocks clean —
   * and those clean blocks are an identical `band_key` in an identical
   * `band`, so every true pair collides in some bucket. Budgets: ham ≤ 6
   * for pairs, ham ≤ 5 for triples.
   *
   * KEY-SPACE DOCTRINE (measured by the ScaleUp sweeps — q90 r11 at
   * sf1.0, its 256-key successor at sf10): a fixed key space fills
   * linearly while in-bucket pairs grow quadratically, so each corpus
   * decade needs more key bits PER BAND. Pairs give C(8,2) = 28 bands ×
   * 2^16 keys (q90, q169; measured exponent 0.44 at sf10). Triples give
   * C(8,3) = 56 bands × 2^24 keys, ~256× fewer background collisions per
   * band for one Hamming unit of recall; collapsed triples ran sf100 in
   * 81.4 s (PLANS.md Round-17 §7). No other setting has a regime where
   * it wins, so none is offered: 16 blocks over a 128-bit hash multiply
   * bands without widening any key and were worse at every scale (111.5M
   * candidates against 10.4M at sf10, PLANS.md Round-14), and block
   * quadruples lost to triples at sf100 (476 s against 347 s, PLANS.md
   * Round-16 §6).
   */
  def blockBands(hashes: DataFrame, order: Int,
                 carry: Seq[String] = Nil): DataFrame = {
    requireOrder("blockBands", order)
    val vs = Seq("i", "j", "k").take(order)
    def digits(base: Int)(term: String => String): String =
      vs.zipWithIndex.map { case (v, t) =>
        s"${term(v)} * ${math.pow(base, order - 1 - t).toInt}"
      }.mkString(" + ")
    // i < j (< k) over 0..7: the innermost loop builds the band structs,
    // each outer loop flattens one level
    val gen = vs.indices.foldRight(
      s"struct(${digits(8)(v => v)} AS band, " +
        s"${digits(256)(v => s"(shiftright(hash, $v * 8) & 255)")} AS band_key)") {
      (t, inner) =>
        val lo = if (t == 0) "0" else s"${vs(t - 1)} + 1"
        val loop = s"transform(sequence($lo, ${8 - order + t}), ${vs(t)} -> $inner)"
        if (t == order - 1) loop else s"flatten($loop)"
    }
    hashes.select(Seq(col("id"), explode(expr(gen)).as("bb")) ++ carry.map(col): _*)
      .select(Seq(col("id"), col("bb.band").as("band"),
        col("bb.band_key").as("band_key")) ++ carry.map(col): _*)
  }

  private def requireOrder(op: String, order: Int): Unit =
    require(order == 2 || order == 3,
      s"$op: order must be 2 (block pairs) or 3 (block triples), got $order")

  /**
   * Clique-collapsed banded candidates — identical full hashes collapse to
   * ONE representative BEFORE banding (VERDICT r16 #3 / PLANS r16 §6: the
   * sf100 measurement showed candidate volume is genuine duplicate CLIQUES
   * that collide under ANY banding — key-widening is exhausted; quads cut
   * candidates only 1.9× over triples and lost on wall time). An
   * exact-duplicate class of m members contributes m−1 STAR edges
   * (member ↔ class-min rep) — O(class), never C(m,2)·bands enumerations —
   * and only DISTINCT hashes band at all, so both the band table and every
   * bucket shrink from corpus-sized to distinct-hash-sized.
   *
   * The output contract is CONNECTIVITY, not exhaustive pair enumeration
   * (the dedup-clustering contract shared with [[bucketedPairs]]'s
   * maxBucket star fallback and the simhash clique guard): for any true
   * pair (x, y) within the banding's Hamming budget,
   * `ham(rep_x, rep_y) = ham(x, y)` because members are BIT-IDENTICAL to
   * their reps, so the rep pair collides in some band by the same
   * pigeonhole theorem and the path x–rep_x–rep_y–y connects. One-hop
   * check, no transitive closure needed: (x, y) is connected iff
   * `rep_x == rep_y` (same class: both star to one rep) or
   * `(rep_x, rep_y)` is an emitted candidate. BlockPairBandsSpec and
   * BandCanonicalSpec pin the contract; the sf100 measurement is recorded
   * in PLANS.md, Round-17 §3 and §7.
   *
   * Reps band through [[blockBands]] at `order`. Returns (a, b) with
   * a < b: star edges ∪ rep-level banded pairs, distinct. The class table
   * materializes once (localCheckpoint — the [[minhashCandidates]] trade):
   * the star join and the rep banding both read it, and construction is
   * EAGER.
   */
  def collapsedBandCandidates(hashes: DataFrame, order: Int,
                              maxBucket: Int = 10000): DataFrame = {
    val classes = hashes.groupBy(col("hash")).agg(min(col("id")).as("rep"))
      .localCheckpoint()
    val stars = hashes.join(classes, Seq("hash"))
      .where(col("id") =!= col("rep"))
      .select(least(col("rep"), col("id")).as("a"),
        greatest(col("rep"), col("id")).as("b"))
    val reps = classes.select(col("rep").as("id"), col("hash"))
    bucketedPairs(blockBands(reps, order), maxBucket)
      .unionByName(stars).distinct()
  }

  /**
   * Banded colliding pairs with CANONICAL-BAND emission and INLINE Hamming —
   * the fused third-decade enumeration (r17). Pair-set-identical to
   * `bucketedPairs(blockBands(hashes, order))` annotated with each pair's
   * Hamming distance (BandCanonicalSpec), but the PLAN removes the two
   * scale-killers the r16 sf100 measurement exposed:
   *
   *   - **no candidate-level `distinct`**: a within-budget pair collides in
   *     MANY bands (a ham-2 pair shares C(6,3) = 20 clean triples), so the
   *     composite path shuffles billions of pre-distinct rows to keep 208M.
   *     Here a bucket emits a pair ONLY in its canonical band — the
   *     lexicographically first `order`-subset of the pair's clean blocks,
   *     computable locally from `ha XOR hb` — so every colliding pair is
   *     emitted exactly once with zero dedup shuffle;
   *   - **no verify joins**: hashes ride the bucket rows, so the Hamming
   *     distance is a per-row expression at emission instead of two
   *     candidates×corpus hash joins.
   *
   * Hot buckets (> maxBucket) degrade to the same star shape as
   * [[bucketedPairs]] (member vs bucket-min, O(bucket)), with the star's
   * ham computed inline from the rep hash the size census already carries;
   * only the final union dedups (hot stars can duplicate small-bucket
   * emissions and each other) — a shuffle of the OUTPUT, not of the
   * enumeration. Returns (a, b, ham), a < b, one row per pair sharing at
   * least one band bucket. Callers keep pairs at their pigeonhole budget
   * (`ham <= 8 - order` guarantees presence; larger ham values are
   * background collisions to filter).
   */
  def bandCanonicalPairs(hashes: DataFrame, order: Int,
                         maxBucket: Int = 10000): DataFrame = {
    val banded = blockBands(hashes, order, carry = Seq("hash"))
    val sizes = banded.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n"), min(struct(col("id"), col("hash"))).as("rep"))
      .localCheckpoint()

    // pair enumeration: (a, b, hash xor, `extra` of a) for i < j over the
    // id-sorted bucket members, kept where `test` holds — plain longs
    // only; the lambda is interpreted (HOFs are CodegenFallback) but does
    // nothing beyond field copies, and EVERYTHING per-pair downstream is
    // codegen'd integer arithmetic
    def emitted(rows: DataFrame, extra: Seq[String], test: Column): DataFrame = {
      val fields = extra.map(e => s", x.$e AS $e").mkString
      rows.groupBy(col("band"), col("band_key"))
        .agg(array_sort(collect_list(
          struct((Seq("id", "hash") ++ extra).map(col): _*))).as("m"))
        .select(col("band"), explode(expr(
          s"""flatten(transform(m, (x, i) ->
               transform(slice(m, i + 2, size(m)), y ->
                 struct(x.id AS a, y.id AS b, x.hash ^ y.hash AS xh$fields))))""")).as("p"))
        .select(col("band"), col("p.*"))
        .withColumn("_cm", cleanMask)
        .where(test)
        .select(col("a"), col("b"), expr("bit_count(xh)").cast("long").as("ham"))
    }

    // a BINDING bucket cap must be loud, not silent (ADVICE r17): pairs
    // whose every colliding band is hot degrade to star connectivity, so
    // the exactness claims of [[collapsedVerifiedPairs]]/q169 hold only
    // while this census stays empty — WARN through the shared audit
    // listener whenever it doesn't (the loudWhenCapBinds discipline).
    // The hot keys are collected once, and that read of the CHECKPOINTED
    // census is the one observed: a `limit` probe would report a partial
    // count, and an observation left inside the pair plan is lost when
    // adaptive execution prunes an empty small path. In the common no-hot
    // case the hotmap aggregation and the second banding below would scan
    // the full band table for nothing — enumerate straight off the first
    // banding with the maskTest-only canonical filter instead.
    val census = Audits.observeLoudly(
      sizes.where(col("n") > maxBucket), "graft.dedup.hot_buckets",
      Seq(count(lit(1)).as("n_hot"), max(col("n")).as("max_bucket_seen"),
        lit(maxBucket.toLong).as("max_bucket_cap")),
      "graft.operators.Dedup",
      shouldWarn = _.getLong(0) > 0,
      render = row =>
        s"hot-bucket cap bound: ${row.getLong(0)} band bucket(s) above " +
          s"maxBucket=${row.getLong(2)} (max size ${row.getLong(1)}) " +
          "degraded to star connectivity - a pair whose every colliding " +
          "band is hot is represented by its bucket star, not an exact pair")
      .select(col("band"), col("band_key"))
    val hotRows = census.collect()
    if (hotRows.isEmpty) return emitted(banded, Nil, canonicalMaskTest(order))
    val hotKeys = hashes.sparkSession.createDataFrame(hotRows.toSeq.asJava, census.schema)

    // Per-id HOT-BAND sets, so canonicality can skip hot buckets: a pair
    // whose first clean band lands in a hot bucket is enumerated by its
    // first NON-hot clean band instead (for a clean band both members
    // share the bucket, so a's hotness is the pair's hotness) — without
    // this the pair would silently vanish from the small path while the
    // composite `bucketedPairs` emits it from the small bucket. Hot
    // buckets are few (≤ rows/maxBucket), so the key set broadcasts; ids
    // never touching a hot bucket carry an empty array via the left join.
    val hotmap = banded
      .join(broadcast(hotKeys), Seq("band", "band_key"), "left_semi")
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("band"))).as("hotbands"))
    val members = hashes.select(col("id"), col("hash"))
      .join(hotmap, Seq("id"), "left")
      .select(col("id"), col("hash"),
        coalesce(col("hotbands"), array().cast("array<int>")).as("hotbands"))
    // re-band with the hot sets carried; a row whose own bucket is hot
    // (band ∈ hotbands(id)) leaves the small path right here — no second
    // size join
    val banded2 = blockBands(members, order, carry = Seq("hash", "hotbands"))
      .where(!array_contains(col("hotbands"), col("band")))

    // general test for the RARE hot-carrying pairs: this band is the first
    // clean band (in band order, which is lexicographic block order) not in
    // a's hot set, found by one filter over the constant (band, block mask)
    // list — a higher-order function, interpreted, but only evaluated on
    // rows whose hot set is non-empty (the when() below branches lazily)
    val bandMasks = typedLit((0 until 8).combinations(order).toSeq
      .map(bs => (bs.foldLeft(0)(_ * 8 + _), bs.map(1 << _).sum)).sortBy(_._1))
    val hotAwareTest = col("band") === element_at(filter(bandMasks, t =>
      col("_cm").bitwiseAND(t("_2")) === t("_2") &&
        !array_contains(col("hotbands"), t("_1"))), 1)("_1")
    val hot = banded
      .join(sizes.where(col("n") > maxBucket)
        .select(col("band"), col("band_key"), col("rep")),
        Seq("band", "band_key"))
      .where(col("id") =!= col("rep.id"))
      .select(col("rep.id").as("a"), col("id").as("b"),
        expr("bit_count(hash ^ rep.hash)").cast("long").as("ham"))
    // canonical emission is already duplicate-free; the closing distinct
    // exists ONLY to merge the hot-star channel (stars repeat across hot
    // bands, and a star pair can also be a small-bucket emission). The
    // no-hot case — one cheap probe of the checkpointed census, taken
    // above BEFORE any hot machinery is built (ADVICE r17) — skipped the
    // hotmap scan, the re-banding AND this output-sized dedup shuffle.
    emitted(banded2, Seq("hotbands"),
      when(size(col("hotbands")) === 0, canonicalMaskTest(order))
        .otherwise(hotAwareTest))
      .unionByName(hot).distinct()
  }

  /** Clean-block bitmask of the per-pair XOR column `xh`: bit b set iff
   * byte b is zero — a flat 8-term codegen'd sum, no arrays. */
  private def cleanMask: Column =
    (0 until 8)
      .map(b => when(shiftright(col("xh"), b * 8).bitwiseAND(255) === 0, lit(1 << b))
        .otherwise(lit(0)))
      .reduce(_ + _)

  /** Canonical-without-hotness test over `_cm` and the `band` column: this
   * band's blocks are the `order` SMALLEST clean blocks ⟺ no clean block
   * below the band's last block other than the band's own:
   * cleanMask ∧ (bits below last − own) = 0. (The band's own blocks are
   * clean by bucket membership, so the subtraction removes exactly those
   * distinct bits.) Band block indices decode with integer div/mod. */
  private def canonicalMaskTest(order: Int): Column = {
    def idxExpr(t: Int): String =
      s"cast((band div ${1 << (3 * (order - 1 - t))}) % 8 as int)"
    val ownLow = (0 until order - 1)
      .map(t => s"shiftleft(1, ${idxExpr(t)})").mkString(" + ")
    expr(s"(_cm & ((shiftleft(1, ${idxExpr(order - 1)}) - 1) - ($ownLow))) = 0")
  }

  /**
   * [[collapsedBandCandidates]] FUSED end to end: identical-hash classes
   * collapse to reps (star edges at ham 0), reps enumerate through
   * [[bandCanonicalPairs]], and the budget filter keeps the verified
   * pairs — (a, b, ham) with every true pair within `budget` present
   * (pigeonhole over reps + the collapse theorem) and nothing else. The
   * theorem covers `budget ≤ 8 − order` only (a pair at ham 7 can damage
   * 7 blocks and collide in no pair band), so a larger budget fails by
   * name instead of silently missing pairs. The exactness also needs the
   * `maxBucket` cap not to bind (ADVICE r17): a distinct-hash bucket
   * above the cap degrades its pairs to star connectivity, so a true pair
   * whose EVERY colliding band is hot would drop from the exact-pair set.
   * A binding cap WARNs through the shared hot-bucket audit in
   * [[bandCanonicalPairs]]; q169's oracle equality is claimed only on
   * corpora whose census stays under the cap (true at every oracle scale
   * by construction, and verified loud at sf100 — max distinct-hash class
   * 668 ≪ 10000). The q169 query semantics in one operator, with zero
   * candidate distinct and zero verify joins.
   */
  def collapsedVerifiedPairs(hashes: DataFrame, order: Int,
                             budget: Int, maxBucket: Int = 10000): DataFrame = {
    requireOrder("collapsedVerifiedPairs", order)
    require(budget >= 0 && budget <= 8 - order,
      s"collapsedVerifiedPairs: budget must be in [0, ${8 - order}] at order " +
        s"$order (the pigeonhole recall bound), got $budget")
    val classes = hashes.groupBy(col("hash")).agg(min(col("id")).as("rep"))
      .localCheckpoint()
    val stars = hashes.join(classes, Seq("hash"))
      .where(col("id") =!= col("rep"))
      .select(least(col("rep"), col("id")).as("a"),
        greatest(col("rep"), col("id")).as("b"), lit(0L).as("ham"))
    val reps = classes.select(col("rep").as("id"), col("hash"))
    bandCanonicalPairs(reps, order, maxBucket)
      .where(col("ham") <= budget)
      .unionByName(stars)
  }

  /**
   * INCREMENTAL near-dup candidates: pair each NEW doc against the EXISTING
   * corpus only — the daily-crawl posture. Both sides band identically, then
   * ONE equi-join on (band, band_key) with the new side as the (small) probe:
   * existing×existing pairs never materialize, so re-checking a 0.1% daily
   * increment against a 100 TB corpus costs the increment's bands joined to
   * the (pre-computable, bucketable) corpus band table — not a corpus-wide
   * re-pairing. Candidate recall is the same per-band collision bound as
   * [[minhashCandidates]]; verify with [[verifyJaccard]] over the union.
   * Returns (a, b) = (new id, existing id), distinct.
   *
   * Hot-bucket guard: a degenerate band value (boilerplate-heavy corpora)
   * makes the new×existing join quadratic in the bucket's size. Existing-side
   * buckets above `maxBucket` collapse to ONE deterministic representative
   * (the minimum id) via a map-side-combinable count/min aggregate — no
   * window sort ever lands the mega-bucket on one reducer — so a new doc
   * still learns "this bucket collides" at O(1) join cost per hot bucket,
   * mirroring [[bucketedPairs]]'s star fallback. Buckets at or under the cap
   * keep the exact full join.
   *
   * The corpus band table is materialized once (localCheckpoint) before the
   * size aggregate and the join both read it — otherwise the minhash of the
   * ENTIRE existing corpus recomputes for each branch (42 s against 19.3 s
   * at 1M docs, PLANS.md "Training-ops scale smoke"). In production this
   * table is the persisted, bucketed artifact the docstring above assumes;
   * here the checkpoint is its in-session stand-in.
   */
  def incrementalCandidates(newDocs: DataFrame, oldDocs: DataFrame,
                            k: Int, bands: Int,
                            maxBucket: Int = 10000): DataFrame = {
    val nb = bandedKeys(newDocs, k, bands)
      .select(col("id").as("a"), col("band"), col("band_key"))
    val obAll = bandedKeys(oldDocs, k, bands)
      .select(col("id").as("b"), col("band"), col("band_key"))
      .localCheckpoint()
    val sizes = obAll.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n"), min(col("b")).as("rep"))
    val obSmall = obAll.join(
      sizes.where(col("n") <= maxBucket).select(col("band"), col("band_key")),
      Seq("band", "band_key"))
    val obHot = sizes.where(col("n") > maxBucket)
      .select(col("band"), col("band_key"), col("rep").as("b"))
    nb.join(obSmall.unionByName(obHot), Seq("band", "band_key"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /**
   * PERSISTED LSH band index — the on-disk artifact the in-session
   * localCheckpoints above stand in for: the corpus band table `(b, band,
   * band_key)` written BUCKETED by the band join key through
   * [[CorpusOps.writeBucketed]] (both columns — co-partitioned joins skip
   * the shuffle only when the bucket columns cover every join key). Pay the
   * banding + one bucket shuffle ONCE at index time; every later
   * daily-crawl probe ([[incrementalCandidatesFromIndex]]) reads co-located
   * buckets and plans ZERO exchanges on the corpus side — and unlike a
   * checkpoint, the artifact survives the session and recomputes nothing on
   * executor loss (parquet + lineage-free scan), which is the real cluster
   * answer to localCheckpoint's fault-tolerance caveat.
   */
  def writeBandIndex(docs: DataFrame, table: String, k: Int, bands: Int,
                     numBuckets: Int = 32): Unit =
    CorpusOps.writeBucketed(
      bandedKeys(docs, k, bands)
        .select(col("id").as("b"), col("band"), col("band_key")),
      table, Seq("band", "band_key"), numBuckets)

  /**
   * [[incrementalCandidates]] served from a persisted [[writeBandIndex]]
   * table instead of re-banding the corpus: identical candidate semantics,
   * same hot-bucket star collapse. Plan shape: the census aggregate and the
   * size join are bucket-local (grouping/join keys equal the bucket
   * columns — no Exchange above the index scan anywhere); only the small
   * new-crawl side shuffles to the bucket layout. Proven no-shuffle +
   * value-identical to the in-session path in PersistedIndexSpec.
   */
  def incrementalCandidatesFromIndex(newDocs: DataFrame, table: String,
                                     k: Int, bands: Int,
                                     maxBucket: Int = 10000): DataFrame = {
    val ob = newDocs.sparkSession.table(table)
    val keys = Seq("band", "band_key")
    val nb = bandedKeys(newDocs, k, bands)
      .select(col("id").as("a"), col("band"), col("band_key"))
    val sizes = ob.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), min(col("b")).as("rep"))
    val obSmall = ob.join(
      sizes.where(col("n") <= maxBucket).select(keys.map(col): _*), keys)
    val obHot = sizes.where(col("n") > maxBucket)
      .select(col("band"), col("band_key"), col("rep").as("b"))
    // join each corpus slice separately — a union first would discard the
    // bucket partitioning and force both sides through an exchange
    nb.join(obSmall, keys).select(col("a"), col("b"))
      .unionByName(nb.join(obHot, keys).select(col("a"), col("b")))
      .distinct()
  }

  /**
   * INCREMENTAL component maintenance — fold a day's VERIFIED new pairs into
   * an existing `(id, component)` labeling without re-clustering the
   * historical corpus: each existing cluster collapses to its star edges
   * (member → label — connectivity-preserving, and the label IS the
   * cluster's old minimum), the delta pairs union in, and
   * [[componentsStar]] re-converges over |previously labeled docs| +
   * |delta pairs| edges. Days-deep history never re-pairs and never
   * re-verifies; a delta edge that bridges two old clusters merges them,
   * and a new id smaller than an old cluster's minimum correctly takes over
   * its label (the full min-reachable contract, not label reuse).
   *
   * EXACTNESS: the output equals the full recompute
   * `componentsStar(oldPairs ∪ newPairs)` — star edges have the same
   * transitive closure as the old pair set (q139 gates the whole
   * incremental pipeline against the quadratic oracle; the planted merge /
   * takeover cases are pinned in PairGraphIndexSpec). The existing labeling
   * is exactly what [[writePairGraphIndex]] persists, so the daily cycle is:
   * read components table → verify the increment's candidates
   * ([[incrementalCandidatesFromIndex]] + the increment's internal pairs) →
   * mergeComponents → rewrite both artifacts.
   */
  def mergeComponents(components: DataFrame, newPairs: DataFrame): DataFrame = {
    val starEdges = components
      .where(col("id") =!= col("component"))
      .select(col("id").as("a"), col("component").as("b"))
    componentsStar(starEdges.unionByName(newPairs.select(col("a"), col("b"))))
  }

  /**
   * PERSISTED near-dup PAIR-GRAPH artifact — the serving layer for every
   * graph-downstream report: the VERIFIED pair set `(a, b)` and its
   * connected components `(id, component)` written ONCE as bucketed tables.
   * Several curation reports (cluster rollups, leakage-safe splits,
   * dedup-impact, triangle density, survivor keep-lists) consume the same
   * verified graph; deriving it in-session means each re-runs LSH →
   * exact-verify → components. Pay that pipeline ONCE at index time; every
   * report then starts from a lineage-free parquet scan — no checkpoint
   * blocks pinned for the session (immune to the blanket unpersist sweep
   * that breaks checkpoint-backed views), nothing recomputed on executor
   * loss, and the components table (bucketed by id, dwarfed by the corpus
   * since only docs WITH a near-dup appear) broadcasts or co-located-joins
   * against the corpus with zero corpus-side exchange. Components use
   * [[componentsStar]] (O(log n) rounds on any topology). Serve with
   * `spark.table(componentsTable)` →
   * [[CorpusOps.leakageSafeSplitFromComponents]], and
   * `spark.table(pairsTable)` → [[Graph.triangles]] with
   * `materialize = false` (the artifact scan re-reads for free — checkpoint
   * jobs would buy nothing). Artifact ≡ in-session proven in
   * PairGraphIndexSpec.
   */
  def writePairGraphIndex(pairs: DataFrame, pairsTable: String,
                          componentsTable: String, numBuckets: Int = 32): Unit = {
    // materialize once: the pair write and the components derivation both
    // consume the (expensive: LSH + exact-verify) upstream pair pipeline.
    // Both tables are ONE artifact (new pairs + stale labels would serve an
    // inconsistent graph): stage both — the long writes — then swap together.
    val (p, pIds) = trackedCheckpoint(pairs.select(col("a"), col("b")))
    CorpusOps.writeBucketedStaged(p, pairsTable, Seq("a"), numBuckets)
    CorpusOps.writeBucketedStaged(componentsStar(p), componentsTable,
      Seq("id"), numBuckets)
    CorpusOps.swapStaged(p.sparkSession, pairsTable)
    CorpusOps.swapStaged(p.sparkSession, componentsTable)
    freeBlocks(p, pIds)
  }

  /** All ordered pairs (a < b) from a sorted id array. */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y => struct(x.as("a"), y.as("b")))))

  /**
   * Verify candidate pairs with exact shingle-set Jaccard: join each side back
   * to its feature array (two hash joins on id — broadcastable when the
   * candidate set is small, which LSH guarantees for sane thresholds) and keep
   * pairs at or above `threshold`.
   */
  def verifyJaccard(candidates: DataFrame, docs: DataFrame, threshold: Double): DataFrame = {
    val da = docs.select(col("id").as("a"), col("shingles").as("sh_a"))
    val db = docs.select(col("id").as("b"), col("shingles").as("sh_b"))
    candidates
      .join(da, "a")
      .join(db, "b")
      .select(col("a"), col("b"),
        round(TextFunctions.jaccard(col("sh_a"), col("sh_b")), 4).as("jac"))
      .where(col("jac") >= threshold)
  }

  /**
   * [[verifyJaccard]] behind the r18 RECALL-SAFE hash gate — the two-stage
   * verify for LSH-candidate callers (r19, guide §1.2 per-task work +
   * §2.3 lightweight proxies). The q116 phase profile measured the exact
   * string-array verify at 23–26 µs/candidate with a 1.9% pass rate at
   * θ=0.8 (sf10: 31.3 s over 1.34M candidates → 25,600 survivors), so 98%
   * of the work scored pairs that were about to be dropped. Stage (i) gates
   * EVERY candidate with `intersect_count_sorted` over the docs' sorted
   * xxhash64 arrays (~50 ns/row, whole-stage codegen, attached map-side via
   * [[chunkedGate]] — one broadcast while the corpus census fits the
   * budget, broadcast-sized slices above it, the candidate stream never
   * shuffled with arrays attached); stage (ii) is the unchanged exact [[verifyJaccard]]
   * over the survivors only. Values are IDENTICAL: the hashed intersection
   * can only OVERCOUNT (Σ_v min(mult) ≥ |common|, and c ↦ c/(sa+sb−c) is
   * monotone), so the gate passes a superset of qualifying pairs and the
   * exact stage decides — collision flukes die there (the r18
   * pigeonhole argument, pinned in GatedVerifySpec).
   *
   * Each side is broadcast once per slice, not once per role: the a- and
   * b-role broadcasts of one slice (and the exact stage's two docs sides)
   * differ only in column aliases, which plan canonicalization erases, so
   * AQE runs one broadcast and reuses it for the other role (pinned in
   * GatedVerifySpec). At K > 1 the hashed side is checkpointed once, as in
   * [[pigeonholeJaccard]], so the K slice broadcasts do not each re-hash
   * the corpus; construction is then EAGER (the [[minhashCandidates]]
   * caller contract).
   *
   * NOT used by [[countingJaccard]]'s star channel (usually empty — the
   * gate's two extra corpus scans would be pure overhead) or by the
   * pigeonhole paths (their candidates are already gated).
   */
  def verifyJaccardGated(candidates: DataFrame, docs: DataFrame,
                         threshold: Double): DataFrame = {
    val k = gateChunks(postingsCensus(docs))
    // past the chunk cap the gate's slice union stops paying — the plain
    // exact verify is the honest fallback (the gate is an optimization,
    // never a requirement)
    if (k > maxGateChunks) verifyJaccard(candidates, docs, threshold)
    else {
      val hashed = if (k > 1) hashedSide(docs).localCheckpoint() else hashedSide(docs)
      verifyJaccard(hashGateJac(candidates, hashed, threshold, chunks = k),
        docs, threshold)
    }
  }

  /** Postings (id, sz, sh) split at the df cap: (cold, hot). The census
   * reduces to the HOT SHINGLE SET only — ≤ total-postings/maxDf rows by
   * pigeonhole, usually a handful of boilerplate strings, so AQE broadcasts
   * it and the anti/semi splits stay narrow; df is never joined onto every
   * posting. The only added shuffle vs the unguarded join is the
   * map-side-combinable census aggregate itself. The split references the
   * input several ways (census + both pair-join sides + hot) — callers with
   * an expensive shingle pipeline should materialize it first (q31/q92/q112
   * localCheckpoint; at production scale, persist the shingle table). */
  private def postingsSplit(docs: DataFrame, maxDf: Long): (DataFrame, DataFrame) = {
    val posts = docs.select(col("id"), size(col("shingles")).as("sz"),
      explode(col("shingles")).as("sh"))
    val hotSet = loudWhenCapBinds(
      posts.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .where(col("df") > maxDf), maxDf)
      .select(col("sh"))
    val cold = posts.join(hotSet, Seq("sh"), "left_anti")
    val hot = posts.join(hotSet, Seq("sh"), "left_semi")
      .select(col("id"), col("sh"))
    (cold, hot)
  }

  /** A BINDING df-cap must be loud, not silent: the hot-shingle set is
   * observed as a named metric riding the query (zero extra jobs — the
   * aggregate runs on the rows already flowing into the split joins), and a
   * once-per-session listener ([[Audits]]) WARNs with the collapsed-shingle
   * count and the max df seen whenever a capped run actually dropped pair
   * enumeration. [[hotShingles]] remains the detailed audit view. Shared
   * with every postings-join guard in the package (the tf-idf term cap in
   * [[Similarity.tfidfCosinePairs]] rides the same listener); `hotDf` must
   * carry a `df` column. */
  private[operators] def loudWhenCapBinds(hotDf: DataFrame, maxDf: Long): DataFrame =
    Audits.observeLoudly(hotDf, "graft.dedup.hot_shingles",
      Seq(count(lit(1)).as("n_hot"), max(col("df")).as("max_df_seen"),
        lit(maxDf).as("max_df_cap")),
      "graft.operators.Dedup",
      shouldWarn = _.getLong(0) > 0,
      render = row =>
        s"df-cap bound: ${row.getLong(0)} shingle(s) above maxDf=" +
          s"${row.getLong(2)} (max df seen ${row.getLong(1)}) were " +
          "excluded from pair generation and star-collapsed - run " +
          "Dedup.hotShingles for the full audit")

  /** Audit view of the shingles a df-cap would collapse: (sh, df) for every
   * shingle with df > maxDf. Run this when a capped pass on a new corpus
   * should be LOUD about what it star-collapsed — at 100 TB the result is a
   * handful of boilerplate strings, cheap to collect and log. */
  def hotShingles(docs: DataFrame, maxDf: Long): DataFrame =
    docs.select(explode(col("shingles")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)

  /** Star pairs (min-id, other-id) from hot postings — one linear star per
   * hot shingle, the [[bucketedPairs]] fallback shape: preserves the
   * connected component a dedup pass needs at O(df) instead of O(df²).
   * Input columns: (id, sh). Shared with [[Similarity.tfidfCosinePairs]]'s
   * hot-term star fallback. */
  private[operators] def hotStarPairs(hot: DataFrame): DataFrame = {
    val reps = hot.groupBy(col("sh")).agg(min(col("id")).as("rep"))
    hot.join(reps, "sh")
      .where(col("id") =!= col("rep"))
      .select(least(col("rep"), col("id")).as("a"),
        greatest(col("rep"), col("id")).as("b"))
      .distinct()
  }

  /**
   * Exact all-pairs Jaccard via the sparse co-occurrence join — the scalable
   * formulation of the quadratic baseline: explode shingles into postings,
   * equi-join postings on the shingle (cost = sum over shingles of df^2, not
   * corpus^2), count co-occurrences per pair, then `jac = c / (|A|+|B|-c)`.
   * Values are identical to the array_intersect/array_union formulation
   * (shingle arrays are distinct); zero-overlap pairs never materialize —
   * they cannot pass any positive threshold.
   *
   * DF-CAP (the Σ df² guard): one boilerplate shingle shared by 10⁶ docs
   * makes the naive postings join enumerate 10¹² rows on one key. Shingles
   * with df > `maxDf` are excluded from pair GENERATION; their contribution
   * to each surviving pair's intersection count is restored exactly by a
   * bounded correction join (candidates × hot-postings — linear in both), so
   * every emitted jac is still the exact value. Pairs whose ONLY overlap is
   * hot shingles additionally enter as per-shingle STAR candidates
   * ([[bucketedPairs]]'s fallback shape, O(df) per hot shingle) and are
   * verified exactly from their full arrays — a mass-duplicated boilerplate
   * cluster stays one connected component without the df² join ever running.
   * Recall concession (documented, mirroring the LSH guard): a qualifying
   * NON-star pair both of whose members share only hot shingles is not
   * enumerated. Audit what a cap collapsed with [[hotShingles]]. Bounded
   * candidate behavior on a planted mega-df shingle is pinned in
   * ScaleOpsSpec; below the cap the plan is the unguarded original.
   *
   * r18 STATUS: this counting formulation is now the LARGE-CORPUS FALLBACK
   * behind [[allPairsJaccard]]'s dispatch (and the value-identity oracle in
   * PrefixPigeonholeSpec). Its per-pair aggregation STATE — one hash-agg key
   * per distinct co-occurring pair, ~Σ df²/2 keys — is what filled the disk
   * at sf100 (VERDICT r17 #1: 4 DNFs from >60 GB of aggregate spill); the
   * [[pigeonholeJaccard]] rewrite has no corpus-sized state anywhere.
   */
  private[graft] def countingJaccard(docs: DataFrame, threshold: Double,
                                     maxDf: Long = 10000): DataFrame = {
    val (cold, hot) = postingsSplit(docs, maxDf)
    val p1 = cold.select(col("id").as("a"), col("sz").as("sa"), col("sh"))
    val p2 = cold.select(col("id").as("b"), col("sz").as("sb"), col("sh"))
    val coldCounts = p1.join(p2, "sh")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("c_cold"))
    // upper-bound prune: full hot credit min(ha, hb) cannot lift the pair to
    // the threshold → drop before the correction join multiplies anything.
    // (rounded like the final gate so the no-hot plan filters identically)
    val hotPerDoc = hot.groupBy(col("id")).agg(count(lit(1)).as("h"))
    val bounded = coldCounts
      .join(hotPerDoc.select(col("id").as("a"), col("h").as("ha")), Seq("a"), "left")
      .join(hotPerDoc.select(col("id").as("b"), col("h").as("hb")), Seq("b"), "left")
      .withColumn("cmax", col("c_cold") +
        least(coalesce(col("ha"), lit(0L)), coalesce(col("hb"), lit(0L))))
      .where(round(col("cmax").cast("double") /
        (col("sa") + col("sb") - col("cmax")).cast("double"), 4) >= threshold)
    // exact correction riding the candidate row — one linear chain, no
    // self-join: expand by a's hot shingles, mark those b also holds,
    // re-collapse. Cost |candidates| × hot-shingles-per-doc, never hot-df².
    val corrected = bounded
      .join(hot.select(col("id").as("a"), col("sh")), Seq("a"), "left")
      .join(hot.select(col("id").as("b"), col("sh"), lit(1L).as("hit")),
        Seq("b", "sh"), "left")
      .groupBy(col("a"), col("b"), col("sa"), col("sb"), col("c_cold"))
      .agg(sum(col("hit")).as("c_hot"))
      .withColumn("c", col("c_cold") + coalesce(col("c_hot"), lit(0L)))
      .select(col("a"), col("b"),
        round(col("c").cast("double") /
          (col("sa") + col("sb") - col("c")).cast("double"), 4).as("jac"))
      .where(col("jac") >= threshold)
    val starVerified = verifyJaccard(hotStarPairs(hot), docs, threshold)
      .select(col("a"), col("b"), col("jac"))
    corrected.unionByName(starVerified).distinct()
  }

  /**
   * Asymmetric CONTAINMENT |A∩B| / |A| over directed pairs — the excerpt
   * detector: a short document wholly quoted inside a long one scores ~1.0
   * here while its Jaccard (÷ the union) can be arbitrarily small. Same
   * postings co-occurrence join as [[allPairsJaccard]] (shared counts only,
   * never per-pair array work), with the SAME df-cap guard: shingles with
   * df > `maxDf` skip pair generation, surviving candidates get their hot
   * contribution restored exactly by the bounded ride-along join, and
   * hot-only clusters re-enter as array-verified star pairs. The ratio is
   * FIXED-POINT — (1e6·shared) div |A| — so the gate is engine-independent
   * integer bits. `thresholdFp` is the ×1e6 cut.
   *
   * r18 STATUS: the large-corpus fallback behind [[containmentPairs]]'s
   * dispatch and the value-identity oracle in PrefixPigeonholeSpec — same
   * aggregation-state scale wall as [[countingJaccard]] (sf100 disk DNF).
   */
  private[graft] def countingContainment(docs: DataFrame, thresholdFp: Long,
                                         maxDf: Long = 10000): DataFrame = {
    val (cold, hot) = postingsSplit(docs, maxDf)
    val p1 = cold.select(col("id").as("a"), col("sz").as("sa"), col("sh"))
    val p2 = cold.select(col("id").as("b"), col("sz").as("sb"), col("sh"))
    // join each unordered pair ONCE (a < b halves the co-occurrence
    // exchange), then emit the two directed rows from the same shared count
    val coldCounts = p1.join(p2, "sh")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("c_cold"))
    // prune on the best DIRECTED ratio a full hot credit could reach
    val hotPerDoc = hot.groupBy(col("id")).agg(count(lit(1)).as("h"))
    val bounded = coldCounts
      .join(hotPerDoc.select(col("id").as("a"), col("h").as("ha")), Seq("a"), "left")
      .join(hotPerDoc.select(col("id").as("b"), col("h").as("hb")), Seq("b"), "left")
      .withColumn("cmax", col("c_cold") +
        least(coalesce(col("ha"), lit(0L)), coalesce(col("hb"), lit(0L))))
      .where(expr("(1000000 * cmax) div least(sa, sb)") >= thresholdFp)
    val corrected = bounded
      .join(hot.select(col("id").as("a"), col("sh")), Seq("a"), "left")
      .join(hot.select(col("id").as("b"), col("sh"), lit(1L).as("hit")),
        Seq("b", "sh"), "left")
      .groupBy(col("a"), col("b"), col("sa"), col("sb"), col("c_cold"))
      .agg(sum(col("hit")).as("c_hot"))
      .withColumn("shared", col("c_cold") + coalesce(col("c_hot"), lit(0L)))
    val directed = corrected.select(explode(array(
        struct(col("a").as("a"), col("b").as("b"),
          col("shared").as("shared"), col("sa").as("sa")),
        struct(col("b").as("a"), col("a").as("b"),
          col("shared").as("shared"), col("sb").as("sa")))).as("r"))
      .selectExpr("r.a as a", "r.b as b", "r.shared as shared", "r.sa as sa",
        "(1000000 * r.shared) div r.sa as cont_fp")
      .where(col("cont_fp") >= thresholdFp)
    val starDirected = verifyContainment(hotStarPairs(hot), docs, thresholdFp)
    directed.unionByName(starDirected).distinct()
  }

  /** Exact directed containment for (undirected) candidate pairs, computed
   * from the full shingle arrays — the star-pair verifier for
   * [[containmentPairs]]'s hot path. Output schema matches the postings
   * formulation exactly (shared: long, sa: int). */
  private def verifyContainment(candidates: DataFrame, docs: DataFrame,
                                thresholdFp: Long): DataFrame = {
    val da = docs.select(col("id").as("a"), col("shingles").as("sh_a"))
    val db = docs.select(col("id").as("b"), col("shingles").as("sh_b"))
    candidates.join(da, "a").join(db, "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("shared"),
        size(col("sh_a")).as("sa"), size(col("sh_b")).as("sb"))
      .select(explode(array(
        struct(col("a").as("a"), col("b").as("b"),
          col("shared").as("shared"), col("sa").as("sa")),
        struct(col("b").as("a"), col("a").as("b"),
          col("shared").as("shared"), col("sb").as("sa")))).as("r"))
      .selectExpr("r.a as a", "r.b as b", "r.shared as shared", "r.sa as sa",
        "(1000000 * r.shared) div r.sa as cont_fp")
      .where(col("cont_fp") >= thresholdFp)
  }

  // ------------------------------------------------------------------
  // Prefix-pigeonhole exact similarity joins (r18 — VERDICT r17 #1).
  //
  // The scale wall of the counting formulations is their AGGREGATION STATE:
  // one hash-agg key per distinct co-occurring pair. On this corpus family
  // the vocabulary grows ∝ corpus (df is scale-invariant), so the join ROWS
  // (Σ df²) grow linearly — but so do the distinct pairs, and at sf100 the
  // ~4G-key aggregate spilled >60 GB and DNF'd (q141/q31/q92/q112). The
  // pigeonhole rewrite applies the r17 canonical-band lesson (q169): a
  // banded equi-join whose rows are verified INLINE by a flat codegen
  // kernel, with NO corpus-sized aggregation, NO candidate distinct, and NO
  // verify joins — only the tiny qualifying survivor set is deduplicated.
  //
  //  * Candidate generation (Jaccard): the PREFIX-FILTER THEOREM (the
  //    Bayardo/AllPairs–PPJoin line, Xiao/Wang/Lin WWW'08). Under ANY global
  //    total order on tokens, a pair with |A∩B| = c has its smallest common
  //    token within each side's first (sz − c + 1) positions; with
  //    c ≥ ⌈θ'·sz⌉ per side (θ' = θ − 0.00005, the round(·,4) HALF_UP
  //    tolerance — the bound an EXACT rewrite may legally use), indexing
  //    each doc's first (sz − ⌈θ'·sz⌉ + 1) tokens by (df asc, token) makes
  //    the single-token prefix equi-join complete. A doc small enough to
  //    qualify through c = 1 has ⌈θ'·sz⌉ = 1, i.e. its "prefix" IS the
  //    whole doc — tiny docs need no separate channel.
  //    Measured on this corpus (sf10, PLANS.md Round-18 §1): Σ df_p² = 358M
  //    join rows at θ=0.5 (vs 822M for counting) and 713M at θ=0.1, halved
  //    again by the a<b orientation — with zero aggregate state. A k=2
  //    token-PAIR pigeonhole was measured too and rejected: it shrinks the
  //    DEDUPED candidate set (49M vs 87M at sf10/θ=0.5) but inflates the
  //    join-row stream (425M/1.6G) and pays a C(prefix,2)-per-doc posting
  //    build — the wrong trade when every row is verified inline anyway.
  //  * Join keys are xxhash64 of the token — 16-byte exchange rows. A hash
  //    collision can only ADD a false candidate (same tokens always hash
  //    equal), and the exact inline verify kills it: recall and values are
  //    collision-proof.
  //  * Inline verification is TWO-STAGE:
  //      (i) a RECALL-SAFE hash gate on every join row: both docs' sorted
  //          xxhash64(shingle) arrays attach via two BROADCAST joins and
  //          `intersect_count_sorted` — a flat merge-scan codegen kernel
  //          over plain longs ([[graft.plans.IntersectCountSortedExpr]]):
  //          no per-row hash set, no allocation, no lambda HOF (the r17
  //          rule). The hashed count c_h can only OVERCOUNT — for every
  //          hash value v, min(mult_A(v), mult_B(v)) ≥ |common shingles
  //          hashing to v|, so Σ_v min ≥ c — hence gating the threshold on
  //          c_h cannot drop a qualifying pair. (A string-compare kernel
  //          was measured first: UTF8String materialization per element
  //          cost 26 µs/row — 50× the long merge.)
  //     (ii) exact verification of the (tiny, distinct) survivor set from
  //          the full STRING arrays ([[verifyJaccard]]/[[verifyContainment]])
  //          — collision flukes die here, emitted values are the exact
  //          array-formulation values, bit-identical to the counting path.
  //  * Channels for the edge cases, each exact:
  //      - HOT-HAVING DOCS (df-cap bound): the cap removes hot tokens from
  //        ranking, so a pair whose cold overlap alone misses the bound
  //        could hide — docs holding ≥1 hot token re-join on their FULL
  //        cold postings (single token). Empty (zero-cost) whenever the cap
  //        doesn't bind; when it binds this is exactly the cold join the
  //        counting guard pays. The recall concession is UNCHANGED from the
  //        counting path: only pairs with ZERO cold overlap degrade to the
  //        star channel.
  //      - STARS: [[hotStarPairs]] keeps hot-only clusters connected,
  //        verified exactly like every other candidate.
  //    All channels union into ONE verify pipeline; duplicates die in the
  //    final bounded distinct (survivors only).
  //  * The ranked/hot/sorted frames materialize ONCE (localCheckpoint —
  //    the q31/q112 multi-consumer rule): the prefix self-join's two sides,
  //    the hot-having channel and the star channel all read the same
  //    blocks; without this every channel re-derives the postings census
  //    and the ranking window (measured 3x at sf1.0).
  //
  // 100 TB posture: every exchange is corpus-linear with ≤24-byte rows.
  // The verify side is ONE broadcast while it fits [[inlineVerifyBudget]]
  // and K broadcast-sized map-side slices above it (r19
  // [[chunkedGate]] — the candidate stream is NEVER shuffled carrying
  // attached arrays; the naive repartition-join alternative measurably
  // filled the disk at sf100). [[allPairsJaccard]]/[[containmentPairs]]
  // gate on a postings census; the counting twins survive only below the
  // low-postings floor (constant factors) and beyond the outer budget
  // (final resort). At true 100 TB the exact all-pairs table is a sampled
  // diagnostic by construction (q141's contract).
  // ------------------------------------------------------------------

  private def intersectCountSorted(a: Column, b: Column): Column =
    call_function("intersect_count_sorted", a, b)

  /** Broadcast gate side: (id, hsh) with the doc's xxhash64'd shingles
   * sorted ascending — the [[intersectCountSorted]] long-kernel input. The
   * per-ID transform lambda is fine (the r17 rule bans per-PAIR lambdas);
   * size(hsh) = the doc's true set size (hashing keeps multiplicity). */
  private def hashedSide(docs: DataFrame): DataFrame =
    docs.select(col("id"),
      sort_array(transform(col("shingles"), s => xxhash64(s))).as("hsh"))

  /**
   * Attach both gate sides and evaluate `cond` over them, in `chunks²`
   * MAP-SIDE-ONLY branches (r19, VERDICT r18 #3). chunks = 1 is the r18
   * shape: both sides broadcast whole. chunks = K ≥ 2 is the
   * past-the-broadcast-budget tier: the verify side is sliced
   * deterministically by `pmod(xxhash64(id), K)` into K broadcast-sized
   * pieces and the candidate stream joins each (i, j) slice pair map-side,
   * the branches unioned. The candidate stream is NEVER shuffled carrying
   * an attached array — the naive repartition-join alternative was
   * MEASURED fatal at sf100 (join 2 re-exchanges the stream widened by the
   * a-side arrays: ~400 B × billions of rows; the run drove 80 GB of disk
   * to the 8 GB floor and was cancelled — `bench_r19_shuffleverify_sf100`'s
   * first attempt). The stream subplan is identical across branches, so
   * its exchange is planned once and reused (K² scans of the reused
   * shuffle, sequential disk reads); each slice build scans the
   * checkpointed hvarr once. Work and output are branch-disjoint by
   * construction (every (a, b) row lands in exactly one (i, j) slice
   * pair), so the union is a disjoint partition of the r18 plan's rows —
   * values identical, no corpus-sized state, no oversized broadcast.
   */
  private def chunkedGate(pairs: DataFrame, hvarr: DataFrame, chunks: Int)
                         (cond: DataFrame => DataFrame): DataFrame = {
    def side(role: String, i: Int): DataFrame = {
      val base =
        if (chunks <= 1) hvarr
        else hvarr.where(pmod(xxhash64(col("id")), lit(chunks)) === i)
      broadcast(base.select(col("id").as(role), col("hsh").as(s"h_$role")))
    }
    val branches = for (i <- 0 until math.max(1, chunks);
                        j <- 0 until math.max(1, chunks)) yield
      cond(pairs.join(side("a", i), "a").join(side("b", j), "b"))
        .select(col("a"), col("b"))
    branches.reduce(_ unionByName _)
  }

  /** Stage-(i) RECALL-SAFE Jaccard gate on hashed arrays: keeps every
   * (a, b) row whose OVERCOUNTING hashed intersection already meets the
   * round-4 threshold — a superset of the qualifying pairs (header
   * comment); stage (ii) decides exactly. `chunks` per [[chunkedGate]]. */
  private def hashGateJac(pairs: DataFrame, hvarr: DataFrame,
                          threshold: Double,
                          chunks: Int = 1): DataFrame =
    chunkedGate(pairs, hvarr, chunks)(
      _.withColumn("ch", intersectCountSorted(col("h_a"), col("h_b")).cast("long"))
        .where(round(col("ch").cast("double") /
          (size(col("h_a")) + size(col("h_b")) - col("ch")).cast("double"),
          4) >= threshold))

  /** Stage-(i) RECALL-SAFE containment gate: the best DIRECTED ratio the
   * overcounting hashed intersection allows — (1e6·c_h) div min(sa,sb) —
   * against the fixed-point cut. `chunks` per [[chunkedGate]]. */
  private def hashGateContainment(pairs: DataFrame, hvarr: DataFrame,
                                  thresholdFp: Long,
                                  chunks: Int = 1): DataFrame =
    chunkedGate(pairs, hvarr, chunks)(
      _.withColumn("ch", intersectCountSorted(col("h_a"), col("h_b")).cast("long"))
        .where(expr("(1000000 * ch) div least(size(h_a), size(h_b))")
          >= thresholdFp))

  /** Cold postings ranked under the global (df asc, token) total order:
   * (id, sz, sh, rk, np) with sz the FULL set size, rk the 1-based position
   * among the doc's COLD tokens, np the doc's cold token count. One
   * exchange by token (the df census + join-back) and one by id (the
   * window); both corpus-linear. */
  private def rankedColdPostings(cold: DataFrame): DataFrame = {
    val dfreq = cold.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val byId = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    cold.join(dfreq, "sh")
      .select(col("id"), col("sz"), col("sh"), col("df"))
      .withColumn("rk", row_number().over(byId.orderBy(col("df"), col("sh"))))
      .withColumn("np", count(lit(1)).over(byId))
  }

  /** Broadcast budget of the inline-verify paths, in total shingle
   * occurrences (the verify side is a corpus-derived broadcast — sub-linear
   * only because these exact pair tables run on sampled diagnostic
   * corpora; the env knob makes the budget explicit). */
  private[graft] def inlineVerifyBudget: Long =
    gateKnob("graft.inline.verify.max.postings",
      "SPARK_GRAFT_INLINE_VERIFY_MAX_POSTINGS", 150000000L, floor = 1L)

  /** Chunk count for [[chunkedGate]]: 1 while the whole verify side fits
   * the broadcast budget, else ⌈census / budget⌉ broadcast-sized slices. */
  private def gateChunks(postings: Long): Int = {
    val budget = inlineVerifyBudget
    math.max(1, ((postings + budget - 1) / budget).toInt)
  }

  /** Ceiling on [[chunkedGate]]'s slice count (r19): the branch count is
   * K², each branch re-scans the candidate stream's reused exchange, so the
   * tier stops paying past a few slices — beyond the cap the dispatch
   * falls back to the counting plan (final resort). Default 3 extends the
   * state-free family to 3× the broadcast budget (450M postings) at ≤9
   * branches. */
  private[graft] def maxGateChunks: Int =
    gateKnob("graft.verify.max.chunks", "SPARK_GRAFT_VERIFY_MAX_CHUNKS",
      3L, floor = 1L).toInt

  /** Dispatch knob: JVM system property (tests pin regimes per-call)
   * overrides the env (operators set deployment-wide budgets), overrides
   * the measured default. */
  private def gateKnob(prop: String, env: String, dflt: Long, floor: Long): Long =
    sys.props.get(prop).orElse(sys.env.get(env))
      .fold(dflt)(knobValue(s"$prop / $env", _, floor))

  /** A knob's raw setting as an integer ≥ `floor`; anything else fails
   * naming the knob, never a silent misroute or a division by zero. */
  private[graft] def knobValue(name: String, raw: String, floor: Long): Long =
    raw.trim.toLongOption.filter(_ >= floor).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be an integer >= $floor (got '$raw')"))

  /** Postings census feeding the dispatch gates: total shingle occurrences,
   * one map-side-combinable aggregate over the corpus. */
  private def postingsCensus(docs: DataFrame): Long = docs
    .agg(coalesce(sum(size(col("shingles"))), lit(0L))).head().getLong(0)

  /** Low-side gate for the SYMMETRIC Jaccard dispatch only: below this
   * census the counting plan's single equi-join + count beats the prefix
   * engine's two ranked materializations + hash gate on constant factors
   * (measured on q141's corpus: ~0.9M postings → counting 5.7 s vs prefix
   * 10.6 s; ~8.6M → counting 49.1 s vs prefix 22.4 s — crossover between,
   * default 2M splits it). Containment is NOT gated here: its asymmetric
   * prefix (small-side prefix × full postings) wins at every measured
   * scale (q92: 1.82 s vs counting's 2.79 s even at sf0.1). */
  private def preferCounting(postings: Long): Boolean =
    postings < prefixMinPostings

  private[graft] def prefixMinPostings: Long =
    gateKnob("graft.prefix.min.postings",
      "SPARK_GRAFT_PREFIX_MIN_POSTINGS", 2000000L, floor = 0L)

  /**
   * The prefix-filtered Jaccard join (header comment above): exact,
   * value-identical to [[countingJaccard]] (PrefixPigeonholeSpec pins
   * set-equality on natural, planted-small-doc, tied-order and cap-binding
   * corpora), with no corpus-sized aggregation state. The plan per channel:
   *
   *   main: ranked cold prefixes (materialized once) → xxhash64 token-key
   *         equi-join, a<b oriented → inline verify on every join row
   *   hot:  full cold postings of hot-having docs (cap-binding corpora
   *         only — provably empty otherwise)
   *   star: [[hotStarPairs]] connectivity
   *
   * The final distinct sees qualifying rows only (each true pair survives
   * once per shared prefix token — bounded by the prefix length).
   */
  private[graft] def pigeonholeJaccard(docs: DataFrame, threshold: Double,
                                       maxDf: Long = 10000,
                                       verifyChunks: Int = 1): DataFrame = {
    val tp = threshold - 0.00005 // round(·,4) HALF_UP tolerance — exact
    val nonEmpty = docs.where(size(col("shingles")) > 0)
    val (cold, hot) = postingsSplit(nonEmpty, maxDf)
    val hotC = hot.localCheckpoint()
    val ranked = rankedColdPostings(cold).localCheckpoint()
    // k=1 prefix: position ≤ np − (⌈θ'·sz⌉ − 1); a doc qualifying through
    // c=1 has ⌈θ'·sz⌉ = 1, so its prefix is its whole cold set
    val prefix = ranked.where(col("rk") <=
      col("np") - ceil(col("sz").cast("double") * tp) + lit(1L))
      .select(col("id"), xxhash64(col("sh")).as("kh"))
    val mainPairs = prefix.select(col("id").as("a"), col("kh"))
      .join(prefix.select(col("id").as("b"), col("kh")), "kh")
      .where(col("a") < col("b")).select(col("a"), col("b"))
    // cap-binding corpora: a pair with ≥1 hot common can sit below every
    // cold bound — both members hold a hot token, so the full cold postings
    // of hot-having docs recover exactly the counting guard's recall
    val coldOfHot = ranked.join(hotC.select(col("id")).distinct(),
      Seq("id"), "left_semi")
      .select(col("id"), xxhash64(col("sh")).as("kh"))
    val hotHavingPairs = coldOfHot.select(col("id").as("a"), col("kh"))
      .join(coldOfHot.select(col("id").as("b"), col("kh")), "kh")
      .where(col("a") < col("b")).select(col("a"), col("b"))
    val survivors = hashGateJac(
      mainPairs.unionByName(hotHavingPairs).unionByName(hotStarPairs(hotC)),
      hashedSide(nonEmpty).localCheckpoint(), threshold, verifyChunks)
      .distinct()
    verifyJaccard(survivors, nonEmpty, threshold)
  }

  /**
   * The asymmetric k=1 prefix join for CONTAINMENT (header comment above):
   * a qualifying directed pair needs c ≥ ⌈T·min(sa,sb)/1e6⌉ shared tokens,
   * so the SMALLER side's prefix of (np − ⌈T·sz/1e6⌉ + 1) rarest cold
   * tokens must hold a common token that the larger side holds ANYWHERE —
   * prefix × full postings, size-oriented to generate each pair once.
   * Exact integer prefix arithmetic (the fixed-point div gate ⟺
   * c ≥ ⌈T·sz/1e6⌉ exactly); value-identical to [[countingContainment]]
   * (PrefixPigeonholeSpec). No small channel: k=1 already finds every
   * co-occurring pair the theorem requires (c ≥ 1 is implied).
   */
  private[graft] def pigeonholeContainment(docs: DataFrame, thresholdFp: Long,
                                           maxDf: Long = 10000,
                                           verifyChunks: Int = 1): DataFrame = {
    val nonEmpty = docs.where(size(col("shingles")) > 0)
    val (cold, hot) = postingsSplit(nonEmpty, maxDf)
    val hotC = hot.localCheckpoint()
    val ranked = rankedColdPostings(cold).localCheckpoint()
    // need = ⌈T·sz/1e6⌉, exact in doubles (T·sz ≤ 1e6·98 ≪ 2^53)
    val need = floor((lit(thresholdFp) * col("sz") + lit(999999L)) /
      lit(1000000.0)).cast("long")
    val prefixSmall = ranked
      .where(col("rk") <= greatest(col("np") - need + lit(1L), lit(1L)))
    val aSide = prefixSmall.select(col("id").as("a"), col("sz").as("sza"),
      xxhash64(col("sh")).as("kh"))
    val bSide = ranked.select(col("id").as("b"), col("sz").as("szb"),
      xxhash64(col("sh")).as("kh"))
    val mainPairs = aSide.join(bSide, "kh")
      .where(col("sza") < col("szb") ||
        (col("sza") === col("szb") && col("a") < col("b")))
      .select(col("a"), col("b"))
    val coldOfHot = ranked.join(hotC.select(col("id")).distinct(),
      Seq("id"), "left_semi")
      .select(col("id"), xxhash64(col("sh")).as("kh"))
    val hotHavingPairs = coldOfHot.select(col("id").as("a"), col("kh"))
      .join(coldOfHot.select(col("id").as("b"), col("kh")), "kh")
      .where(col("a") < col("b")).select(col("a"), col("b"))
    val survivors = hashGateContainment(
      mainPairs.unionByName(hotHavingPairs).unionByName(hotStarPairs(hotC)),
      hashedSide(nonEmpty).localCheckpoint(), thresholdFp, verifyChunks)
      .distinct()
    verifyContainment(survivors, nonEmpty, thresholdFp)
  }

  /** Exact all-pairs Jaccard — the public entry. Dispatches on the postings
   * census, FOUR tiers (r19 adds the third): the counting plan below
   * [[preferCounting]]'s floor (cheaper on constant factors while its pair
   * state is trivially small), the pigeonhole plan with a single BROADCAST
   * verify side while it fits the broadcast budget, the pigeonhole plan
   * with a CHUNKED map-side verify ([[chunkedGate]] — K broadcast-sized
   * slices, K² unioned branches, the candidate stream never shuffled with
   * arrays attached) while K ≤ [[maxGateChunks]], and the counting plan as
   * the final resort beyond that. All exact;
   * PrefixPigeonholeSpec pins path equality across every tier. See
   * [[countingJaccard]] and [[pigeonholeJaccard]]. */
  def allPairsJaccard(docs: DataFrame, threshold: Double,
                      maxDf: Long = 10000): DataFrame = {
    val postings = postingsCensus(docs)
    val k = gateChunks(postings)
    if (preferCounting(postings)) countingJaccard(docs, threshold, maxDf)
    else if (k <= maxGateChunks)
      pigeonholeJaccard(docs, threshold, maxDf, k)
    else countingJaccard(docs, threshold, maxDf)
  }

  /** Asymmetric containment pairs — the public entry; high-side dispatch
   * only (the asymmetric prefix wins at every measured scale — see
   * [[preferCounting]]), with the same r19 chunked-verify tier between the
   * broadcast budget and the chunk cap. See [[countingContainment]] and
   * [[pigeonholeContainment]]. */
  def containmentPairs(docs: DataFrame, thresholdFp: Long,
                       maxDf: Long = 10000): DataFrame = {
    val k = gateChunks(postingsCensus(docs))
    if (k <= maxGateChunks)
      pigeonholeContainment(docs, thresholdFp, maxDf, k)
    else countingContainment(docs, thresholdFp, maxDf)
  }

  /**
   * SimHash near-dup pairs over a (pre-filtered) corpus: 62-bit signatures, then
   * pairs within `maxHamming` bit flips. The signature computation is the scale
   * path (one narrow pass); pair enumeration here is all-pairs — the
   * oracle-checked quadratic twin of [[simhashCandidates]], which bands the
   * signature (pigeonhole) for corpus scale and is proven pair-identical in
   * ScaleOpsSpec.
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    // feature hashes materialize once; the 62-bit fold then reuses the array
    val sigs = simhashSigs(docs)
    val a = sigs.select(col("id").as("a"), col("sig").as("sig_a"))
    val b = sigs.select(col("id").as("b"), col("sig").as("sig_b"))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }


  /** (id, sig) SimHash signatures through the codegen'd
   * [[graft.plans.SimHash62Expr]] kernel; the feature hashes materialize
   * once. A session without GraftExtensions fails at analysis naming
   * `simhash62`. */
  private def simhashSigs(docs: DataFrame): DataFrame =
    docs.select(col("id"),
        transform(col("shingles"), s => TextFunctions.hash60(s)).as("hs"))
      .select(col("id"), call_function("simhash62", col("hs")).as("sig"))

  /**
   * Scale-safe SimHash pair enumeration via pigeonhole banding: the 62-bit
   * signature is split into `maxHamming + 1` contiguous chunks, so any pair
   * within `maxHamming` bit flips must agree EXACTLY on at least one chunk
   * (pigeonhole: `maxHamming` flips cannot touch all `maxHamming + 1` chunks).
   * Candidates come from equi-joins on (chunk index, chunk value) — a corpus
   * shuffle on the chunk key, never an all-pairs join — then the exact 62-bit
   * Hamming distance verifies each candidate.
   *
   * Pair-identical to [[simhashPairs]] (the all-pairs oracle twin): banding
   * only generates candidates, the Hamming verify is exact, and pigeonhole
   * guarantees no qualifying pair is missed. Asserted in DedupSpec.
   */
  /** The 62-bit signature split into `maxHamming + 1` contiguous chunks
   * (first `62 mod nChunks` chunks one bit wider); offsets are static, so
   * shiftright/mask stay plain codegen'd literals. Shared by the raw and
   * guarded candidate paths. */
  private def sigChunkExprs(maxHamming: Int): Seq[Column] = {
    val nChunks = maxHamming + 1
    val base = 62 / nChunks
    val rem = 62 % nChunks
    (0 until nChunks).map { c =>
      val width = base + (if (c < rem) 1 else 0)
      val offset = (0 until c).map(i => base + (if (i < rem) 1 else 0)).sum
      val mask = (1L << width) - 1L
      shiftright(col("sig"), offset).bitwiseAND(lit(mask))
    }
  }

  def simhashCandidates(docs: DataFrame, maxHamming: Int): DataFrame = {
    val chunkExprs = sigChunkExprs(maxHamming)
    val sigs = simhashSigs(docs)
    val chunks = sigs.select(col("id"), col("sig"),
      posexplode(array(chunkExprs: _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    val a = chunks.select(col("id").as("a"), col("sig").as("sig_a"),
      col("chunk"), col("chunk_val"))
    val b = chunks.select(col("id").as("b"), col("sig").as("sig_b"),
      col("chunk"), col("chunk_val"))
    a.join(b, Seq("chunk", "chunk_val"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * [[simhashCandidates]] hardened for corpus scale — the q34/q90 candidate
   * discipline applied to the simhash family (the r15 q33 rework: the raw
   * chunk self-join measured 43× per decade at the second→third decade, the
   * round's only confirmed quadratic). Same pigeonhole banding
   * (`maxHamming + 1` chunks ⇒ any qualifying pair shares a chunk), but:
   *
   *   - candidates route through the GUARDED [[bucketedPairs]]: natural
   *     corpora concentrate signatures (templated text signs near-equal
   *     bit patterns), and a raw chunk equi-join goes quadratic in the hot
   *     buckets. Over `maxBucket` a bucket degrades to star pairs (id vs
   *     bucket minimum) — O(bucket) with connectivity preserved, the
   *     documented dedup-clustering contract shared with q90's image bands
   *     and q34's hyperplane tables;
   *   - ids sharing the IDENTICAL full 62-bit signature pair through a
   *     second equi-join channel, so an exact-twin pair inside a hot
   *     bucket can never survive only as star pairs — ham = 0 recall is
   *     STRUCTURAL regardless of bucket degradation (the r14 advice hole,
   *     closed for hyperplane LSH by `nearDupLsh`, closed here for
   *     simhash). The channel carries its OWN `maxBucket` guard (ADVICE
   *     r15): an identical-signature CLASS is itself a hot bucket — a
   *     mass-duplicated boilerplate document (or an all-empty-shingle
   *     class) would make the raw self equi-join quadratic in the class
   *     size, reintroducing exactly the blowup the banding guard exists
   *     to prevent. Classes over `maxBucket` degrade to the same star
   *     shape (every member vs the class minimum): ham = 0 TWIN recall
   *     stays structural (each member still pairs with the rep at ham 0)
   *     and the class stays one connected component; only the
   *     intra-class non-star pairs are conceded, mirroring the banding
   *     concession;
   *   - the signature table localCheckpoints once — banding, both clique
   *     sides, and both verify sides read it, and the checkpoint keeps the
   *     md5 feature hashing from re-running five times.
   *
   * Pair-equal to [[simhashPairs]] except above `maxBucket`, where hot
   * buckets take the star shape (DedupSpec pins equality below the cap).
   */
  def simhashCandidatesGuarded(docs: DataFrame, maxHamming: Int,
                               maxBucket: Int = 10000): DataFrame = {
    val chunkExprs = sigChunkExprs(maxHamming)
    val sigs = simhashSigs(docs).localCheckpoint()
    val banded = sigs.select(col("id"), posexplode(array(chunkExprs: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    // the identical-signature clique channel, guarded like any other
    // bucket (ADVICE r15): full clique for classes <= maxBucket, star
    // degradation (member vs class-min rep) above — O(class), never class²
    val classes = sigs.groupBy(col("sig"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("rep"))
    val smallSigs = sigs.join(
      classes.where(col("n") <= maxBucket).select(col("sig")),
      Seq("sig"), "left_semi")
    val sigPairs = smallSigs.select(col("id").as("a"), col("sig"))
      .join(smallSigs.select(col("id").as("b"), col("sig")), "sig")
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
    val hotSigStars = sigs.join(
        classes.where(col("n") > maxBucket).select(col("sig"), col("rep")),
        Seq("sig"))
      .where(col("id") =!= col("rep"))
      .select(least(col("rep"), col("id")).as("a"),
        greatest(col("rep"), col("id")).as("b"))
    val candidates = bucketedPairs(banded, maxBucket)
      .unionByName(sigPairs).unionByName(hotSigStars).distinct()
    candidates
      .join(sigs.select(col("id").as("a"), col("sig").as("sig_a")), "a")
      .join(sigs.select(col("id").as("b"), col("sig").as("sig_b")), "b")
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /**
   * DUPLICATE TEXT SEGMENTS — the output semantics of suffix-array substring
   * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
   * Models Better"), computed scalably by sliding windows instead of a
   * global suffix array: every `n`-token window of every document digests
   * (md5 of the space-joined slice), a corpus-wide census counts occurrences
   * (INCLUDING within-document repeats — self-repetition is duplication
   * too), and windows seen ≥ `minOcc` times coalesce per document into
   * maximal duplicated spans via [[CorpusOps.coalesceSpans]]. Any exact
   * shared substring of ≥ n tokens is fully covered by shared n-windows, so
   * the merged spans are exactly the ≥ n-token duplicated regions a cleaning
   * pass would cut.
   *
   * Input: (id, w token array). Output: (id, span_start, span_end,
   * span_tok), end exclusive, token coordinates.
   *
   * Shapes for 100 TB: window digests are one narrow Generate (stride 1 —
   * corpus × avg-len rows, the honest price of exactness; q72's chunked
   * variant is the 8× cheaper approximation). The occurrence census is a
   * map-side-combinable `groupBy(dg).count()`: a boilerplate n-gram
   * duplicated 10⁸ times collapses per map partition BEFORE the exchange,
   * unlike the earlier `count() OVER (PARTITION BY dg)` formulation where
   * every raw occurrence of a hot digest lands in ONE unsplittable window
   * partition on one task. The semi-join back is a plain equi-join, so
   * AQE's skew-join splits a hot digest's probe rows across tasks (at test
   * scale the ≥ minOcc digest set simply broadcasts). Per-task rows stay
   * bounded under ANY digest distribution; coalescing is one per-doc
   * window; no all-pairs anything. The census and probe branches each run
   * the digest Generate (scan-speed narrow compute, column-pruned to `dg`
   * on the census side) — measured at 1M docs, recomputing beats pinning
   * the ~41M-row digest table in the block manager 2.5× (the
   * localCheckpoint variant), and it leaves no storage blocks behind for
   * library callers to clean up.
   */
  def duplicateSpans(corpus: DataFrame, n: Int, minOcc: Long = 2): DataFrame = {
    def wins = corpus.where(size(col("w")) >= n)
      .select(col("id"),
        explode(expr(s"sequence(0, size(w) - $n)")).as("i"), col("w"))
      .select(col("id"), col("i"),
        md5(array_join(slice(col("w"), col("i") + 1, lit(n)), " ")).as("dg"))
    val dup = wins.groupBy(col("dg")).agg(count(lit(1)).as("occ"))
      .where(col("occ") >= minOcc)
      .select(col("dg"))
    // SHUFFLE_HASH on the (small) dup-digest build side: a sort-merge semi
    // join would SORT every probe window row; hash-probing them is linear,
    // and AQE's skew-join splits a hot digest's probe partition either way
    val hits = wins.join(dup.hint("SHUFFLE_HASH"), Seq("dg"), "left_semi")
      .select(col("id"), col("i").as("start"), (col("i") + n).as("end"))
    CorpusOps.coalesceSpans(hits)
  }

  /** Eager localCheckpoint plus the persistent-RDD ids it registered, so the
   * iterative loops below can free each SUPERSEDED round's blocks the moment
   * the next round materializes — without this a 1M-vertex chain run pins
   * every round's edge set in the block manager for the whole loop. */
  private def trackedCheckpoint(df: DataFrame): (DataFrame, Seq[Int]) = {
    val out = df.localCheckpoint()
    // the persisted id comes from the checkpoint's OWN LogicalRDD — a
    // before/after diff of getPersistentRDDs would race a concurrent query
    // on the same SparkContext and could later unpersist ITS checkpoint
    // blocks, which are unrecoverable (lineage truncated)
    val ids = out.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    (out, ids)
  }

  private def freeBlocks(df: DataFrame, ids: Seq[Int]): Unit = {
    val sc = df.sparkSession.sparkContext
    ids.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  /**
   * Connected components of a near-dup pair graph — the clustering step a
   * dedup pipeline ends with: near-dup PAIRS (from any of the detectors
   * above) become disjoint CLUSTERS, each keeping one canonical survivor.
   * Input: (a, b) edges; output: (id, component) with component = the
   * minimum id reachable from `id` (so the component label IS the survivor).
   *
   * Algorithm: distributed min-label propagation to fixpoint — each round,
   * every vertex takes the min of its own label and its neighbors' labels
   * (one equi-join + one groupBy per round, both hash-partitioned on id; no
   * vertex state ever leaves the executors). The driver loop only CONTROLS
   * iteration — rounds needed = graph diameter, and near-dup graphs are
   * overwhelmingly tiny star/clique clusters (diameter ≤ ~3). For
   * adversarial long-chain graphs use [[componentsStar]] (O(log n) rounds).
   *
   * Round shape:
   *  - the symmetric edge set is checkpointed once (both directions; a
   *    duplicate edge cannot change a minimum, so no distinct);
   *  - the labels are SEEDED with the first propagation step from identity
   *    labels, `label(v) = least(v, min N(v))`, one groupBy;
   *  - each checked round joins the labels to the edges once, unions each
   *    vertex's own label in as `old`, and takes one groupBy-min per vertex
   *    (three exchanges: edges, labels, offers). The number of labels that
   *    dropped rides that checkpoint's job as an observed metric, so the
   *    convergence test costs no job of its own. A round in which no label
   *    dropped is the fixpoint.
   * So a clique or a star around its minimum converges in one checked
   * round, and a graph of diameter d in at most d. `localCheckpoint`
   * truncates the lineage each round.
   */
  def components(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col("a"), col("b"))
    val (sym, symIds) = trackedCheckpoint(
      edges.unionAll(edges.select(col("b").as("a"), col("a").as("b"))))
    var (labels, labelIds) = trackedCheckpoint(
      sym.groupBy(col("a")).agg(least(col("a"), min(col("b"))).as("label"))
        .select(col("a").as("id"), col("label")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // each vertex's offers: every neighbor's label, and its own as `old`
      val offers = sym.join(labels.select(col("id").as("b"), col("label")), "b")
        .select(col("a").as("id"), col("label"), lit(null).as("old"))
        .unionByName(labels.select(col("id"), col("label"), col("label").as("old")))
      val dropped = new Observation()
      val (updated, updatedIds) = trackedCheckpoint(
        offers.groupBy(col("id"))
          .agg(min(col("label")).as("label"), min(col("old")).as("old"))
          .observe(dropped, count_if(col("label") < col("old")).as("n"))
          .select(col("id"), col("label")))
      converged = dropped.get("n") == 0L
      // the new round is materialized — the previous labels' blocks are dead
      freeBlocks(updated, labelIds)
      labels = updated
      labelIds = updatedIds
      it += 1
    }
    // the returned frame reads only the final labels checkpoint
    freeBlocks(labels, symIds)
    // an iteration-capped exit would return a WRONG partitioning (one true
    // cluster split across labels) — fail loudly, never silently
    if (!converged) throw new IllegalStateException(
      s"components did not converge in $maxIters rounds — graph diameter exceeds " +
        "the cap; raise maxIters or use componentsStar for chain graphs")
    labels.select(col("id"), col("label").as("component"))
  }

  /**
   * Connected components by alternating LARGE-STAR / SMALL-STAR rounds — the
   * O(log n)-round formulation for adversarial graph shapes: min-label
   * propagation ([[components]]) needs diameter-many rounds, so a
   * 10⁶-vertex chain (pathological, but real corpora produce long similarity
   * chains of serially-edited boilerplate) would run 10⁶ join rounds; star
   * contraction squares the shrink rate instead, converging in O(log n)
   * alternations regardless of diameter.
   *
   * Round shape (all hash-partitioned equi-joins + groupBys, the
   * [[components]] cost model — no new shuffle shapes at 100 TB):
   *  - large-star: every neighbor ABOVE u links to u's minimum neighbor
   *    (strictly-descending edges only after this);
   *  - small-star: every ≤-u neighbor (and u itself) links to u's overall
   *    minimum.
   * At fixpoint the edge set is a star forest: each vertex points directly at
   * its component's minimum id — the same (id, component = min reachable id)
   * contract as [[components]], asserted pair-identical in ScaleOpsSpec on
   * chains, cliques, and the planted near-dup corpus (and oracle-gated via
   * q56 against the recursive-CTE transitive closure).
   */
  def componentsStar(pairs: DataFrame, maxIters: Int = 40): DataFrame =
    componentsStarWithRounds(pairs, maxIters)._1

  /** [[componentsStar]] plus the number of large-star/small-star rounds it
   * took — the O(log n) convergence claim made observable (ScaleOpsSpec
   * asserts the bound on a scrambled 64-vertex chain; a 1M-vertex chain took
   * 21 rounds, PLANS.md "Training-ops scale smoke"). */
  def componentsStarWithRounds(pairs: DataFrame,
                               maxIters: Int = 40): (DataFrame, Int) = {
    // checkpoint the INPUT once — vertices and edges both derive from it, and
    // an expensive upstream pipeline (LSH + verify) must not materialize twice
    val (raw, _) = trackedCheckpoint(
      pairs.select(col("a"), col("b")).where(col("a") =!= col("b")))
    val vertices = raw.select(col("a").as("id"))
      .unionAll(raw.select(col("b").as("id")))
      .distinct()
    // canonical strictly-descending edge (u > v)
    var (edges, edgeIds) = trackedCheckpoint(
      raw.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v")).distinct())
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // LARGE-STAR over the symmetric view: neighbors strictly above u attach
      // to m(u) = min(N(u) ∪ {u}); every output edge strictly descends
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // SMALL-STAR over the descending edges: u's below-neighbors (and u)
      // all attach to u's overall minimum
      val smins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val joined = large.join(smins, "u")
      val (small, smallIds) = trackedCheckpoint(
        joined.select(col("v").as("x"), col("m"))
          .unionAll(joined.select(col("u").as("x"), col("m")))
          .where(col("x") =!= col("m"))
          .select(col("x").as("u"), col("m").as("v"))
          .distinct())
      // fixpoint: both sides are distinct sets, so equal counts + empty
      // one-sided difference ⇒ set equality
      converged = small.count() == edges.count() && small.except(edges).isEmpty
      // the convergence check was the old edge set's last reader
      freeBlocks(small, edgeIds)
      edges = small
      edgeIds = smallIds
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"componentsStar did not converge in $maxIters rounds (O(log n) expected " +
        "— this indicates a bug or an astronomically large graph)")
    // star forest: non-minimum vertices carry exactly one descending edge to
    // their component minimum; minima label themselves. The groupBy-min is
    // defensive (a star forest has one edge per vertex) — it keeps the output
    // one-row-per-vertex by construction rather than by trust.
    (vertices.join(edges.select(col("u").as("id"), col("v").as("lbl")), Seq("id"), "left")
      .groupBy(col("id"))
      .agg(min(coalesce(col("lbl"), col("id"))).as("component")), it)
  }
}
