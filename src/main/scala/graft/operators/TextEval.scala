package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/**
 * Generation-evaluation operators — the text-overlap metrics a training
 * pipeline runs over (reference, candidate) pairs before trusting generated
 * or compressed data: summarization QA, distillation-output screening,
 * paraphrase-augmentation audits.
 *
 * ROUGE-N (Lin 2004, "ROUGE: A Package for Automatic Evaluation of
 * Summaries") with the official MULTISET clipping: the overlap credited for
 * an n-gram is min(count_ref, count_cand) — a candidate repeating one
 * reference gram ten times scores it once per reference occurrence, never
 * ten. The common set-intersection approximation is NOT what this computes.
 *
 * Engine-exactness: counts are integers and every ratio is ×1e3 integer
 * floor division, so the DuckDB oracle reproduces identical bits; no float
 * enters anywhere.
 */
object TextEval {

  /**
   * Per-pair ROUGE-N. `pairs` carries (id, reference, candidate) — both
   * whitespace-tokenized text columns (the engine-shared `tokens` contract).
   * One output row per input pair:
   *
   *   - `n`            — the gram order (echoed, so unions over n stack)
   *   - `overlap`      — Σ_g min(count_ref(g), count_cand(g)), clipped
   *   - `ref_grams` / `cand_grams` — total (non-distinct) n-gram counts;
   *     NULL when the side has fewer than n tokens (no grams exist)
   *   - `recall_pm`    — (1000·overlap) div ref_grams, NULL only when the
   *     REFERENCE is gramless (a gramless candidate still scores recall 0)
   *   - `precision_pm` — (1000·overlap) div cand_grams, NULL only when the
   *     CANDIDATE is gramless
   *   - `f1_pm`        — (2·P·R) div (P+R) in the same ×1e3 fixed point;
   *     0 when P = R = 0, NULL when either side is undefined
   *
   * Scale posture: two narrow explodes feed one (id, gram) census per side
   * (map-side combinable), the clip is an equi-join on (id, gram), and
   * everything re-collapses to one row per pair — all joins equi on id or
   * (id, gram), output bounded by the input pair count. No windows, no
   * driver state; cost is linear in total token volume.
   */
  /** The engine-shared whitespace-token contract for BOTH metrics: split
   * on single spaces, then DROP empty tokens — so an empty (or
   * whitespace-only) string has ZERO tokens and takes the gramless-NULL
   * path, instead of `split`'s phantom single empty token scoring
   * `cand_grams = 1` with precision 0 (and an '' gram that could
   * spuriously clip against another phantom). Mirrored verbatim in the
   * DuckDB oracle twins (`list_filter(string_split(..), x -> x <> '')`). */
  private def toks(c: Column): Column =
    filter(split(c, " "), w => w =!= "")

  /** Per-WORD 60-bit fingerprints (`TextFunctions.hash60` — first 15 md5
   * hex chars as a long), ONE md5 per token. Gram census keys then derive
   * by `TextFunctions.gramKeyAt`'s 60-bit rotate-XOR over the window —
   * integer shifts/xors only, so the r15 per-GRAM md5 cost (~8 hashes per
   * token across orders 1..4, measured to cancel the key-compression win
   * at sf10 where the trio was 375 s of the 1629 s sweep) drops 8× while
   * censuses still key and clip-join on 8-byte longs. A key collision
   * merges two gram classes IDENTICALLY in both engines — the DuckDB twins
   * run the SAME md5 + rotate-XOR arithmetic — so oracle equality is
   * preserved by construction; the metric definition is
   * "rotate-XOR-fingerprinted grams". Collision odds over a V-gram
   * vocabulary are ~V²/2⁶¹ (~1e-6 at V = 10⁶).
   *
   * Callers MUST materialize this in its own projection (`.as("hs")`,
   * then a second select) before feeding [[gramsAllOrders]]/the window
   * transforms: the downstream expressions reference the array many
   * times, and Catalyst's CollapseProject keeps a non-cheap
   * multiply-referenced alias in its own project — the same contract as
   * `TextFunctions.minhashSignatureFromBases`. */
  private def wordHashes(c: Column): Column =
    transform(toks(c), w => T.hash60(w))

  def rougeN(pairs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    def census(side: String, cnt: String): DataFrame =
      pairs.select(col("id"), wordHashes(col(side)).as("hs"))
        .select(col("id"), explode(
          when(size(col("hs")) >= n,
            transform(sequence(lit(0), size(col("hs")) - n),
              i => T.gramKeyAt(col("hs"), i, n)))
            .otherwise(array().cast("array<bigint>"))).as("g"))
        .groupBy(col("id"), col("g")).agg(count(lit(1)).as(cnt))
    val ref = census("reference", "cr")
    val cand = census("candidate", "cc")
    val overlap = ref.join(cand, Seq("id", "g"))
      .groupBy(col("id")).agg(sum(least(col("cr"), col("cc"))).as("overlap"))
    val rTot = ref.groupBy(col("id")).agg(sum(col("cr")).as("ref_grams"))
    val cTot = cand.groupBy(col("id")).agg(sum(col("cc")).as("cand_grams"))
    pairs.select(col("id"))
      .join(rTot, Seq("id"), "left")
      .join(cTot, Seq("id"), "left")
      .join(overlap, Seq("id"), "left")
      .select(col("id"), lit(n).as("n"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        col("ref_grams"), col("cand_grams"))
      .select(col("id"), col("n"), col("overlap"),
        col("ref_grams"), col("cand_grams"),
        // each side's total is NULL only when that side has no grams at
        // all; a gramless CANDIDATE still leaves recall defined (0 of the
        // reference grams were produced) and vice versa
        when(col("ref_grams").isNotNull,
          expr("(1000 * overlap) div ref_grams")).as("recall_pm"),
        when(col("cand_grams").isNotNull,
          expr("(1000 * overlap) div cand_grams")).as("precision_pm"))
      .select(col("id"), col("n"), col("overlap"),
        col("ref_grams"), col("cand_grams"),
        col("recall_pm"), col("precision_pm"),
        when(col("recall_pm").isNotNull && col("precision_pm").isNotNull,
          when(col("recall_pm") + col("precision_pm") > 0,
            expr("(2 * precision_pm * recall_pm) div (precision_pm + recall_pm)"))
            .otherwise(lit(0L))).as("f1_pm"))
  }

  /**
   * [[rougeN]] for ALL orders 1..maxN in ONE pass — the [[bleuPrecisions]]
   * census shape applied to the ROUGE side: both sides explode into one
   * tagged (id, n, g) census each (one shuffle per side regardless of
   * maxN), the clip joins equi on (id, n, g), and the per-(pair, order)
   * rollups read the same censuses. Row-identical to unioning
   * `rougeN(pairs, n)` for n = 1..maxN (same column contract, NULL
   * semantics, and fixed-point arithmetic) — q160 runs this instead of two
   * separate rougeN passes, halving its census shuffles.
   */
  /** One side's tagged multiset gram census — (id, n, g, c): the count of
   * gram key `g` of order `n` in pair `id`'s `side` text, orders 1..maxN
   * in ONE pass (one shuffle regardless of maxN). The shared input shape
   * of all three metrics: build each side ONCE (a tracked reuse point)
   * and feed the `*FromCensus` variants, so a ROUGE + BLEU + corpus trio
   * over the same pairs pays one census derivation per side instead of
   * three (VERDICT r15 #7). */
  def gramCensus(pairs: DataFrame, side: String, maxN: Int): DataFrame =
    pairs.select(col("id"), wordHashes(col(side)).as("hs"))
      .select(col("id"), explode(gramsAllOrders(col("hs"), maxN)).as("t"))
      .groupBy(col("id"), col("t.n").as("n"), col("t.g").as("g"))
      .agg(count(lit(1)).as("c"))

  def rougeNOrders(pairs: DataFrame, maxN: Int): DataFrame =
    rougeNOrdersFromCensus(pairs,
      gramCensus(pairs, "reference", maxN),
      gramCensus(pairs, "candidate", maxN), maxN)

  /** [[rougeNOrders]] over PREBUILT side censuses (see [[gramCensus]]).
   * Contract: each census holds exactly orders 1..maxN for the same
   * `pairs` — a census built at a larger maxN must be pre-filtered
   * (`where(col("n") <= maxN)`) by the caller; the filter sits above a
   * cached census subplan, so plan-keyed substitution still hits. */
  def rougeNOrdersFromCensus(pairs: DataFrame, refCensus: DataFrame,
      candCensus: DataFrame, maxN: Int): DataFrame = {
    require(maxN >= 1, "maxN must be >= 1")
    val ref = refCensus.withColumnRenamed("c", "cr")
    val cand = candCensus.withColumnRenamed("c", "cc")
    val overlap = ref.join(cand, Seq("id", "n", "g"))
      .groupBy(col("id"), col("n"))
      .agg(sum(least(col("cr"), col("cc"))).as("overlap"))
    val rTot = ref.groupBy(col("id"), col("n")).agg(sum(col("cr")).as("ref_grams"))
    val cTot = cand.groupBy(col("id"), col("n")).agg(sum(col("cc")).as("cand_grams"))
    pairs.select(col("id"), explode(sequence(lit(1), lit(maxN))).as("n"))
      .join(rTot, Seq("id", "n"), "left")
      .join(cTot, Seq("id", "n"), "left")
      .join(overlap, Seq("id", "n"), "left")
      .select(col("id"), col("n").cast("int").as("n"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        col("ref_grams"), col("cand_grams"))
      .select(col("id"), col("n"), col("overlap"),
        col("ref_grams"), col("cand_grams"),
        when(col("ref_grams").isNotNull,
          expr("(1000 * overlap) div ref_grams")).as("recall_pm"),
        when(col("cand_grams").isNotNull,
          expr("(1000 * overlap) div cand_grams")).as("precision_pm"))
      .select(col("id"), col("n"), col("overlap"),
        col("ref_grams"), col("cand_grams"),
        col("recall_pm"), col("precision_pm"),
        when(col("recall_pm").isNotNull && col("precision_pm").isNotNull,
          when(col("recall_pm") + col("precision_pm") > 0,
            expr("(2 * precision_pm * recall_pm) div (precision_pm + recall_pm)"))
            .otherwise(lit(0L))).as("f1_pm"))
  }

  /**
   * BLEU modified n-gram precisions (Papineni et al. 2002) for orders
   * 1..maxN in ONE pass — the candidate-side counterpart of [[rougeN]]:
   * per (id, n), clipped overlap (candidate counts clipped at the
   * reference's — the "modified" in modified precision), candidate gram
   * total, `precision_pm`, plus the per-pair length columns and
   * `brevity_pm` = (1000·cand_len) div ref_len that the brevity penalty is
   * computed from. One row per (pair, order), orders with a gramless
   * candidate carrying NULL precision.
   *
   * The composite BLEU score (geometric mean × exp brevity penalty) is
   * deliberately NOT computed here: exp/log are not engine-exact, and the
   * auditable parts — the per-order precisions and the length ratio — are;
   * consumers compose the scalar with whatever smoothing they use.
   *
   * Scale posture: unlike four [[rougeN]] calls, ALL orders explode into
   * one tagged (id, n, gram) census per side — one shuffle per side
   * regardless of maxN, then the same equi clip join and per-(id, n)
   * rollups. Linear in token volume × maxN.
   */
  /** All gram orders 1..maxN in one tagged array — the single-pass census
   * feed shared by [[bleuPrecisions]] and [[corpusGenerationEval]] — from
   * a MATERIALIZED per-word hash array (see [[wordHashes]]). Orders unroll
   * statically (`gramKeyAt` builds its rotate-XOR per order at plan time),
   * concat'd in order — the array feeds an explode + groupBy, so element
   * order is immaterial. */
  private def gramsAllOrders(hs: Column, maxN: Int): Column = {
    val emptyGrams = s"cast(array() as array<struct<n:int,g:bigint>>)"
    concat((1 to maxN).map { nn =>
      when(size(hs) >= nn,
        transform(sequence(lit(0), size(hs) - nn),
          i => struct(lit(nn).as("n"), T.gramKeyAt(hs, i, nn).as("g"))))
        .otherwise(expr(emptyGrams))
    }: _*)
  }

  def bleuPrecisions(pairs: DataFrame, maxN: Int = 4): DataFrame =
    bleuPrecisionsFromCensus(pairs,
      gramCensus(pairs, "reference", maxN),
      gramCensus(pairs, "candidate", maxN), maxN)

  /** [[bleuPrecisions]] over PREBUILT side censuses — same census
   * contract as [[rougeNOrdersFromCensus]]. */
  def bleuPrecisionsFromCensus(pairs: DataFrame, refCensus: DataFrame,
      candCensus: DataFrame, maxN: Int): DataFrame = {
    require(maxN >= 1, "maxN must be >= 1")
    val ref = refCensus.withColumnRenamed("c", "cr")
    val cand = candCensus.withColumnRenamed("c", "cc")
    val clip = ref.join(cand, Seq("id", "n", "g"))
      .groupBy(col("id"), col("n"))
      .agg(sum(least(col("cr"), col("cc"))).as("overlap"))
    val cTot = cand.groupBy(col("id"), col("n"))
      .agg(sum(col("cc")).as("cand_grams"))
    pairs.select(col("id"),
        size(toks(col("reference"))).cast("long").as("ref_len"),
        size(toks(col("candidate"))).cast("long").as("cand_len"),
        explode(sequence(lit(1), lit(maxN))).as("n"))
      .join(cTot, Seq("id", "n"), "left")
      .join(clip, Seq("id", "n"), "left")
      .select(col("id"), col("n"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        col("cand_grams"), col("ref_len"), col("cand_len"))
      .select(col("id"), col("n"), col("overlap"), col("cand_grams"),
        col("ref_len"), col("cand_len"),
        when(col("cand_grams").isNotNull,
          expr("(1000 * overlap) div cand_grams")).as("precision_pm"),
        when(col("ref_len") > 0,
          expr("(1000 * cand_len) div ref_len")).as("brevity_pm"))
  }

  /**
   * The brevity-penalty lookup grid: centi-quantized length ratio
   * `q = (100·Σref_len) div Σcand_len` (only consulted when the corpus
   * candidate is SHORTER than the reference, so q ≥ 100; clamped at 300 —
   * beyond 3× deficit BP has decayed to its exp(−2) ≈ 135‰ floor and the
   * corpus is degenerate anyway) → `bp_pm = ⌊1000·exp(1 − q/100)⌋`. The
   * exp is DRIVER-evaluated once over this bounded 201-entry grid and
   * embedded as plan literals (the q154 log-discount technique), so the
   * engine itself computes no transcendental: the Spark plan and the
   * DuckDB oracle consume the SAME integer table and the composite is
   * engine-exact by construction. */
  val brevityPenaltyGrid: Seq[(Long, Long)] =
    (100L to 300L).map(q =>
      q -> math.floor(1000.0 * math.exp(1.0 - q / 100.0)).toLong)

  /**
   * CORPUS-level generation scorecard — the pipeline-facing gate above the
   * per-pair metrics of [[rougeN]]/[[bleuPrecisions]]: ONE row of
   * micro-averaged ROUGE-1/ROUGE-2 and corpus BLEU-4 over the whole
   * (reference, candidate) table. Micro-averaging and corpus BLEU pool the
   * COUNTS first (Σ clipped overlap / Σ gram totals per order — Papineni's
   * corpus definition), which is NOT the mean of per-sentence scores: one
   * long pair outweighs many short ones, and a single zero-precision
   * sentence does not zero the corpus (the classic trap, pinned with a
   * hand fixture in TextEvalSpec).
   *
   * Engine-exactness of the composite, term by term:
   *   - per-order precisions / ROUGE P·R·F1: ×1e3 integer floor division
   *     over exact counts, as everywhere in this file;
   *   - the geometric mean of p1..p4 (‰): an EXACT integer fourth root —
   *     `⌊⁴√(p1·p2·p3·p4)⌋ = ⌊√⌊√(p1·p2·p3·p4)⌋⌋` (the nested-floor radical
   *     identity); the product is ≤ 1e12 < 2^53 so it is exact in a double,
   *     and IEEE-754 requires `sqrt` to be correctly rounded, so BOTH
   *     engines floor the same double — no transcendental, no literal
   *     table, bit-exact;
   *   - the brevity penalty: [[brevityPenaltyGrid]] literals (see there);
   *   - `bleu_pm = (bp_pm · gm_pm) div 1000`.
   *
   * NULL contract: `bleu_pm`/`gm_pm` are NULL when any order has a gramless
   * candidate corpus-wide (p undefined — the un-smoothed definition; a
   * DEFINED-but-zero precision yields gm = 0, not NULL); ROUGE P/R are NULL
   * when the respective side has no grams at that order.
   *
   * Scale posture: the same one-tagged-census-per-side shape as
   * [[bleuPrecisions]] (one shuffle per side for all four orders), but
   * everything collapses to per-ORDER sums (≤ 4 rows) instead of per-pair
   * rows, then one broadcast combine — output is 1 row, no windows, linear
   * in token volume.
   */
  def corpusGenerationEval(pairs: DataFrame): DataFrame =
    corpusGenerationEvalFromCensus(pairs,
      gramCensus(pairs, "reference", 4),
      gramCensus(pairs, "candidate", 4))

  /** [[corpusGenerationEval]] over PREBUILT side censuses (orders 1..4) —
   * same census contract as [[rougeNOrdersFromCensus]]. */
  def corpusGenerationEvalFromCensus(pairs: DataFrame, refCensus: DataFrame,
      candCensus: DataFrame): DataFrame = {
    val maxN = 4
    val ref = refCensus.withColumnRenamed("c", "cr")
    val cand = candCensus.withColumnRenamed("c", "cc")
    // corpus pools: clipped overlap still clips WITHIN each pair (the
    // per-(id, n, g) equi-join), only the SUMS pool corpus-wide
    val clip = ref.join(cand, Seq("id", "n", "g"))
      .groupBy(col("n")).agg(sum(least(col("cr"), col("cc"))).as("ov"))
    val rTot = ref.groupBy(col("n")).agg(sum(col("cr")).as("rt"))
    val cTot = cand.groupBy(col("n")).agg(sum(col("cc")).as("ct"))
    // pivot each ≤ maxN-row frame to ONE wide row (sum over an absent order
    // is NULL = undefined, preserving the per-side NULL contract); combining
    // three 1-row frames is then broadcast crosses, never a full-outer
    // sort-merge join on the order key
    def pivot1(df: DataFrame, v: String): DataFrame = {
      val aggs = (1 to maxN).map(n =>
        sum(when(col("n") === n, col(v))).as(s"$v$n"))
      df.agg(aggs.head, aggs.tail: _*)
    }
    val flat = pivot1(clip, "ov")
      .crossJoin(broadcast(pivot1(rTot, "rt")))
      .crossJoin(broadcast(pivot1(cTot, "ct")))
    val lens = pairs.select(
        size(toks(col("reference"))).cast("long").as("rl"),
        size(toks(col("candidate"))).cast("long").as("cl"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("rl")), lit(0L)).as("ref_tokens"),
        coalesce(sum(col("cl")), lit(0L)).as("cand_tokens"))

    def precPm(n: Int): Column =
      when(col(s"ct$n").isNotNull && col(s"ct$n") > 0,
        expr(s"(1000 * coalesce(ov$n, 0)) div ct$n"))
    def recPm(n: Int): Column =
      when(col(s"rt$n").isNotNull && col(s"rt$n") > 0,
        expr(s"(1000 * coalesce(ov$n, 0)) div rt$n"))
    def f1Pm(n: Int): Column =
      when(col(s"rouge${n}_precision_pm").isNotNull &&
           col(s"rouge${n}_recall_pm").isNotNull,
        when(col(s"rouge${n}_precision_pm") + col(s"rouge${n}_recall_pm") > 0,
          expr(s"(2 * rouge${n}_precision_pm * rouge${n}_recall_pm) div " +
            s"(rouge${n}_precision_pm + rouge${n}_recall_pm)"))
          .otherwise(lit(0L)))
    val bpMap = typedLit(brevityPenaltyGrid.toMap)

    lens.crossJoin(broadcast(flat))
      .select(col("n_pairs") +: col("ref_tokens") +: col("cand_tokens") +:
        ((1 to 2).flatMap(n => Seq(
          precPm(n).as(s"rouge${n}_precision_pm"),
          recPm(n).as(s"rouge${n}_recall_pm"))) ++
         (1 to maxN).map(n => precPm(n).as(s"p${n}_pm"))): _*)
      .withColumn("rouge1_f1_pm", f1Pm(1))
      .withColumn("rouge2_f1_pm", f1Pm(2))
      .withColumn("gm_pm",
        when((1 to maxN).map(n => col(s"p${n}_pm").isNotNull).reduce(_ && _),
          expr("cast(floor(sqrt(floor(sqrt(cast(" +
            (1 to maxN).map(n => s"p${n}_pm").mkString(" * ") +
            " as double))))) as bigint)")))
      .withColumn("bp_pm",
        when(col("cand_tokens") >= col("ref_tokens"), lit(1000L))
          .otherwise(when(col("cand_tokens") > 0,
            element_at(bpMap,
              least(lit(300L), expr("(100 * ref_tokens) div cand_tokens"))))))
      .withColumn("bleu_pm",
        when(col("gm_pm").isNotNull && col("bp_pm").isNotNull,
          expr("(bp_pm * gm_pm) div 1000")))
      .select(col("n_pairs"), col("ref_tokens"), col("cand_tokens"),
        col("rouge1_precision_pm"), col("rouge1_recall_pm"), col("rouge1_f1_pm"),
        col("rouge2_precision_pm"), col("rouge2_recall_pm"), col("rouge2_f1_pm"),
        col("p1_pm"), col("p2_pm"), col("p3_pm"), col("p4_pm"),
        col("gm_pm"), col("bp_pm"), col("bleu_pm"))
  }
}
