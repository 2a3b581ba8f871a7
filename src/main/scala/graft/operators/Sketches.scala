package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/**
 * Deterministic cardinality sketch: KMV (k-minimum values). Hash every item
 * with the engine's md5-based 60-bit hash, keep each group's k smallest
 * DISTINCT hash values, and estimate the group's distinct count as
 * `(k-1) * 2^60 / h_k` (the classic bottom-k estimator: for D uniform
 * hashes, the k-th minimum concentrates near `k/D * 2^60`).
 *
 * Unlike HLL/theta sketches, every step here is DETERMINISTIC and engine
 * portable — same md5, same k minima, same IEEE division — so the
 * APPROXIMATE estimate itself is oracle-gated (q54), the q36/q39 pattern.
 *
 * Scale: with the native `bottomk_distinct` aggregate
 * ([[graft.plans.BottomKDistinctExpr]]) the sketch builds in ONE hash
 * aggregation — each task deduplicates and truncates map-side, so the
 * exchange carries ≈ tasks × groups × k longs, never every distinct hash in
 * the corpus, and no sort runs. Sketch property: bottom-k sets MERGE (union
 * then re-take k minima) — exactly the aggregate's partial merge — so
 * partial sketches from partitions/days combine losslessly, the reason
 * production pipelines store them.
 */
object Sketches {

  /**
   * Per-group KMV over `item`: returns (group, n_hashes, kth_min, estimate).
   * Groups with fewer than k distinct items report their EXACT distinct
   * count (the sketch is lossless below k — `n_hashes < k` ⟹ every hash is
   * kept).
   *
   * The bounded set is the native map-side `bottomk_distinct` aggregate; a
   * session without GraftExtensions fails at analysis naming it.
   */
  def kmvDistinct(df: DataFrame, group: Column, item: Column, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    // null items are not distinct values: drop them BEFORE hashing, like the
    // other sketch builders — without this the aggregate would crash on an
    // all-null group (empty bottom-k set -> element_at(.., 0))
    val hashed = df.where(item.isNotNull)
      .select(group.as("g"), TextFunctions.hash60(item).as("h"))
    hashed.groupBy(col("g"))
      .agg(call_function("bottomk_distinct", col("h"), lit(k)).as("bk"))
      .select(col("g"), size(col("bk")).cast("long").as("n_hashes"),
        element_at(col("bk"), size(col("bk"))).as("kth_min"))
      .select(col("g"), col("n_hashes"), col("kth_min"),
        when(col("n_hashes") < k, col("n_hashes").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 60)) /
            col("kth_min").cast("double"))
          .as("estimate"))
  }

  /** HLL alpha bias-correction constant for m registers (published values). */
  private def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** `alpha * m^2 * 2^maxRho` precomputed as ONE double — the oracle SQL
   * embeds this exact literal (double toString round-trips in both engines),
   * so multiply order can't diverge between Spark and DuckDB. */
  def hllAlphaNum(p: Int): Double = {
    val m = 1 << p
    hllAlpha(m) * m * m * math.pow(2.0, 61 - p)
  }

  /**
   * Deterministic HyperLogLog: per-group distinct estimate from m = 2^p
   * registers over the engine's md5-based 60-bit hash. Bucket = `h mod m`,
   * register = max over the bucket's items of `rho(h >> p)` where rho is the
   * leading-zero count of the remaining `60-p` bits plus one (computed
   * portably as `61 - p - bitlength`, with `bin()` string length as the bit
   * length in both engines). The harmonic mean runs in SCALED INTEGERS —
   * `sum(2^(maxRho - register))` as a BIGINT, empty buckets contributing
   * `2^maxRho` — so the sum is exact and order-free; the only FP ops are one
   * final division and (on the small-range branch) one `ln`, both
   * deterministic, so the APPROXIMATE estimate itself is oracle-gated (q61,
   * the q54/q58 pattern).
   *
   * Scale: two hash aggregations — (group, bucket) max, then group — with
   * map-side partial combine; the exchange carries ≤ tasks × groups × m
   * register rows, never the items. Register vectors MERGE by element-wise
   * max (exactly the first aggregation's partial merge), so per-partition/day
   * sketches combine losslessly: the same posture as the KMV bottom-k sets
   * and the Count-Min counter tables, at 48 bytes × m per group.
   */
  def hllDistinct(df: DataFrame, group: Column, item: Column, p: Int = 5): DataFrame =
    hllEstimate(hllRegisters(df, group, item, p), p)

  /**
   * The sketch half of [[hllDistinct]]: per-(group, bucket) max-rho register
   * rows — the ≤ m-row-per-group summary a 100 TB pipeline would STORE per
   * partition/day. Register sets merge by per-bucket max (q76 gates the
   * merged estimate against a from-scratch oracle recomputation).
   */
  def hllRegisters(df: DataFrame, group: Column, item: Column, p: Int): DataFrame = {
    require(p >= 4 && p <= 12, "HLL needs 4 <= p <= 12")
    val m = 1 << p
    val maxRho = 61 - p // h < 2^60, so h >> p has 60-p bits; rho in [1, 61-p]
    val h = TextFunctions.hash60(item)
    val w = shiftright(h, p)
    val rho = when(w === 0, lit(maxRho)).otherwise(lit(maxRho) - length(bin(w)))
    // null items carry no distinct-count information and would otherwise
    // produce a null register row (and a null-ordering divergence vs the
    // oracle) — drop them at the source
    df.where(item.isNotNull)
      .select(group.as("g"), pmod(h, lit(m.toLong)).as("bucket"), rho.as("rho"))
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rho")).as("r"))
  }

  /** The estimator half of [[hllDistinct]]: (g, bucket, r) register rows →
   * (g, n_buckets, estimate) via the scaled-integer harmonic mean. */
  def hllEstimate(regs: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 12, "HLL needs 4 <= p <= 12")
    val m = 1 << p
    val maxRho = 61 - p
    val alphaNum = hllAlphaNum(p)
    val agg = regs.groupBy(col("g"))
      .agg(count(lit(1)).as("n_buckets"),
        // column shift amounts are only reachable through the SQL parser
        expr(s"sum(shiftleft(1L, $maxRho - r))").as("s_present"))
    val sTotal = (col("s_present") +
      (lit(m.toLong) - col("n_buckets")) * lit(1L << maxRho)).cast("double")
    val eRaw = lit(alphaNum) / sTotal
    val zeros = (lit(m.toLong) - col("n_buckets")).cast("double")
    agg.select(col("g"), col("n_buckets"),
      when(eRaw <= lit(2.5 * m) && zeros > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / zeros)) // linear counting
        .otherwise(eRaw)
        .as("estimate"))
  }

  /**
   * Fixed-bin histogram sketch over `value` clamped to [lo, hi): per-group
   * bin counts in ONE map-side-combined aggregation — the exchange carries
   * ≤ tasks × groups × bins partial counts and the finished sketch is
   * ≤ groups × bins rows at ANY input size. Histograms MERGE by adding
   * counts bin-wise (the Count-Min posture), so per-partition/day sketches
   * combine losslessly — the deterministic answer to "t-digest at scale"
   * when the metric's range is known (the common case for bounded metrics).
   */
  def histogram(df: DataFrame, group: Column, value: Column,
                lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 2 && hi > lo, "histogram needs bins >= 2 and hi > lo")
    val width = (hi - lo) / bins
    // null values would land in a null bin, which Spark windows order FIRST
    // and DuckDB orders LAST — an engine-divergence trap; they carry no
    // quantile information, so drop them at the source
    df.where(value.isNotNull)
      .select(group.as("g"),
        least(greatest(floor((value - lo) / width), lit(0L)), lit(bins - 1L)).as("bin"))
      .groupBy(col("g"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Quantile estimates from a [[histogram]] sketch: for each q, the first
   * bin whose cumulative count reaches q·N, linearly interpolated inside the
   * bin. All arithmetic is deterministic (exact long counts, one double
   * interpolation), so the APPROXIMATE estimates are oracle-gated (q68).
   * Emits (g, q, n, estimate) rows; windows run over ≤ bins rows per group.
   */
  def histogramQuantiles(hist: DataFrame, qs: Seq[Double],
                         lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val byG = Window.partitionBy(col("g"))
    val c = hist
      .withColumn("cum", sum(col("cnt")).over(byG.orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(byG))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .where(col("cum").cast("double") >= col("q") * col("n").cast("double"))
    c.groupBy(col("g"), col("q"))
      // min(struct) picks the smallest qualifying bin with its counts
      .agg(min(struct(col("bin"), col("cnt"), col("cum"), col("n"))).as("s"))
      .select(col("g"), col("q"), col("s.n").as("n"),
        (lit(lo) + lit(width) * (col("s.bin").cast("double") +
          (col("q") * col("s.n").cast("double") -
            (col("s.cum") - col("s.cnt")).cast("double")) /
            col("s.cnt").cast("double")))
          .as("estimate"))
  }

  /** The k seeded bit positions of the Bloom family: position i of `item` is
   * `hash60("(100+i):" + item) mod m` — md5-deterministic, so an oracle
   * rebuilds the identical bitset. Shared by build and probe. */
  private def bloomPositions(item: Column, m: Int, k: Int): Column =
    array((0 until k).map(i =>
      pmod(TextFunctions.seededHash(100 + i, item), lit(m.toLong))): _*)

  /**
   * Deterministic Bloom filter over `item`: the DISTINCT set-bit positions of
   * an m-bit filter with k seeded md5 hashes. ONE aggregation; the result is
   * ≤ m rows TOTAL no matter how many items streamed through — broadcast
   * territory, the compact-membership posture for decontamination against a
   * huge held-out set. Bitsets MERGE by union (concat + distinct), so
   * per-partition/day filters combine losslessly like the other three sketch
   * families (bottom-k sets, counter tables, register vectors).
   */
  def bloomBits(df: DataFrame, item: Column, m: Int, k: Int): DataFrame = {
    require(m >= 64 && k >= 1, "Bloom needs m >= 64 bits and k >= 1 hashes")
    // a null item hashes to null positions — meaningless bits; drop at source
    df.where(item.isNotNull)
      .select(explode(bloomPositions(item, m, k)).as("pos")).distinct()
  }

  /**
   * Bloom membership probe over `(id, item)` rows: `maybe_present` iff ALL k
   * positions are set. NO false negatives ever; false positives at the
   * classic (1 − e^(−kn/m))^k rate — the one-sided guarantee that makes the
   * filter safe for decontamination (it can only over-drop, never leak).
   * `bits` broadcasts (≤ m rows); the probe side is never shuffled.
   */
  def bloomProbe(bits: DataFrame, probes: DataFrame, item: Column,
                 m: Int, k: Int): DataFrame =
    probes.select(col("id"), item.as("item"),
        explode(bloomPositions(item, m, k)).as("pos"))
      .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
      .groupBy(col("id"), col("item"))
      // hits == TOTAL position rows, not == k: duplicated (id, item) probe
      // rows contribute 2k position rows, and `== k` would turn a true
      // member into a false negative — the one failure mode the filter's
      // one-sided guarantee forbids
      .agg((count(col("hit")) === count(lit(1))).as("maybe_present"))

  /** The d seeded bucket columns of the Count-Min family: row i buckets by
   * `hash60("i:" + item) mod w` — md5-deterministic, so an oracle rebuilds
   * the identical counter table. */
  private def cmBuckets(item: Column, d: Int, w: Int): Column =
    posexplode(array((0 until d).map(i =>
      pmod(TextFunctions.seededHash(i, item), lit(w.toLong))): _*))

  /**
   * Count-Min sketch counter table over `item`: d rows × w buckets, counter =
   * number of items hashing there. The frequency workhorse sketch: point
   * estimates NEVER underestimate, overestimate by at most the collision mass
   * (ε ≈ e/w of total count with probability 1 − e^−d).
   *
   * Scale: one aggregation — partial counts combine map-side, the exchange
   * carries ≤ tasks × d × w rows, and the finished table is d × w rows
   * TOTAL (broadcast territory) no matter how many items streamed through.
   * Counter tables MERGE by adding counters cell-wise, so per-partition/day
   * sketches combine losslessly — same posture as the KMV bottom-k sets.
   */
  def countMin(df: DataFrame, item: Column, d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 2, "Count-Min needs d >= 1 rows and w >= 2 buckets")
    df.select(cmBuckets(item, d, w))
      .withColumnRenamed("pos", "r")
      .withColumnRenamed("col", "bucket")
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-group Count-Min counter tables — the independently-built summaries
   * a pipeline stores per source/partition/day. Tables merge by CELL-WISE
   * ADDITION (sum over groups per (r, bucket)); q77 gates the merged table
   * and its probe estimates against a from-scratch oracle recomputation. */
  def countMinBy(df: DataFrame, group: Column, item: Column,
                 d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 2, "Count-Min needs d >= 1 rows and w >= 2 buckets")
    df.select(group.as("g"), cmBuckets(item, d, w))
      .withColumnRenamed("pos", "r")
      .withColumnRenamed("col", "bucket")
      .groupBy(col("g"), col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Count-Min point queries: each probe's estimate is the MINIMUM of its d
   * counters. `probes` carries a `term` column; the counter table is tiny by
   * construction, so the join broadcasts and the corpus is never re-read.
   * Probes absent from every counter row estimate 0 (left join + coalesce).
   */
  def countMinEstimate(counters: DataFrame, probes: DataFrame,
                       d: Int, w: Int): DataFrame = {
    val keyed = probes.select(col("term"), cmBuckets(col("term"), d, w))
      .withColumnRenamed("pos", "r")
      .withColumnRenamed("col", "bucket")
    keyed.join(broadcast(counters), Seq("r", "bucket"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_estimate"))
  }
}
