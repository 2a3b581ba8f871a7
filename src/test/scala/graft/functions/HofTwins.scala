package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The interpreted higher-order-function twins of native kernels that
 * [[graft.plans.GraftExtensions]] registers, built from Spark's built-in
 * expressions only. Production plans only the kernels; the specs compare
 * each kernel with its twin here.
 */
object HofTwins {

  import TextFunctions.hash60

  /** Mersenne prime modulus for the double-hashing MinHash family — keeps all
   * intermediate products < 2^36, so the arithmetic can't overflow in either
   * engine (DuckDB raises on BIGINT overflow; Spark wraps — both are avoided). */
  final val MinhashP = 2147483647L

  /** The two base hashes of the Kirsch-Mitzenmacher family: 2 md5 calls per
   * shingle, from which all k MinHash functions derive as `(b1 + i*b2) mod P`. */
  def minhashBases(shingleCol: Column): (Column, Column) = (
    transform(shingleCol, s => hash60(s) % MinhashP),
    transform(shingleCol, s => hash60(concat(lit("#"), s)) % MinhashP))

  /**
   * MinHash signature from precomputed base-hash arrays (see [[minhashBases]]):
   * `sig[i] = min over shingles of (b1 + i*b2) mod P` — the twin of
   * `minhash_signature` ([[graft.plans.MinHashSignatureExpr]]). Callers must
   * materialize b1/b2 in their own projection — they are referenced k times
   * here, and Catalyst's CollapseProject keeps a non-cheap multiply-referenced
   * alias in its own project, so the 2-md5-per-shingle work runs once per row.
   */
  def minhashSignatureFromBases(b1: Column, b2: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(zip_with(b1, b2, (x, y) => (x + lit(i.toLong) * y) % MinhashP))): _*)

  /**
   * 62-bit SimHash over a *precomputed* feature-hash array column named by
   * `hashesField` — the twin of `simhash62` ([[graft.plans.SimHash62Expr]]):
   * bit b of the signature is set when the majority of feature hashes have
   * bit b set (+1/-1 vote). Built as one SQL expression because
   * `shiftleft/shiftright` with a *column* shift amount is only reachable
   * through the SQL parser.
   */
  def simhash62(hashesField: String): Column = expr(
    s"""aggregate(
          $hashesField,
          array_repeat(0, 62),
          (acc, h) -> zip_with(acc, sequence(0, 61),
                        (v, b) -> v + IF((shiftright(h, b) & 1) = 1, 1, -1)),
          votes -> aggregate(
            zip_with(votes, sequence(0, 61),
              (v, b) -> IF(v > 0, shiftleft(1L, b), 0L)),
            0L,
            (s, x) -> s + x))""")

  /**
   * Winnowing fingerprint selection (Schleimer et al. 2003) — the twin of
   * `winnow_select` ([[graft.plans.WinnowSelectExpr]]): hash every word
   * `k`-gram of token array `ws`, then from every window of `w` consecutive
   * gram hashes keep the minimum (ties → leftmost position; struct(h, p)
   * ordering makes `array_min` pick it). Returns the distinct selected
   * array<struct<h: long, p: int>>. Documents with fewer than k tokens yield
   * no grams: callers filter them.
   */
  def winnow(ws: Column, k: Int, w: Int): Column = {
    val grams = transform(sequence(lit(0), size(ws) - k),
      i => struct(hash60(array_join(slice(ws, i + 1, lit(k)), " ")).as("h"),
        i.as("p")))
    // LET-BIND the gram array once per row (transform over a 1-element
    // array): inlining `grams` into the window lambda re-hashes every k-gram
    // once PER WINDOW (subexpression elimination does not cross lambda
    // boundaries), which measured 70× slower at sf0.01.
    // ng >= w: windows 0..ng-w of length w; 1 <= ng < w: ONE window of all grams
    element_at(transform(array(grams), gs =>
      array_distinct(transform(
        sequence(lit(0), greatest(size(gs) - w, lit(0))),
        i => array_min(slice(gs, i + 1, least(lit(w), size(gs))))))), 1)
  }

  /** `(id, t)` → `(id, len, nd, s2, max_run, nsp)`, the twin of `char_stats`
   * ([[graft.plans.CharStatsExpr]]). Both Σ cnt² and the runs come from ONE
   * primitive: the equal-run BOUNDARY positions of an array (over the
   * in-row-sorted chars, runs ARE the per-char counts; over the raw chars,
   * runs are the repeats); consecutive-boundary diffs give run lengths, and
   * `nd` falls out free as #runs(sorted). */
  def charStats(base: DataFrame): DataFrame = {
    // 1-based positions i where a maximal equal-run of `a` ends at element i
    val boundaries = (a: Column) =>
      when(size(a) >= 2,
        filter(sequence(lit(1), size(a) - 1),
          i => !(element_at(a, i + 1) === element_at(a, i))))
        .otherwise(array().cast("array<int>"))
    // [0] ++ bnds ++ [n] → adjacent diffs = maximal-run lengths (n=0 → [0])
    val runLens = (a: Column, bnds: Column) => {
      val full = concat(array(lit(0)), bnds, array(size(a)))
      zip_with(slice(full, lit(2), size(full) - 1),
        slice(full, lit(1), size(full) - 1), (x, y) => x - y)
    }
    base
      .select(
        col("id"),
        length(col("t")).cast("long").as("len"),
        (length(col("t")) - length(translate(col("t"), " \t\n\r", ""))).cast("long").as("nsp"),
        when(length(col("t")) > 0, split(col("t"), ""))
          .otherwise(array().cast("array<string>")).as("cs"))
      .select(col("id"), col("len"), col("nsp"), col("cs"),
        array_sort(col("cs")).as("sc"))
      .select(col("id"), col("len"), col("nsp"), col("cs"), col("sc"),
        boundaries(col("sc")).as("bs"), boundaries(col("cs")).as("bu"))
      .select(
        col("id"), col("len"), col("nsp"),
        when(col("len") > 0, size(col("bs")) + 1).otherwise(0).as("nd"),
        aggregate(runLens(col("sc"), col("bs")), lit(0L),
          (acc, x) => acc + x.cast("long") * x.cast("long")).as("s2"),
        when(col("len") > 0, array_max(runLens(col("cs"), col("bu"))))
          .otherwise(0).cast("long").as("max_run"))
  }

  /**
   * Random-hyperplane LSH signature as an `nBits × dim`-term built-in
   * expression tree — the twin of `hyperplane_sig`
   * ([[graft.plans.HyperplaneSignatureExpr]]): plane j's i-th weight is ±1
   * from the parity of md5(`"j:i"`), computed once at plan-build time.
   */
  def hyperplaneSignature(v: Column, dim: Int, nBits: Int): Column = {
    val bits = (0 until nBits).map { j =>
      val proj = (0 until dim).map { i =>
        val w = if (VectorFunctions.md5ParityOf(s"$j:$i") == 1) 1.0 else -1.0
        element_at(v, i + 1) * lit(w)
      }.reduce(_ + _)
      when(proj > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }
}
