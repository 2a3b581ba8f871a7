package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Embedding-vector column builders (`Array[Float]` columns): cosine similarity
 * and the JL projection as pure built-in expressions, random-hyperplane LSH
 * signatures through their native kernels.
 *
 * Numeric determinism: everything is computed in DOUBLE with a left fold
 * (`aggregate` with 0.0 init), which is bit-identical to DuckDB's
 * `list_reduce` left fold over `DOUBLE[]` — so `round(x, 4)` values hash-match
 * the oracle exactly.
 */
object VectorFunctions {

  /** Cast a float-array column to double for exact shared arithmetic. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Left-fold sum of an array<double>. */
  private def fsum(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    fsum(zip_with(a, b, (x, y) => x * y))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(fsum(transform(a, x => x * x)))

  /** Cosine similarity in double precision; 0 for zero-norm vectors.
   * Pure-built-in formulation — works on any session. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0, 0.0).otherwise(d / nn)
  }

  /** Native codegen'd cosine ([[graft.plans.CosineSimilarityExpr]], registered
   * by GraftExtensions) — bit-identical values, ~5x faster than the
   * interpreted HOF folds. Requires `spark.sql.extensions=graft.plans.GraftExtensions`. */
  def cosineNative(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /**
   * Random-hyperplane LSH signature (`nBits` sign bits) through the codegen'd
   * [[graft.plans.HyperplaneSignatureExpr]] (registered by GraftExtensions):
   * plane j's i-th weight is ±1 from the parity of md5(`"j:i"`)
   * ([[md5ParityOf]]) — fully deterministic, no stored model, reproducible
   * on any engine. Vectors with small angles share signatures with high
   * probability. ScaleOpsSpec pins it to the built-in expression-tree twin
   * kept in test code.
   */
  def hyperplaneSignatureNative(v: Column, dim: Int, nBits: Int): Column =
    call_function("hyperplane_sig", v, lit(dim), lit(nBits))

  /** Array-of-long hyperplane signature ([[graft.plans.HyperplaneSignatureWordsExpr]]):
   * word t carries planes [t·bitsPerWord, (t+1)·bitsPerWord) of the same
   * deterministic family — the per-band key form past the 62-bit single-long
   * ceiling (key-bits-per-band doctrine, VERDICT r14 #6). */
  def hyperplaneSignatureWordsNative(v: Column, dim: Int, bitsPerWord: Int,
                                     nWords: Int): Column =
    call_function("hyperplane_sig_words", v, lit(dim), lit(bitsPerWord), lit(nWords))

  /** Parity of the last md5 byte of `s` — the DuckDB twin is
   * `CAST(concat('0x', substr(md5(s), 32, 1)) AS INT) % 2` (hex char 32 is
   * the low nibble of byte 15, so its low bit is the byte's parity). */
  private[graft] def md5ParityOf(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d(d.length - 1) & 1
  }

  /**
   * The ±1 sign matrix of the Johnson-Lindenstrauss projection
   * [[jlProject]]: `signs(k)(i)` is the weight of input dimension `i` in
   * output component `k`, derived from the parity of md5("jl:k:i") — fully
   * deterministic, no stored model, reproducible in any engine. Driver-side
   * constants: 16×64 signs cost nothing at plan-build time, where computing
   * them per ROW would be outDim×dim md5 calls per vector.
   */
  def jlSigns(dim: Int, outDim: Int): Seq[Seq[Double]] =
    (0 until outDim).map(k => (0 until dim).map(i =>
      if (md5ParityOf(s"jl:$k:$i") == 1) 1.0 else -1.0))

  /**
   * Johnson-Lindenstrauss random projection (Achlioptas 2003, the ±1
   * database-friendly variant): `proj(k) = Σ_i v(i) · signs(k)(i)`, mapping a
   * `dim`-vector to `signs.length` components whose squared norm is an
   * unbiased estimate of `signs.length · ‖v‖²`. A narrow per-row map — at
   * 100 TB this is the scan-speed dimensionality-reduction step in front of
   * any kNN / clustering stage, cutting every downstream distance to
   * `outDim` multiply-adds. Each component is a 0.0-seeded left fold in
   * index order — bit-identical to the DuckDB `list_reduce` twin, the
   * [[cosine]] determinism contract.
   */
  def jlProject(v: Column, signs: Seq[Seq[Double]]): Column =
    array(signs.map { row =>
      aggregate(
        zip_with(v, typedLit(row), (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
}
