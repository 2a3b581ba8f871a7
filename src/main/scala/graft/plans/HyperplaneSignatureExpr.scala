package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/**
 * Native random-hyperplane LSH signature over an `array<double>` embedding —
 * the codegen'd replacement for the `nBits × dim`-term expression tree that
 * its built-in twin (`HofTwins.hyperplaneSignature`, in test code) builds (thousands
 * of Add/Multiply nodes: slow to codegen, slow to evaluate; the kernel is one
 * fused loop over a cached ±1 weight matrix).
 *
 * BIT-IDENTICAL to the built-in formulation and the DuckDB oracle twin:
 * plane j's weight for dimension i is ±1 from the parity of the last md5
 * byte of `"j:i"`, the projection is the same left-to-right double summation,
 * bit j is set iff the projection is strictly positive. Out-of-range or
 * null elements make every projection null in the HOF form, which the
 * `when(proj > 0, ...).otherwise(0)` guard turns into an all-zero signature —
 * the kernel returns 0L for those inputs to match.
 *
 * SQL surface (registered by [[GraftExtensions]]): `hyperplane_sig(vec, dim, nBits)`.
 */
case class HyperplaneSignatureExpr(child: Expression, dim: Int, nBits: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if dim > 0 && nBits > 0 && nBits <= 62 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects array<double> with 0 < nBits <= 62, got ${other.simpleString(10)}, dim=$dim, nBits=$nBits")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneKernel.signature(input.asInstanceOf[ArrayData], dim, nBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HyperplaneKernel.signature($c, $dim, $nBits)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignatureExpr =
    copy(child = newChild)
}

object HyperplaneSignatureExpr {
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("hyperplane_sig"),
    new ExpressionInfo(classOf[HyperplaneSignatureExpr].getName, "hyperplane_sig"),
    (children: Seq[Expression]) => children match {
      case Seq(v, Literal(dim: Int, IntegerType), Literal(nBits: Int, IntegerType)) =>
        HyperplaneSignatureExpr(v, dim, nBits)
      case _ => throw new IllegalArgumentException(
        "usage: hyperplane_sig(array<double>, <int literal dim>, <int literal nBits>)")
    })
}

/**
 * ARRAY-OF-LONG hyperplane signature — [[HyperplaneSignatureExpr]] past the
 * single-long 62-bit ceiling (VERDICT r14 #6: q34's key-bits-per-band
 * doctrine needs bitsPerTable to grow with the corpus decade, and
 * 8 tables × 8 bits already exhausts one long). Word `t` of the result
 * holds the sign bits of planes `[t·bitsPerWord, (t+1)·bitsPerWord)` — the
 * SAME deterministic plane family as the single-long form (md5 parity of
 * "j:i"), so for `bitsPerWord·nWords ≤ 62` word `t` equals bit-slice `t`
 * of `hyperplane_sig(v, dim, bitsPerWord·nWords)` — banding built on the
 * words is value-identical to the shiftright slicing it replaces, and an
 * IEEE-exact ×2-scaled twin still gets a BIT-IDENTICAL signature (every
 * projection doubles, signs unchanged).
 *
 * SQL surface: `hyperplane_sig_words(vec, dim, bitsPerWord, nWords)`.
 */
case class HyperplaneSignatureWordsExpr(child: Expression, dim: Int,
                                        bitsPerWord: Int, nWords: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _)
        if dim > 0 && bitsPerWord > 0 && bitsPerWord <= 62 && nWords > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig_words expects array<double> with 0 < bitsPerWord <= 62 " +
        s"and nWords > 0, got ${other.simpleString(10)}, dim=$dim, " +
        s"bitsPerWord=$bitsPerWord, nWords=$nWords")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_sig_words"

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneKernel.signatureWords(input.asInstanceOf[ArrayData], dim,
      bitsPerWord, nWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.HyperplaneKernel.signatureWords($c, $dim, $bitsPerWord, $nWords)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignatureWordsExpr =
    copy(child = newChild)
}

object HyperplaneSignatureWordsExpr {
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("hyperplane_sig_words"),
    new ExpressionInfo(classOf[HyperplaneSignatureWordsExpr].getName, "hyperplane_sig_words"),
    (children: Seq[Expression]) => children match {
      case Seq(v, Literal(dim: Int, IntegerType), Literal(bpw: Int, IntegerType),
          Literal(nw: Int, IntegerType)) =>
        HyperplaneSignatureWordsExpr(v, dim, bpw, nw)
      case _ => throw new IllegalArgumentException(
        "usage: hyperplane_sig_words(array<double>, <int literal dim>, " +
          "<int literal bitsPerWord>, <int literal nWords>)")
    })
}

/** Per-row kernel with a process-wide cache of the deterministic ±1 weight
 * matrix (md5 parity of "j:i" — identical on any engine, no stored model). */
object HyperplaneKernel {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private def weights(dim: Int, nBits: Int): Array[Double] =
    cache.computeIfAbsent((dim, nBits), { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val w = new Array[Double](nBits * dim)
      var j = 0
      while (j < nBits) {
        var i = 0
        while (i < dim) {
          val d = md.digest(s"$j:$i".getBytes("UTF-8"))
          w(j * dim + i) = if ((d(d.length - 1) & 1) == 1) 1.0 else -1.0
          i += 1
        }
        j += 1
      }
      w
    })

  /** [[signature]] widened to `nWords` longs: word t carries planes
   * [t·bitsPerWord, (t+1)·bitsPerWord) of the SAME weight family, so the
   * words agree bit-for-bit with slices of the single-long signature
   * wherever both are defined. Invalid input (short array, null element)
   * yields all-zero words, matching the single-long guard. */
  def signatureWords(v: ArrayData, dim: Int, bitsPerWord: Int, nWords: Int): ArrayData = {
    val out = new Array[Long](nWords)
    if (v.numElements() >= dim) {
      var ok = true
      var i = 0
      while (ok && i < dim) { if (v.isNullAt(i)) ok = false; i += 1 }
      if (ok) {
        val total = bitsPerWord * nWords
        val w = weights(dim, total)
        var p = 0
        while (p < total) {
          var proj = 0.0
          val off = p * dim
          i = 0
          while (i < dim) { proj += v.getDouble(i) * w(off + i); i += 1 }
          if (proj > 0) out(p / bitsPerWord) |= (1L << (p % bitsPerWord))
          p += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def signature(v: ArrayData, dim: Int, nBits: Int): Long = {
    // HOF parity: element_at past the end or a null element nulls every
    // projection, and the otherwise(0) guard zeroes every bit
    if (v.numElements() < dim) return 0L
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return 0L; i += 1 }
    val w = weights(dim, nBits)
    var sig = 0L
    var j = 0
    while (j < nBits) {
      var proj = 0.0
      val off = j * dim
      i = 0
      while (i < dim) { proj += v.getDouble(i) * w(off + i); i += 1 }
      if (proj > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}
