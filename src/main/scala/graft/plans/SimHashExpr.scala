package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/**
 * Native 62-bit SimHash over a precomputed feature-hash array — the codegen'd
 * replacement for the interpreted HOF fold (`HofTwins.simhash62`, kept in
 * test code as ScaleOpsSpec's reference: 62 `zip_with` lambda iterations
 * per feature). Value-identical: bit b is set iff strictly more features have bit b set than clear; a null
 * feature element votes -1 on every bit (what `IF(null..., 1, -1)` does in
 * the HOF form).
 *
 * SQL surface (registered by [[GraftExtensions]]): `simhash62(hashes)`.
 */
case class SimHash62Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash62 expects array<bigint>, got ${other.simpleString(10)}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash62"

  override protected def nullSafeEval(input: Any): Any =
    SimHashKernel.simhash62(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHashKernel.simhash62($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash62Expr =
    copy(child = newChild)
}

object SimHash62Expr {
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("simhash62"),
    new ExpressionInfo(classOf[SimHash62Expr].getName, "simhash62"),
    (children: Seq[Expression]) => children match {
      case Seq(h) => SimHash62Expr(h)
      case _ => throw new IllegalArgumentException("usage: simhash62(array<bigint>)")
    })
}

object SimHashKernel {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 as a long (== TextFunctions.hash60). */
  private def hash60(bytes: Array[Byte]): Long = {
    val d = md5.get().digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def minHash60(shingles: ArrayData): java.lang.Long = {
    val n = shingles.numElements()
    var min = Long.MaxValue
    var seen = false
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val h = hash60(shingles.getUTF8String(i).getBytes)
        if (h < min) min = h
        seen = true
      }
      i += 1
    }
    if (seen) java.lang.Long.valueOf(min) else null
  }

  def simhash62(hashes: ArrayData): Long = {
    val votes = new Array[Int](62)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (hashes.isNullAt(i)) {
        // HOF parity: IF(null = 1, 1, -1) votes -1 on every bit
        var b = 0
        while (b < 62) { votes(b) -= 1; b += 1 }
      } else {
        val h = hashes.getLong(i)
        var b = 0
        while (b < 62) { votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1 }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 62) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

/**
 * Native minimum 60-bit md5 hash over a shingle array — the winnowing-style
 * document fingerprint of q29, without the interpreted `transform(…, md5)`
 * HOF. Value-identical to
 * `array_min(transform(shingles, hash60))`: null elements are skipped (as
 * `array_min` skips nulls), an empty/all-null array yields null.
 *
 * SQL surface (registered by [[GraftExtensions]]): `min_hash60(shingles)`.
 */
case class MinHash60Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"min_hash60 expects array<string>, got ${other.simpleString(10)}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "min_hash60"

  override protected def nullSafeEval(input: Any): Any =
    SimHashKernel.minHash60(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val v = ctx.freshName("minh")
      s"""
         |java.lang.Long $v = graft.plans.SimHashKernel.minHash60($c);
         |if ($v == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $v.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHash60Expr =
    copy(child = newChild)
}

object MinHash60Expr {
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("min_hash60"),
    new ExpressionInfo(classOf[MinHash60Expr].getName, "min_hash60"),
    (children: Seq[Expression]) => children match {
      case Seq(sh) => MinHash60Expr(sh)
      case _ => throw new IllegalArgumentException("usage: min_hash60(array<string>)")
    })
}
