package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native single-pass character-statistics kernel — the codegen'd replacement
 * for the split + array_sort + boundary-filter + fold HOF chain behind
 * [[graft.operators.CorpusOps.charDiversity]] (`HofTwins.charStats`, kept in
 * test code as CorpusOpsSpec's reference). The HOF stack evaluates
 * interpreted with a per-character string array, an in-row sort, and three
 * lambda sweeps; this kernel makes ONE pass over the string's code points
 * with a 128-slot ASCII count table (hash map only for the non-ASCII tail)
 * and accumulates every statistic in primitives.
 *
 * Emits `struct<len, nd, s2, max_run, nsp>`:
 *   - `len`     — code-point count (matches `length()`/`split(text, "")`
 *                 semantics, NOT UTF-16 units),
 *   - `nd`      — distinct code points,
 *   - `s2`      — Σ count(c)² (the Simpson / Rényi-2 collision numerator),
 *   - `max_run` — longest run of one repeated code point,
 *   - `nsp`     — ASCII whitespace count (space/tab/LF/CR — the explicit
 *                 4-char set keeps all three implementations and the SQL
 *                 oracle trivially in agreement; unicode spaces count as
 *                 regular characters by contract).
 *
 * Value-identical to the HOF twin by construction on any input, including
 * empty strings (all-zero struct) and supplementary-plane code points
 * (both sides count code points); asserted in CorpusOpsSpec, and q147 is
 * oracle-gated end-to-end.
 *
 * SQL surface (registered by [[GraftExtensions]]): `char_stats(text)`.
 */
case class CharStatsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_stats expects (string), got ${other.simpleString(10)}")
  }
  override def dataType: DataType = CharStatsExpr.schema
  override def prettyName: String = "char_stats"

  override protected def nullSafeEval(input: Any): Any =
    CharStatsKernel.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.CharStatsKernel.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): CharStatsExpr =
    copy(child = newChild)
}

object CharStatsExpr {
  val schema: StructType = StructType(Seq(
    StructField("len", LongType, nullable = false),
    StructField("nd", IntegerType, nullable = false),
    StructField("s2", LongType, nullable = false),
    StructField("max_run", LongType, nullable = false),
    StructField("nsp", LongType, nullable = false)))

  /** (identifier, info, builder) for `SparkSessionExtensions.injectFunction`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("char_stats"),
    new ExpressionInfo(classOf[CharStatsExpr].getName, "char_stats"),
    (children: Seq[Expression]) => children match {
      case Seq(text) => CharStatsExpr(text)
      case _ => throw new IllegalArgumentException("usage: char_stats(<string>)")
    })
}

/** The per-row kernel, shared by interpreted eval and generated code. */
object CharStatsKernel {
  def stats(text: UTF8String): InternalRow = {
    val s = text.toString
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Array[Long]] = null
    var len = 0L
    var nsp = 0L
    var maxRun = 0L
    var run = 0L
    var prev = -1
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      len += 1
      if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r') nsp += 1
      run = if (cp == prev) run + 1 else 1L
      if (run > maxRun) maxRun = run
      prev = cp
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap()
        other.computeIfAbsent(cp, _ => new Array[Long](1))(0) += 1
      }
    }
    var s2 = 0L
    var nd = 0
    var c = 0
    while (c < 128) {
      val k = ascii(c)
      if (k > 0) { nd += 1; s2 += k * k }
      c += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val k = it.next()(0)
        nd += 1
        s2 += k * k
      }
    }
    new GenericInternalRow(Array[Any](len, nd, s2, maxRun, nsp))
  }
}
