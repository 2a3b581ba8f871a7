package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/**
 * Native winnowing fingerprint selection (Schleimer et al. 2003) — the fused
 * one-pass kernel of q121. Its HOF twin (`HofTwins.winnow`, in test code)
 * hashes every k-gram once (let-bound), then takes `array_min` over
 * every w-slice: O(ng·w) interpreted struct comparisons with a slice
 * allocation per window. This kernel computes the gram hashes and the
 * sliding-window minima in ONE pass with a monotonic deque — O(ng) total,
 * no per-window allocation — and stays inside WholeStageCodegen.
 *
 * Value-identical to the HOF twin by construction (differential-tested in
 * TextPrepSpec, and q121 is oracle-gated):
 *  - gram p: hash60 of `array_join(slice(ws, p+1, k), " ")` — null words are
 *    SKIPPED by array_join (separator collapses), replicated here;
 *  - windows: every w consecutive grams (ng < w ⇒ one window of all grams);
 *  - per window the minimum (h, p) — ties break to the LEFTMOST position,
 *    which is what "pop back only when strictly greater" preserves;
 *  - output: first-occurrence-distinct selected array<struct<h,p>> (the
 *    `array_distinct` order of the HOF form).
 *
 * SQL surface (registered by [[GraftExtensions]]): `winnow_select(ws, k, w)`.
 */
case class WinnowSelectExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 && w >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_select expects (array<string>) with k,w >= 1, got ${other.simpleString(10)}")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h", LongType, nullable = false),
      StructField("p", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "winnow_select"

  override protected def nullSafeEval(input: Any): Any =
    WinnowKernel.winnow(input.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WinnowKernel.winnow($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelectExpr =
    copy(child = newChild)
}

object WinnowSelectExpr {
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("winnow_select"),
    new ExpressionInfo(classOf[WinnowSelectExpr].getName, "winnow_select"),
    (children: Seq[Expression]) => children match {
      case Seq(ws, Literal(k: Int, IntegerType), Literal(w: Int, IntegerType)) =>
        WinnowSelectExpr(ws, k, w)
      case _ => throw new IllegalArgumentException(
        "usage: winnow_select(<array<string>>, <int literal k>, <int literal w>)")
    })
}

/** The per-row kernel, shared by interpreted eval and generated code. */
object WinnowKernel {
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

  def winnow(ws: ArrayData, k: Int, w: Int): GenericArrayData = {
    val nWords = ws.numElements()
    val ng = nWords - k + 1
    if (ng <= 0) return new GenericArrayData(Array.empty[Any])
    // materialize words once (null stays null — array_join skips it)
    val words = new Array[String](nWords)
    var i = 0
    while (i < nWords) {
      if (!ws.isNullAt(i)) words(i) = ws.getUTF8String(i).toString
      i += 1
    }
    // gram hashes
    val hs = new Array[Long](ng)
    val sb = new java.lang.StringBuilder()
    var p = 0
    while (p < ng) {
      sb.setLength(0)
      var j = 0
      var first = true
      while (j < k) {
        val word = words(p + j)
        if (word != null) { // array_join semantics: nulls vanish, no separator
          if (!first) sb.append(' ')
          sb.append(word)
          first = false
        }
        j += 1
      }
      hs(p) = hash60(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      p += 1
    }
    // one-pass sliding-window minimum (monotonic deque of gram positions);
    // strictly-greater pop keeps the earliest position on equal hashes —
    // the leftmost tie-break of array_min over struct(h, p)
    val wlen = if (w < ng) w else ng
    val deque = new Array[Int](ng)
    var head = 0
    var tail = 0
    val sel = new java.util.LinkedHashSet[Integer]()
    var idx = 0
    while (idx < ng) {
      while (tail > head && hs(deque(tail - 1)) > hs(idx)) tail -= 1
      deque(tail) = idx
      tail += 1
      val winStart = idx - wlen + 1
      if (winStart >= 0) {
        while (deque(head) < winStart) head += 1
        sel.add(deque(head))
      }
      idx += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) {
      val pos = it.next().intValue()
      out(o) = InternalRow(hs(pos), pos)
      o += 1
    }
    new GenericArrayData(out)
  }
}
