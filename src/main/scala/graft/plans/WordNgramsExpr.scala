package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native distinct word-n-gram shingling, the one shingling implementation:
 * [[graft.functions.TextFunctions.shingles]] always plans it. It replaces
 * the `transform(sequence(...), i -> array_join(slice(...)))` +
 * `array_distinct` HOF chain, which evaluated interpreted with per-gram
 * boxing; this kernel makes one pass over the split words with an
 * insertion-ordered hash set. Shingling feeds EVERY dedup/similarity query
 * (q29/q31/q32/q41/q44/q51/q56), so this is hot-path work.
 *
 * Value-identical to that HOF chain on non-null text (ScaleOpsSpec keeps
 * it as the test reference, and every consumer is oracle-gated):
 *  - words = single-space split KEEPING empty strings (Spark's
 *    `split(text, " ")` = `Pattern.split(limit = -1)` semantics);
 *  - >= n words → the `len - n + 1` space-joined n-grams, first-occurrence
 *    distinct order (array_distinct's order);
 *  - < n words → `[text]` (every document keeps a non-empty feature set).
 *
 * SQL surface (registered by [[GraftExtensions]]): `word_ngrams(text, n)`.
 */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects (string) with n >= 1, got ${other.simpleString(10)}, n=$n")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    WordNgramsKernel.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WordNgramsKernel.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}

object WordNgramsExpr {
  /** (identifier, info, builder) for `SparkSessionExtensions.injectFunction`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("word_ngrams"),
    new ExpressionInfo(classOf[WordNgramsExpr].getName, "word_ngrams"),
    (children: Seq[Expression]) => children match {
      case Seq(text, Literal(n: Int, IntegerType)) => WordNgramsExpr(text, n)
      case _ => throw new IllegalArgumentException(
        "usage: word_ngrams(<string>, <int literal n>)")
    })
}

/** The per-row kernel, shared by interpreted eval and generated code. */
object WordNgramsKernel {
  def shingles(text: UTF8String, n: Int): GenericArrayData = {
    // exact `split(text, " ")` semantics: single-space separator, limit -1
    // (trailing empty strings KEPT) — matches the HOF twin on any input
    val words = text.toString.split(" ", -1)
    if (words.length < n) {
      new GenericArrayData(Array[Any](text.clone()))
    } else {
      // first-occurrence order, like array_distinct
      val seen = new java.util.LinkedHashSet[String]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      val last = words.length - n
      while (i <= last) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    }
  }
}
