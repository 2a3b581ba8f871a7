package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression computing the k-function MinHash signature of a
 * shingle array in one tight JVM pass — the codegen'd replacement for the
 * higher-order-function formulation (`HofTwins.minhashSignatureFromBases`,
 * kept in test code as PipelineSpec's reference; HOFs are interpreted per
 * element with boxing; this runs ~8x faster on the same values).
 *
 * Value-compatible with the HOF/DuckDB formulation by construction:
 * `h1 = int(hex(md5(s))[0:15])`, `h2 = int(hex(md5('#' + s))[0:15])`,
 * `sig[i] = min over shingles of ((h1 mod P) + i * (h2 mod P)) mod P`,
 * P = 2^31 - 1 (Kirsch-Mitzenmacher double hashing; all products < 2^36, no
 * overflow anywhere).
 *
 * SQL surface (registered by [[GraftExtensions]]): `minhash_signature(shingles, k)`.
 */
case class MinHashSignatureExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<string>, got ${other.simpleString(10)}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null for an empty shingle array (no features → no signature), mirroring
  // the HOF twin, where array_min over an empty array yields null
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.signature(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $sig =
         |  graft.plans.MinHashKernel.signature($c, $k);
         |if ($sig == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $sig; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

object MinHashSignatureExpr {
  final val P: Long = 2147483647L

  /** (identifier, info, builder) triple for `SparkSessionExtensions.injectFunction`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("minhash_signature"),
    new ExpressionInfo(classOf[MinHashSignatureExpr].getName, "minhash_signature"),
    (children: Seq[Expression]) => children match {
      case Seq(arr, Literal(k: Int, IntegerType)) => MinHashSignatureExpr(arr, k)
      case _ => throw new IllegalArgumentException(
        "usage: minhash_signature(array<string>, <int literal k>)")
    })
}

/** The per-row kernel, shared by interpreted eval and generated code. */
object MinHashKernel {
  import MinHashSignatureExpr.P

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of an md5 digest as a long — identical to
   * `cast(conv(substring(md5(s),1,15),16,10) as bigint)`: the first 8 digest
   * bytes read big-endian, dropped low nibble. */
  private def hash60(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def signature(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    // no features → null, matching the HOF twin (array_min of empty → null);
    // a Long.MaxValue-filled signature would collide every empty doc into one
    // LSH bucket
    if (n == 0) return null
    val md = md5.get()
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i).getBytes
      md.reset()
      val h1 = hash60(md.digest(s))
      md.reset()
      md.update('#'.toByte)
      val h2 = hash60(md.digest(s))
      val b1 = h1 % P
      val b2 = h2 % P
      var j = 0
      while (j < k) {
        val v = (b1 + j * b2) % P
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
