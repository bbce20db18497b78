package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** All `gramLen`-character-gram hashes of a string in ONE O(len) pass — a
  * Karp–Rabin rolling polynomial hash (mod 2⁶⁴ via native long overflow):
  *
  *   h(i) = Σ_{j<L} cp(i+j) · mult^(L-1-j)
  *   h(i+1) = (h(i) − cp(i) · mult^(L-1)) · mult + cp(i+L)
  *
  * Replaces the composed `transform(sequence(...), i -> xxhash64(substr(
  * text, i+1, L)))` key stage of [[graft.dedup.DupClusters.exactCharSpans]],
  * which re-reads L characters per position — O(len·L) work and one
  * UTF8String slice allocation per position. Measured before porting:
  * see the Scaladoc of `exactCharSpans` and OPTIMIZATION_r16.md, "Retired
  * measurement tools", for the recorded ratio.
  *
  * Positions are CODE POINTS (one decode pass per string), exactly the
  * unit `substr`/`length` count in both Spark and DuckDB — so span
  * offsets derived from these hashes line up with the SQL oracle on any
  * unicode text, not just ASCII/BMP.
  *
  * A polynomial hash is weaker than xxhash64 against ADVERSARIAL inputs
  * (structured differences that are multiples of 2⁶⁴ exist); span
  * detection uses TWO instances with independent odd multipliers, so a
  * spurious pair needs a simultaneous collision in both — out of reach
  * for non-crafted corpora (and a crafted one costs a redundant span, not
  * a wrong answer, since spans only gate which text gets scrubbed).
  *
  * Null or shorter-than-gramLen input yields an EMPTY array (never null)
  * — the explode-side contract: nothing to emit.
  */
case class RollingGramHash(child: Expression, gramLen: Int, mult: Long)
    extends UnaryExpression {

  require(gramLen >= 1, "gramLen must be >= 1")
  require((mult & 1L) == 1L, "mult must be odd (invertible mod 2^64)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"rolling_gram_hash needs string, got ${t.simpleString}")
  }

  @transient private lazy val powL: Long = {
    var p = 1L; var j = 0
    while (j < gramLen - 1) { p *= mult; j += 1 }
    p // mult^(gramLen-1) mod 2^64
  }

  /** Shared by eval and the generated code (registered as a reference
    * object — one virtual call per ROW, amortized over len positions, so
    * inlining the loop buys nothing measurable here). */
  def compute(s: UTF8String): ArrayData = {
    if (s == null) return ArrayData.toArrayData(Array.empty[Long])
    val str = s.toString
    // one decode pass: UTF-16 -> code points (the substr/length unit)
    val nUtf16 = str.length
    var ci = 0; var n = 0
    val cps = new Array[Int](nUtf16) // upper bound; n <= nUtf16
    while (ci < nUtf16) {
      val cp = str.codePointAt(ci)
      cps(n) = cp; n += 1; ci += Character.charCount(cp)
    }
    if (n < gramLen) return ArrayData.toArrayData(Array.empty[Long])
    val out = new Array[Long](n - gramLen + 1)
    var h = 0L; var i = 0
    while (i < gramLen) { h = h * mult + cps(i); i += 1 }
    out(0) = h
    i = 1
    while (i <= n - gramLen) {
      h = (h - cps(i - 1) * powL) * mult + cps(i + gramLen - 1)
      out(i) = h
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val self = ctx.addReferenceObj("rollingGramHash", this,
      classOf[RollingGramHash].getName)
    val out = ctx.freshName("gramHashes")
    val body =
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $out =
         |  $self.compute(${childGen.isNull} ? null : ${childGen.value});
       """.stripMargin
    ev.copy(
      code = childGen.code + code"$body",
      isNull = FalseLiteral,
      value = JavaCode.variable(out, dataType))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : RollingGramHash = copy(child = newChild)
}

object RollingGramHash {
  /** Independent odd multipliers for the dual-hash span key (golden-ratio
    * and xxhash-prime constants — fixed so results are reproducible). */
  val Mult1: Long = 0x9E3779B97F4A7C15L
  val Mult2: Long = 0xC2B2AE3D27D4EB4FL

  def hashes(text: Column, gramLen: Int, mult: Long): Column =
    ColumnBridge.column(RollingGramHash(
      ColumnBridge.expression(text.cast("string")), gramLen, mult))
}
