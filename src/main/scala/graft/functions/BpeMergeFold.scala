package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Greedy left-to-right BPE pair merge of adjacent (x, y) into x||y over a
  * symbol array, as ONE native codegen'd Catalyst expression.
  *
  * Replaces [[graft.text.BpeMerge]]'s composed `aggregate` fold: higher-
  * order array functions are CodegenFallback, and the fold paid an
  * interpreted lambda plus TWO array re-allocations (out :+ elem) per
  * symbol. Measured at a 10⁶-word × 32-symbol vocab (OPTIMIZATION_r16.md,
  * "Retired measurement tools"), the interpreted fold was ~62% of a BPE
  * iteration (4.3 s vs 2.7 s for pair counting); this expression is a single
  * allocation-bounded loop inside WholeStageCodegen.
  *
  * Exact-parity contract with the composed fold (the DuckDB oracle
  * replays merges positionally, so semantics must not move):
  *  - one-symbol lookbehind: `pend` holds the previous symbol until the
  *    current one decides the pair; after a merge the pending slot
  *    clears, so overlapping occurrences (x = y, runs like "bbb") merge
  *    exactly as BPE does: [bb, b];
  *  - a null ARRAY yields null (aggregate-over-null semantics);
  *  - a null ELEMENT entering the pending slot behaves as an empty slot
  *    (the fold's `pend.isNull` cannot tell them apart), so null elements
  *    are dropped from the output exactly as the fold dropped them.
  */
case class BpeMergeFold(child: Expression, x: String, y: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_merge_fold needs array<string>, got ${t.simpleString}")
  }

  @transient private lazy val xU: UTF8String = UTF8String.fromString(x)
  @transient private lazy val yU: UTF8String = UTF8String.fromString(y)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[UTF8String](n)
    var m = 0
    var pend: UTF8String = null
    var i = 0
    while (i < n) {
      val s = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (pend == null) pend = s
      else if (s != null && pend.equals(xU) && s.equals(yU)) {
        out(m) = UTF8String.concat(pend, s); m += 1; pend = null
      } else { out(m) = pend; m += 1; pend = s }
      i += 1
    }
    if (pend != null) { out(m) = pend; m += 1 }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val xRef = ctx.addReferenceObj("bpeX", xU,
      "org.apache.spark.unsafe.types.UTF8String")
    val yRef = ctx.addReferenceObj("bpeY", yU,
      "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val m = ctx.freshName("m")
      val pend = ctx.freshName("pend")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val u = "org.apache.spark.unsafe.types.UTF8String"
      s"""
         |int $n = $arr.numElements();
         |$u[] $out = new $u[$n];
         |int $m = 0;
         |$u $pend = null;
         |for (int $i = 0; $i < $n; $i++) {
         |  $u $s = $arr.isNullAt($i) ? null : $arr.getUTF8String($i);
         |  if ($pend == null) { $pend = $s; }
         |  else if ($s != null && $pend.equals($xRef) && $s.equals($yRef)) {
         |    $out[$m++] = $u.concat($pend, $s); $pend = null;
         |  } else { $out[$m++] = $pend; $pend = $s; }
         |}
         |if ($pend != null) { $out[$m++] = $pend; }
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($out, $m));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : BpeMergeFold = copy(child = newChild)
}

object BpeMergeFold {
  def merge(syms: Column, x: String, y: String): Column =
    ColumnBridge.column(BpeMergeFold(ColumnBridge.expression(syms), x, y))
}
