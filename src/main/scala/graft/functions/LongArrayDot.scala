package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: integer dot product of two long arrays.
  *
  * The built-in route, `aggregate(zip_with(a, b, (x,y) -> x*y), 0, +)`,
  * runs through interpreted HigherOrderFunction lambda evaluation —
  * per-element closure dispatch, boxed accumulator, and it breaks the
  * surrounding whole-stage-codegen span. This expression generates the
  * tight primitive loop instead, so similarity scoring (the O(corpus ×
  * queries × dim) hot path of graft.operators.Similarity) stays inside
  * codegen. Semantics are identical to the built-in composition on
  * null-free arrays (embedding vectors), truncating to the shorter input.
  */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects two array<bigint> args, got $l / $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native sign-bit LSH signature: bit j = [ sum_d q[d]·w(j,d) >= 0 ]
  * with the deterministic LCG hyperplane weight
  * w(j,d) = ((1103515245·(j·128+d) + 12345) mod 19) − 9, d 1-based —
  * in lockstep with operators.Similarity.hyperplaneWeight and the
  * DuckDB oracle's hpwDuck. The declarative spelling walks nBits × dim
  * interpreted lambda steps per row (transform ∘ aggregate ∘ sequence);
  * this is the O(corpus × nBits × dim) hot loop of every LSH operator
  * (dup pairs, incremental pairs, clusters, knn join), generated as two
  * tight primitive loops inside whole-stage codegen. Also enforces the
  * dim <= 128 weight-stride guard per row (beyond it, weights would
  * silently repeat across hyperplanes and correlate the bits).
  *
  * `jOffset` (default 0 — bit-identical to the historical two-arg form)
  * shifts the hyperplane INDEX: bit j draws weights w(j + jOffset, d).
  * Offsets that are multiples of 64 give pairwise-disjoint hyperplane
  * sets for nBits <= 64 — the "independent draw" a seed-stability study
  * needs from a seedless LCG (VERDICT r16 #1). Production callers never
  * pass it; the oracle spelling stays the j-indexed one. */
case class LshSigExpr(child: Expression, nBits: Int, jOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lshsig expects array<bigint>, got $other")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_lshsig"

  override def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    val n = q.numElements()
    if (n > 128) throw new IllegalArgumentException(
      s"graft_lshsig: embedding dim $n exceeds the hyperplane-weight stride (128)")
    val out = new Array[Int](nBits)
    var j = 0
    while (j < nBits) {
      var acc = 0L
      var d = 1
      while (d <= n) {
        acc += q.getLong(d - 1) *
          (((1103515245L * ((j + jOffset).toLong * 128L + d) + 12345L) % 19L) - 9L)
        d += 1
      }
      out(j) = if (acc >= 0L) 1 else 0
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, q => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val out = ctx.freshName("out")
      s"""
         |int $n = $q.numElements();
         |if ($n > 128) throw new IllegalArgumentException(
         |  "graft_lshsig: embedding dim " + $n +
         |  " exceeds the hyperplane-weight stride (128)");
         |int[] $out = new int[$nBits];
         |for (int $j = 0; $j < $nBits; $j++) {
         |  long $acc = 0L;
         |  for (int $d = 1; $d <= $n; $d++) {
         |    $acc += $q.getLong($d - 1) *
         |      (((1103515245L * (($j + $jOffset) * 128L + $d) + 12345L) % 19L) - 9L);
         |  }
         |  $out[$j] = ($acc >= 0L) ? 1 : 0;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LongArrayDot {
  /** Register `graft_dot(a, b)` and `graft_lshsig(q, nBits)` in the
    * session's function registry, once per session (see
    * TextNative.register). */
  def register(spark: SparkSession): Unit = {
    TextNative.registerOnce(spark, "graft_dot")(exprs =>
      LongArrayDot(exprs(0), exprs(1)))
    TextNative.registerOnce(spark, "graft_lshsig")(exprs =>
      LshSigExpr(exprs(0), exprs(1).eval(null).asInstanceOf[Int],
        if (exprs.length > 2) exprs(2).eval(null).asInstanceOf[Int] else 0))
  }
}
