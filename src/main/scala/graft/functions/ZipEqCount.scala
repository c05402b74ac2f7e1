package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: positions where two long arrays carry
  * equal values — `|{i : a[i] = b[i]}|`, the MinHash signature-agreement
  * count behind every estimated-Jaccard in the dedup family
  * (est = zip_eq_count(sig_a, sig_b) / 64).
  *
  * The declarative spelling, `size(filter(zip_with(a, b, (x,y) -> x=y),
  * v -> v))`, evaluates INTERPRETED (higher-order functions get no
  * whole-stage codegen) and allocates two intermediate 64-element
  * arrays per compared pair; at band-join candidate volumes that is
  * real per-pair cost. This is one fused zero-allocation loop.
  *
  * Null semantics match the HOF chain exactly: a null array on either
  * side yields null (zip_with propagates null, size(null) is null with
  * legacySizeOfNull off); positions past the shorter array or holding a
  * null element compare to null and are not counted (filter drops
  * non-true).
  */
case class ZipEqCount(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"zip_eq_count expects (array<bigint>, array<bigint>), got (${l.simpleString(10)}, ${r.simpleString(10)})")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "zip_eq_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    ZipEqCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZipEqCount.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZipEqCount =
    copy(left = l, right = r)
}

object ZipEqCount {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var c = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}
