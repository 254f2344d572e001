package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Number of positions at which two MinHash signatures (array<long>)
  * agree, in ONE native pass — the verify score of every MinHash pair
  * pipeline ([[graft.dedup.Dedup.signatureMatches]]).
  *
  * Semantically equal to the builtin-composed
  * `size(filter(zip_with(a, b, (x, y) => x === y), m => m))` cast to
  * long (equality asserted in DedupSpec): NULL if either signature is
  * NULL; over the first min(|a|, |b|) positions, a position counts iff
  * both elements are non-NULL and equal (zip_with pads the shorter
  * array with NULLs, which never compare equal). The builtin evaluates
  * two interpreted lambdas per component and allocates two arrays per
  * pair; this is a tight codegen'd loop.
  */
case class SignatureMatches(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_matches"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"minhash_matches expects (array<bigint>, array<bigint>), " +
          s"got (${l.simpleString(10)}, ${r.simpleString(10)})")
    }

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SignatureMatchRuntime.matches(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SignatureMatchRuntime.matches($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignatureMatches =
    copy(left = newLeft, right = newRight)
}

object SignatureMatchRuntime {
  def matches(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}
