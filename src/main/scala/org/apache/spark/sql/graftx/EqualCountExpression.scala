/* In-tree extension package: lives under org.apache.spark.sql so it
 * can use the private[sql] Expression/Column bridge — the standard
 * pattern for Spark-native extension libraries. */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst positional-equality count for two same-length
  * long arrays — the minhash signature-agreement kernel (estimated
  * Jaccard = equal positions / k) on the candidate-pair hot path of
  * the d2/d9/d14 band joins.
  *
  * The column-expression form,
  * `size(filter(sequence(1, k), i -> a[i] == b[i]))`, materializes a
  * sequence array and evaluates an INTERPRETED lambda per candidate
  * pair (higher-order functions don't participate in whole-stage
  * codegen); this expression is a bare loop over the two array
  * payloads, [[PositionalEqual.equalCount]], called from generated
  * code — the `SortedIntersectSize` discipline applied to the
  * signature compare. Results are bit-identical to
  * the lambda form (VectorExprSpec asserts it), so every DuckDB
  * oracle stays hash-identical.
  *
  * Mismatched lengths raise: signatures are fixed-k by construction,
  * so a length difference is a caller bug, not data. */
case class PositionalEqualCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with Serializable {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "positional_equal_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    PositionalEqual.equalCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"org.apache.spark.sql.graftx.PositionalEqual.equalCount($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PositionalEqualCount =
    copy(left = newLeft, right = newRight)
}

object PositionalEqual {
  /** The number of positions where two same-length long arrays agree:
    * the one definition behind [[PositionalEqualCount]] (interpreted
    * and generated code alike) and the in-bucket verify of
    * `graft.operators.MinHash.candidatePairs`. */
  def equalCount(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"positional_equal_count: length mismatch ($n vs ${y.numElements()})")
    var i = 0
    var c = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i))
        throw new IllegalArgumentException(
          "positional_equal_count: null array elements are not supported")
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** Column surface: codegen'd positional-equality count over two
    * same-length array<long> columns. */
  def equalCount(a: Column, b: Column): Column =
    ExpressionUtils.column(PositionalEqualCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
