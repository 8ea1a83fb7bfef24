/* In-tree extension package: lives under org.apache.spark.sql so it
 * can use the private[sql] Expression/Column bridge — the standard
 * pattern for Spark-native extension libraries. */
package org.apache.spark.sql.graftx

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-local 64-bit SimHash of one document's token set (the d3
  * signature). Bit j is set when more than half of the tokens have
  * bit j of md5(token) set, where the 64 bits are md5 bytes 0–7 read
  * big-endian (bit 0 = the most significant bit of byte 0). The kernel
  * counts every array element: callers pass `array_distinct(...)` for
  * a token SET. A null element counts toward `n_tok` but sets no bit
  * (md5 of null is null); a null array reads as the empty set
  * (`n_tok` 0, all bits 0), so the result is never null.
  *
  * Each signature depends only on its own row, so the kernel runs in
  * the scan's projection: no token explode, no shuffle, no per-bit
  * aggregate. Returns the struct `(n_tok, simhash, band0..band3)`:
  * `simhash` is the 64-char '0'/'1' string, `band k` the 16-bit int of
  * bits 16k..16k+15 (most significant first), the pigeonhole keys of
  * the hamming-distance join. */
case class Simhash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes
    with Serializable {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = Simhash64.resultType
  override def nullable: Boolean = false
  override def prettyName: String = "simhash64"

  override def eval(input: InternalRow): Any =
    Simhash64.build(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  org.apache.spark.sql.graftx.Simhash64.build(${c.isNull} ? null : ${c.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

object Simhash64 {
  val resultType: StructType = StructType(
    StructField("n_tok", LongType, nullable = false) +:
      StructField("simhash", StringType, nullable = false) +:
      (0 until 4).map(k => StructField(s"band$k", IntegerType, nullable = false)))

  private val md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** Shared kernel for interpreted eval and codegen. */
  def build(tokens: ArrayData): InternalRow = {
    val n = if (tokens == null) 0 else tokens.numElements()
    val counts = new Array[Int](64)
    val md = md5.get()
    val digest = new Array[Byte](16)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        md.update(tokens.getUTF8String(i).getByteBuffer)
        md.digest(digest, 0, 16)
        var j = 0
        while (j < 64) {
          counts(j) += (digest(j >> 3) >> (7 - (j & 7))) & 1
          j += 1
        }
      }
      i += 1
    }
    val bits = new Array[Byte](64)
    val bands = new Array[Int](4)
    var j = 0
    while (j < 64) {
      if (2L * counts(j) > n) {
        bits(j) = '1'
        bands(j >> 4) |= 1 << (15 - (j & 15))
      } else bits(j) = '0'
      j += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, UTF8String.fromBytes(bits),
      bands(0), bands(1), bands(2), bands(3)))
  }

  /** Column surface: the signature struct of a token array. */
  def simhash64(tokens: Column): Column =
    ExpressionUtils.column(Simhash64(ExpressionUtils.expression(tokens)))
}
