package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Codegen'd unsigned-byte sum over a BINARY column (r18, guide §4):
  * lets the multimodal feature/frame stubs (p12/p15) run as whole-stage
  * codegen expressions over `substring(blob, ...)` slices instead of a
  * typed `mapPartitions`, which paid an InternalRow→Scala-tuple
  * deserialize + reserialize per row (DeserializeToObject/
  * SerializeFromObject break the codegen stage). A REAL multimodal
  * decode (image/audio codecs) would stay a batched mapPartitions —
  * this stub's arithmetic is expressible, so it should be. */
case class BinaryByteSum(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "binary_byte_sum"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"binary_byte_sum needs BINARY input, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    ByteFunctions.sumBytes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ByteFunctions.sumBytes($c)")

  override protected def withNewChildInternal(newChild: Expression): BinaryByteSum =
    copy(child = newChild)
}

object ByteFunctions {
  /** sum of the unsigned byte values (0-255) of the array. */
  def sumBytes(b: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < b.length) { s += b(i) & 0xff; i += 1 }
    s
  }

  /** byteSum(blob) over a BINARY column. */
  def byteSum(c: Column): Column =
    GraftSqlBridge.column(BinaryByteSum(GraftSqlBridge.expression(c)))
}
