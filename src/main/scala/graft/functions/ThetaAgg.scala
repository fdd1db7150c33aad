package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, Decimal}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.meta.{SingleValue, ThetaKmv}
import graft.core.types.{GDecimal, GType}

/** Distributed theta-sketch NDV aggregation (reference
  * spark/v4.0/.../sql/stats/ThetaSketchAgg.scala + NDVSketchUtil.java):
  * each value is Appendix-D single-value serialized and hashed into a
  * bounded KMV theta accumulator; the result column is the
  * DataSketches-readable compact sketch bytes.
  *
  * TypedImperativeAggregate keeps the ~32 KB accumulator as a live
  * object per group (serialized only at shuffle boundaries), so the
  * stats pass over a 100 TB table is one map-side partial aggregation
  * per column with a few-KB merge payload per partition — no shuffle of
  * row data at all. */
case class ThetaNdvAgg(
    child: Expression,
    gtype: GType,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ThetaKmv]
    with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "theta_ndv_sketch"

  override def createAggregationBuffer(): ThetaKmv = new ThetaKmv()

  override def update(buffer: ThetaKmv, input: InternalRow): ThetaKmv = {
    val v = child.eval(input)
    if (v != null) {
      // Spark internal → Iceberg value, exactly as the reference's
      // ThetaSketchAgg.toIcebergValue, so both sides hash identical bytes
      val iceberg = v match {
        case s: UTF8String => s.toString
        case d: Decimal => gtype match {
          case GDecimal(_, s) => d.toJavaBigDecimal.setScale(s)
          case _              => d.toJavaBigDecimal
        }
        case x => x
      }
      SingleValue.toBytes(gtype, iceberg).foreach(buffer.updateValue)
    }
    buffer
  }

  override def merge(buffer: ThetaKmv, input: ThetaKmv): ThetaKmv = {
    buffer.merge(input); buffer
  }

  override def eval(buffer: ThetaKmv): Any = buffer.toCompactBytes

  override def serialize(buffer: ThetaKmv): Array[Byte] =
    buffer.toInternalBytes

  override def deserialize(bytes: Array[Byte]): ThetaKmv =
    ThetaKmv.fromInternalBytes(bytes)

  override def withNewMutableAggBufferOffset(n: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ThetaFunctions {
  /** aggregate column producing compact theta sketch bytes for `c`,
    * whose graft type is `t` */
  def thetaNdvSketch(c: Column, t: GType): Column =
    GraftSqlBridge.column(
      ThetaNdvAgg(GraftSqlBridge.expression(c), t).toAggregateExpression())
}
