package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector math for the similarity-search / dedup pipeline.
  *
  * The pipeline's hot loops (hyperplane LSH bucketing, cosine verify,
  * brute-force ANN) compute dot products over fixed-width embedding
  * arrays. Spark's higher-order functions (`aggregate(zip_with(...))`)
  * evaluate these with one closure call per element, outside whole-stage
  * codegen; a dedicated Catalyst expression with `doGenCode` keeps the
  * whole operator pipeline fused — a tight primitive loop per row. (The
  * reference engine has no vector surface; this is our Spark-first
  * extension, preference order per SURVEY: native Expression > UDF.)
  */
case class ArrayDot(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  // call sites guarantee array<double> inputs (explicit .cast at the
  // column level); no ImplicitCastInputTypes — it is private[sql].
  // r19 (ADVICE): wrong child types now fail at ANALYSIS time instead of
  // ClassCastException at execution. NOTE the length semantics stay
  // deliberate: unequal lengths truncate to min(len) (the old zip_with
  // chain returned NULL) — every call site is fixed 64-dim; a new caller
  // with ragged arrays must not assume NULL-on-mismatch.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two ARRAY<DOUBLE> inputs, got $other")
    }

  // null ELEMENTS read as 0-contribution is not needed here: embedding
  // arrays are dense; containsNull inputs still evaluate (null element
  // reads as 0.0 from ArrayData), documented rather than branched-on so
  // the generated loop stays branch-free
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd integer dot product over array<bigint> (r18) — replaces the
  * interpreted `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, +)` in the
  * exact-arithmetic k-means / SemDeDup paths (p22/p28). Same result for
  * equal-length dense arrays (the only shape those operators produce:
  * fixed 64-dim quantized vectors); like ArrayDot, null elements are
  * documented as 0-contribution rather than branched on. */
case class ArrayDotL(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def prettyName: String = "array_dot_l"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two ARRAY<BIGINT> inputs, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd integer squared distance sum((a-b)^2) over array<bigint>
  * (r18) — replaces the interpreted
  * `aggregate(zip_with(qv, cv, (a,b) -> (a-b)*(a-b)), 0L, +)` in the
  * k-means assignment (p22/p28). Same caveats as ArrayDotL. */
case class ArraySqDistL(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def prettyName: String = "array_sqdist_l"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two ARRAY<BIGINT> inputs, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd exact quantization floor(x * scale) over array<float|double>
  * -> array<bigint> (r18) — replaces the interpreted
  * `transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * scale) AS
  * BIGINT))` in p22/p28. Element semantics replicate that chain exactly:
  * float widens to double, `(long) Math.floor(d*scale)` equals Spark's
  * non-ANSI double->long cast of the integral floor (NaN -> 0, +-Inf
  * saturate); null elements stay null. */
case class ArrayQuantizeFloor(child: Expression, scale: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "array_quantize_floor"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs ARRAY<FLOAT|DOUBLE> input, got $other")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    val f = isFloat
    var i = 0
    while (i < n) {
      out(i) =
        if (arr.isNullAt(i)) null
        else {
          val d = if (f) arr.getFloat(i).toDouble else arr.getDouble(i)
          math.floor(d * scale).toLong
        }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $out[$i] = (long) java.lang.Math.floor(((double) $a.$get($i)) * $scale);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayQuantizeFloor =
    copy(child = newChild)
}

object VectorFunctions {
  /** dot(a, b) over array<double> columns (cast float arrays first) */
  def arrayDot(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      ArrayDot(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** dot(a, b) over array<bigint> columns */
  def arrayDotL(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      ArrayDotL(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** sum((a-b)^2) over array<bigint> columns */
  def arraySqDistL(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      ArraySqDistL(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** floor(x * scale) per element, array<float|double> -> array<bigint> */
  def arrayQuantizeFloor(a: Column, scale: Int): Column =
    GraftSqlBridge.column(
      ArrayQuantizeFloor(GraftSqlBridge.expression(a), scale))
}
