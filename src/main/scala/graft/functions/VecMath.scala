package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression for float-vector dot products.
  *
  * Spark's higher-order-function route (`aggregate(zip_with(...))`) is
  * evaluated interpreted, allocating an intermediate array per call —
  * measured ~100× slower than this tight codegen'd loop on the
  * similarity workloads. Accumulation is left-to-right in double
  * (same order/precision as the SQL-oracle formulation, so results
  * stay bit-identical).
  *
  * This is the "custom Expression beats UDF" path: stays inside
  * whole-stage codegen, no boxing, no closure dispatch.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType
  // array<double> inputs (e.g. SQL literals) are implicitly cast to
  // array<float>; mismatched types fail analysis instead of silently
  // misreading 8-byte slots as floats
  override def inputTypes: Seq[ArrayType] = // covariant: AbstractDataType is sql-private
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double acc = 0.0;
         |for (int i = 0; i < n; i++) {
         |  acc += (double) $a.getFloat(i) * (double) $b.getFloat(i);
         |}
         |${ev.value} = acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product of two array<int> code vectors (the
  * scalar-quantized-ANN scoring kernel): long accumulation, so 64
  * int8-range codes can never overflow. Same codegen rationale as
  * [[FloatVecDot]] — the HOF route interprets per element; this stays
  * inside whole-stage codegen and moves 4× less data than the float
  * scan it approximates. */
case class IntVecDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += x.getInt(i).toLong * y.getInt(i).toLong
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long acc = 0L;
         |for (int i = 0; i < n; i++) {
         |  acc += (long) $a.getInt(i) * (long) $b.getInt(i);
         |}
         |${ev.value} = acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The bit-stable cosine contract, with one owner per engine form:
  * float→double products summed left to right, divided by each side's
  * norm (sqrt of the same left-to-right self-dot) one side at a time,
  * rounded HALF_UP to 12 decimals (Spark `round(x, 12)`: the decimal
  * string of the double, so NaN/±Inf pass through unrounded). Rankings
  * on it order by (cos desc, id asc). The Column forms here
  * ([[norm]], [[cos12]]) are what the Spark operators run, the JVM forms
  * ([[dot]], [[round12]], the Double [[cos12]]) are what the row
  * kernels run, and [[cosSql]] is the DuckDB form the oracles run: the
  * same arithmetic in the same order in all three, so the engines agree
  * to the bit.
  *
  * Zero vectors: a vector of norm 0 has no direction, so its cosine is
  * 0.0 with every vector, itself included (the rule `Ivf` already uses
  * to assign cells). All three forms test the norms before dividing,
  * so a zero vector neither fails the query (Spark's ANSI divide) nor
  * turns into NaN. */
object VecMath {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.apache.spark.sql.functions.{lit, round, sqrt, when}

  /** Dot product of two array<float> columns as double. */
  def float_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      FloatVecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Exact dot product of two array<int> columns as long. */
  def int_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      IntVecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** The portable 31-bit text hash as a codegen'd column
    * (== DedupQueries.polyHashS; SQL surface: `poly_hash`). */
  def poly_hash(s: Column): Column =
    ColumnBridge.column(PolyHash(ColumnBridge.expression(s)))

  /** A vector column's norm: sqrt of its self-dot, `float_dot` by
    * default, `int_dot` for int8 codes. */
  def norm(v: Column, dot: (Column, Column) => Column = float_dot): Column =
    sqrt(dot(v, v))

  /** The contract's cosine from a dot product and the two norms. */
  def cos12(dot: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(round(dot / na / nb, 12))

  /** Left-to-right double dot product over the first `a.length` slots. */
  private[graft] def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private[graft] def norm(v: Array[Double]): Double = math.sqrt(dot(v, v))

  /** Spark `round(x, 12)` on the JVM: HALF_UP on the double's decimal
    * string, NaN and ±Inf unchanged. */
  private[graft] def round12(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The DuckDB form of [[cos12]] for two 64-d list columns, as the
    * oracles spell it. */
  private[graft] def cosSql(a: String, b: String): String =
    s"""CASE WHEN list_sum(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)) = 0
       |      OR list_sum(list_transform(range(1, 65), i -> $b[i]::DOUBLE * $b[i]::DOUBLE)) = 0
       |    THEN 0.0::DOUBLE
       |    ELSE round(
       |      list_sum(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       |      / sqrt(list_sum(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)))
       |      / sqrt(list_sum(list_transform(range(1, 65), i -> $b[i]::DOUBLE * $b[i]::DOUBLE))),
       |      12) END""".stripMargin

  /** The row kernels' form of the Column [[cos12]]. */
  private[graft] def cos12(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) 0.0 else round12(dot / na / nb)
}
