package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over `array<double>`
  * (SURVEY.md §2C similarity ops).
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate
  * through interpreted lambda machinery; a million-row ANN scoring pass
  * spends most of its time in that overhead. These expressions are
  * plain `BinaryExpression`s with `doGenCode`, so the dot product
  * compiles into the whole-stage-codegen loop: one fused Java loop per
  * row, no lambda dispatch, no boxing.
  *
  * The summation order is the same sequential left-to-right fold the
  * HOF formulation (and the DuckDB oracle) uses, so swapping these in
  * is bit-for-bit result-neutral.
  */
object VectorExpressions {

  /** Σ a(i)*b(i), sequential order; null if either side is null.
    * Mismatched lengths fold over the common prefix (caller contract:
    * fixed-dim embedding columns). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0d
      var i = 0
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProduct =
      copy(left = newLeft, right = newRight)
  }

  /** binary → array<float> decode (little-endian IEEE-754 packed
    * float32, the wire/storage format embedding stores actually ship):
    * a codegen'd UnaryExpression, so ingestion-side decode fuses into
    * the scan's whole-stage-codegen Project — pure map-side, no UDF
    * serialization, no boxing. Length derives from the payload
    * (bytes/4), so no dims argument can disagree with the data. */
  case class FloatsFromBinary(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

    override def dataType: DataType = ArrayType(FloatType, containsNull = false)

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_unpack requires binary input, got $t")
      }

    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[Array[Byte]]
      val n = b.length / 4
      val out = new Array[Float](n)
      var i = 0
      while (i < n) {
        val bits = (b(4 * i) & 0xff) | ((b(4 * i + 1) & 0xff) << 8) |
          ((b(4 * i + 2) & 0xff) << 16) | ((b(4 * i + 3) & 0xff) << 24)
        out(i) = java.lang.Float.intBitsToFloat(bits)
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val out = ctx.freshName("out")
        val bits = ctx.freshName("bits")
        s"""
           |int $n = $b.length / 4;
           |float[] $out = new float[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  int $bits = ($b[4 * $i] & 0xff) | (($b[4 * $i + 1] & 0xff) << 8) |
           |    (($b[4 * $i + 2] & 0xff) << 16) | (($b[4 * $i + 3] & 0xff) << 24);
           |  $out[$i] = java.lang.Float.intBitsToFloat($bits);
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): FloatsFromBinary =
      copy(child = newChild)
  }

  /** int8 scalar-quantization round-trip (the FAISS SQ8 shape): per
    * element, code = least(floor((v−mn)/(mx−mn)·256), 255) and the
    * served value is the cell center mn + (code+0.5)·(mx−mn)/256 —
    * one fused codegen loop per row, replacing two interpreted
    * higher-order transforms in the scan's hot path. The arithmetic
    * order is exactly the HOF/DuckDB formulation's, so results are
    * bit-identical to the oracle. */
  case class SqDequant(first: Expression, second: Expression, third: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = children.forall(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sq_dequant requires array<double> inputs, got ${children.map(_.dataType)}")
    }

    override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
      val v = a.asInstanceOf[ArrayData]
      val mns = b.asInstanceOf[ArrayData]
      val mxs = c.asInstanceOf[ArrayData]
      val n = math.min(v.numElements(), math.min(mns.numElements(), mxs.numElements()))
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        val mn = mns.getDouble(i)
        val mx = mxs.getDouble(i)
        val code =
          if (mx > mn)
            math.min(math.floor((v.getDouble(i) - mn) / (mx - mn) * 256.0), 255.0)
          else 0.0
        out(i) = mn + (code + 0.5) * (mx - mn) / 256.0
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, mns, mxs) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val out = ctx.freshName("out")
        val mn = ctx.freshName("mn")
        val mx = ctx.freshName("mx")
        val code = ctx.freshName("code")
        s"""
           |int $n = java.lang.Math.min($v.numElements(),
           |  java.lang.Math.min($mns.numElements(), $mxs.numElements()));
           |double[] $out = new double[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  double $mn = $mns.getDouble($i);
           |  double $mx = $mxs.getDouble($i);
           |  double $code = ($mx > $mn)
           |    ? java.lang.Math.min(java.lang.Math.floor(($v.getDouble($i) - $mn) / ($mx - $mn) * 256.0), 255.0)
           |    : 0.0;
           |  $out[$i] = $mn + ($code + 0.5) * ($mx - $mn) / 256.0;
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): SqDequant =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** array<float> → binary encode (the staging twin of
    * [[FloatsFromBinary]]; same little-endian float32 packing). */
  case class FloatsToBinary(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

    override def dataType: DataType = BinaryType

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_pack requires array<float> input, got $t")
      }

    override def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val n = a.numElements()
      val out = new Array[Byte](4 * n)
      var i = 0
      while (i < n) {
        val bits = java.lang.Float.floatToIntBits(a.getFloat(i))
        out(4 * i) = bits.toByte
        out(4 * i + 1) = (bits >> 8).toByte
        out(4 * i + 2) = (bits >> 16).toByte
        out(4 * i + 3) = (bits >> 24).toByte
        i += 1
      }
      out
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val out = ctx.freshName("out")
        val bits = ctx.freshName("bits")
        s"""
           |int $n = $a.numElements();
           |byte[] $out = new byte[4 * $n];
           |for (int $i = 0; $i < $n; $i++) {
           |  int $bits = java.lang.Float.floatToIntBits($a.getFloat($i));
           |  $out[4 * $i] = (byte) $bits;
           |  $out[4 * $i + 1] = (byte) ($bits >> 8);
           |  $out[4 * $i + 2] = (byte) ($bits >> 16);
           |  $out[4 * $i + 3] = (byte) ($bits >> 24);
           |}
           |${ev.value} = $out;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): FloatsToBinary =
      copy(child = newChild)
  }

  /** Column API: decode packed little-endian float32 binary. */
  def vec_unpack(bin: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      FloatsFromBinary(org.apache.spark.sql.GraftBridge.expression(bin)))

  /** Column API: pack array<float> into little-endian float32 binary. */
  def vec_pack(arr: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      FloatsToBinary(org.apache.spark.sql.GraftBridge.expression(arr)))

  /** Σ (a(i) − b(i))², sequential ascending order — the codegen'd twin
    * of `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D,
    * (acc, z) -> acc + z)` (r16 optimization round, guide §4): the HOF
    * form materialized a fresh difference-square array per row pair
    * through interpreted lambda dispatch, and the PQ scorers evaluate
    * it once per (vector, subspace, code). Per element both forms
    * compute (x−y)·(x−y) then add, ascending from 0.0 — bit-identical
    * doubles. Arrays of different lengths give null, as in the HOF
    * form, where `zip_with` pads the shorter side with nulls. */
  case class SqL2Dist(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_sqdist requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var acc = 0d
      var i = 0
      while (i < n) {
        val d = x.getDouble(i) - y.getDouble(i)
        acc += d * d
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $d = $a.getDouble($i) - $b.getDouble($i);
           |    $acc += $d * $d;
           |  }
           |  ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SqL2Dist =
      copy(left = newLeft, right = newRight)
  }

  def vec_sqdist(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      SqL2Dist(org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  def vec_dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      DotProduct(org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  def sq_dequant(v: Column, mns: Column, mxs: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      SqDequant(org.apache.spark.sql.GraftBridge.expression(v),
        org.apache.spark.sql.GraftBridge.expression(mns),
        org.apache.spark.sql.GraftBridge.expression(mxs)))

  /** L2 norm via the same codegen'd kernel. */
  def vec_norm(a: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(vec_dot(a, a))
  }

  /** cosine(a, b) given precomputed norms. */
  def vec_cos(a: Column, b: Column, na: Column, nb: Column): Column =
    vec_dot(a, b) / (na * nb)
}
