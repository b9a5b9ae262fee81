package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions for the vector-similarity hot path. The HOF
  * formulation (`aggregate(zip_with(a, b, ...), ...)`) allocates an
  * intermediate array per row and interprets a lambda per element; these
  * codegen a single fused loop. The accumulation order is the same sequential
  * left-to-right fold, so results stay bit-identical to both the HOF version
  * and DuckDB's list_dot_product on DOUBLE[] — the oracle parity contract of
  * graft.ops.Similarity.
  */
object VectorFunctions {

  /** Sequential-fold dot product over two double arrays. */
  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"
    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> inputs, got ${left.dataType} / ${right.dataType}")

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
          int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) { $s += $a.getDouble($i) * $b.getDouble($i); }
          ${ev.value} = $s;
        """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
      copy(left = l, right = r)
  }

  /** Sequential-fold squared L2 distance over two double arrays. */
  case class VecL2Sq(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_l2sq"
    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> inputs, got ${left.dataType} / ${right.dataType}")

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = a.getDouble(i) - b.getDouble(i)
        s += d * d
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val d = ctx.freshName("d")
        s"""
          int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $d = $a.getDouble($i) - $b.getDouble($i);
            $s += $d * $d;
          }
          ${ev.value} = $s;
        """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecL2Sq =
      copy(left = l, right = r)
  }

  /** [[VecL2Sq]]'s sequential fold over two plain arrays, for driver-side
    * callers that must agree with it bit for bit. */
  def l2sq(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a(i) - b(i)
      s += d * d
      i += 1
    }
    s
  }

  /** All LSH band keys of a vector in one fused loop:
    * `vec_band_keys(v, planes, bandBits)` → array<bigint> of
    * `planes.length / bandBits` keys, where bit j (most-significant first) of
    * band i is `dot(planes[i*bandBits + j], v) > 0`. Semantically identical to
    * the HOF formulation `aggregate(transform(slice(planes, ...), p ->
    * if(dot > 0, 1, 0)), 0, (acc, b) -> acc*2 + b)` per band — but that form
    * interprets two lambdas per plane element (64 planes × 64 dims per row);
    * this is a single codegen'd loop over primitive doubles. The q19 oracle
    * recomputes the same keys in DuckDB from the embedded plane literals. */
  case class VecBandKeys(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "vec_band_keys"
    override def checkInputDataTypes(): TypeCheckResult =
      (first.dataType, second.dataType, third.dataType) match {
        case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _), IntegerType) =>
          // bandBits is a literal in every use — reject a non-positive value
          // at analysis time instead of dividing by zero per row
          if (third.foldable && {
            val v = third.eval(); v == null || v.asInstanceOf[Int] <= 0
          }) TypeCheckResult.TypeCheckFailure(s"$prettyName requires bandBits > 0")
          else TypeCheckResult.TypeCheckSuccess
        case (f, s, t) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, array<array<double>>, int), got $f / $s / $t")
      }

    override def nullSafeEval(vAny: Any, pAny: Any, bAny: Any): Any = {
      val v = vAny.asInstanceOf[ArrayData]
      val planes = pAny.asInstanceOf[ArrayData]
      val bandBits = bAny.asInstanceOf[Int]
      val nPlanes = planes.numElements()
      val keys = new Array[Long](nPlanes / bandBits)
      var i = 0
      while (i < (keys.length * bandBits)) {
        val p = planes.getArray(i)
        val n = math.min(p.numElements(), v.numElements())
        var s = 0.0
        var j = 0
        while (j < n) { s += p.getDouble(j) * v.getDouble(j); j += 1 }
        keys(i / bandBits) = keys(i / bandBits) * 2L + (if (s > 0) 1L else 0L)
        i += 1
      }
      new GenericArrayData(keys)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, planes, bits) => {
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val p = ctx.freshName("p")
        val keys = ctx.freshName("keys")
        s"""
          long[] $keys = new long[$planes.numElements() / $bits];
          for (int $i = 0; $i < $keys.length * $bits; $i++) {
            org.apache.spark.sql.catalyst.util.ArrayData $p = $planes.getArray($i);
            int $n = java.lang.Math.min($p.numElements(), $v.numElements());
            double $s = 0.0;
            for (int $j = 0; $j < $n; $j++) { $s += $p.getDouble($j) * $v.getDouble($j); }
            $keys[$i / $bits] = $keys[$i / $bits] * 2L + ($s > 0 ? 1L : 0L);
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
        """
      })

    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): VecBandKeys =
      copy(first = f, second = s, third = t)
  }

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> (es => VecDot(es(0), es(1))),
    "vec_l2sq" -> (es => VecL2Sq(es(0), es(1))),
    "vec_band_keys" -> (es => VecBandKeys(es(0), es(1), es(2))),
    "kmv_minset" -> (es => KmvMinSet.build(es)),
    "kmv_minarray" -> (es => KmvMinArray.build(es)),
    "priority_topk" -> (es => PriorityTopK.build(es)),
    "sum_prod_long" -> (es => SumProdLong.build(es)))

  /** Idempotent per-session SQL registration, after which the functions are
    * usable from expr()/spark.sql. A name the session already has (an
    * earlier call, or [[GraftExtensions]]) is left as it is, so repeated
    * calls change nothing in the registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** SparkSessionExtensions entry point: enables
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorFunctions.VecDot].getName, "vec_dot"),
      (es: Seq[Expression]) => VectorFunctions.VecDot(es(0), es(1))))
    e.injectFunction((
      FunctionIdentifier("vec_l2sq"),
      new ExpressionInfo(classOf[VectorFunctions.VecL2Sq].getName, "vec_l2sq"),
      (es: Seq[Expression]) => VectorFunctions.VecL2Sq(es(0), es(1))))
    e.injectFunction((
      FunctionIdentifier("vec_band_keys"),
      new ExpressionInfo(classOf[VectorFunctions.VecBandKeys].getName, "vec_band_keys"),
      (es: Seq[Expression]) => VectorFunctions.VecBandKeys(es(0), es(1), es(2))))
    e.injectFunction((
      FunctionIdentifier("kmv_minset"),
      new ExpressionInfo(classOf[KmvMinSet].getName, "kmv_minset"),
      (es: Seq[Expression]) => KmvMinSet.build(es)))
    e.injectFunction((
      FunctionIdentifier("kmv_minarray"),
      new ExpressionInfo(classOf[KmvMinArray].getName, "kmv_minarray"),
      (es: Seq[Expression]) => KmvMinArray.build(es)))
    e.injectFunction((
      FunctionIdentifier("priority_topk"),
      new ExpressionInfo(classOf[PriorityTopK].getName, "priority_topk"),
      (es: Seq[Expression]) => PriorityTopK.build(es)))
    e.injectFunction((
      FunctionIdentifier("sum_prod_long"),
      new ExpressionInfo(classOf[SumProdLong].getName, "sum_prod_long"),
      (es: Seq[Expression]) => SumProdLong.build(es)))
  }
}
