package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

class VectorFunctionsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("vec_dot/vec_l2sq are bit-identical to the sequential HOF fold") {
    VectorFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .limit(100)
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(500)
      .select(
        expr("vec_dot(a.v, b.v)").as("dot_native"),
        expr("aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)").as("dot_hof"),
        expr("vec_l2sq(a.v, b.v)").as("l2_native"),
        expr("aggregate(zip_with(a.v, b.v, (x, y) -> (x - y) * (x - y)), 0D, (acc, d) -> acc + d)").as("l2_hof"))
    val bad = pairs.filter(col("dot_native") =!= col("dot_hof") ||
      col("l2_native") =!= col("l2_hof")).count()
    assert(bad === 0)
  }

  test("vec_band_keys is bit-identical to the per-band HOF fold") {
    VectorFunctions.register(spark)
    // 16 deterministic planes → 2 bands of 8 bits, checked against the exact
    // HOF formulation the fused expression replaced (q19's former plan)
    val rnd = new scala.util.Random(7)
    val planes = Seq.fill(16)(Seq.fill(64)(rnd.nextGaussian()))
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("planes", typedLit(planes))
    val hofBand = (i: Int) => s"""aggregate(
      transform(slice(planes, ${8 * i + 1}, 8),
        p -> if(aggregate(zip_with(p, v, (x, y) -> x * y), 0D, (acc, x) -> acc + x) > 0D, 1L, 0L)),
      CAST(0 AS BIGINT), (acc, b) -> acc * 2 + b)"""
    val bad = e.select(
        expr("vec_band_keys(v, planes, 8)").as("fused"),
        expr(s"array(${hofBand(0)}, ${hofBand(1)})").as("hof"))
      .filter(col("fused") =!= col("hof")).count()
    assert(bad === 0)
  }

  test("vec_band_keys rejects a non-positive bandBits at analysis time") {
    VectorFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT vec_band_keys(array(1D), array(array(1D)), 0)").collect()
    }
    assert(e.getMessage.contains("bandBits"))
  }

  test("a second register leaves the registry unchanged") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    VectorFunctions.register(spark)
    val registry = spark.sessionState.functionRegistry
    val names = Seq("vec_dot", "vec_l2sq", "vec_band_keys", "kmv_minset",
      "kmv_minarray", "priority_topk", "sum_prod_long")
    def infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    val before = infos
    assert(before.forall(_.isDefined), names.zip(before).toString)
    VectorFunctions.register(spark)
    // a re-registration installs a fresh ExpressionInfo under the same name
    names.zip(before).zip(infos).foreach { case ((n, b), a) =>
      assert(a.get eq b.get, s"$n was re-registered") }
  }

  test("vec_dot is usable from SQL after registration") {
    VectorFunctions.register(spark)
    val r = spark.sql("SELECT vec_dot(array(1D, 2D, 3D), array(4D, 5D, 6D)) AS d").head().getDouble(0)
    assert(r === 32.0)
  }

  test("vec_dot rejects non-double arrays at analysis time") {
    VectorFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(array('a'), array('b'))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("vec_dot"))
  }
}
