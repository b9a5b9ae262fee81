package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lineage.Lineage
import graft.pipelines.Repo

class LocalAggregateSpec extends AnyFunSuite {
  import SparkTestSession._

  /** perfbench's content hash: row count and Σ xxhash64 over the columns
    * sorted by name, summed as decimal(38,0). */
  private def hashOf(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.find(_.isInstanceOf[Aggregate]).isEmpty

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val kv = StructType(Seq(StructField("k", StringType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("m", DecimalType(12, 2)), StructField("d", DoubleType)))

  private val rows = Seq(
    Row("a", 1, 10L, BigDecimal("1.25").bigDecimal, 0.1),
    Row(null, 2, null, BigDecimal("2.50").bigDecimal, 0.2),
    Row("b", null, 30L, null, 0.3),
    Row("a", 4, -5L, BigDecimal("-0.75").bigDecimal, null),
    Row(null, 5, 7L, BigDecimal("9.99").bigDecimal, 0.5))

  test("the perfbench hash over Lineage.edges runs no job and equals Spark's plan") {
    val edges = Lineage.edges(spark, Repo.lineage(spark, sfDir)).toDF()
    val (row, jobs) = jobsFiredBy(hashOf(edges).collect().head)
    assert(jobs === 0)
    assert(row.getLong(0) > 0)
    assert(hashOf(edges.repartition(4)).collect().head === row)
  }

  test("grouped with null keys and empty inputs equal Spark's plan") {
    val aggs = Seq(count(lit(1)), count("l"), sum("l"), min("l"), max("i"),
      sum("m"), avg("i"), avg("m"), min("m"))
    def same(df: DataFrame, f: DataFrame => DataFrame): Unit = {
      val (got, jobs) = jobsFiredBy(f(df).collect().toSet)
      assert(jobs === 0, f(df).queryExecution.optimizedPlan.toString)
      assert(got === f(df.repartition(4)).collect().toSet)
    }
    val full = local(rows, kv)
    val empty = local(Nil, kv)
    same(full, df => df.groupBy("k").agg(aggs.head, aggs.tail: _*))
    same(full, df => df.agg(aggs.head, aggs.tail: _*))
    same(full, df => df.groupBy(col("k"), col("i") % 2).count())
    same(empty, df => df.agg(aggs.head, aggs.tail: _*))
    same(empty, df => df.groupBy("k").agg(aggs.head, aggs.tail: _*))
    assert(empty.agg(count(lit(1))).collect().toSeq === Seq(Row(0L)))
    assert(empty.groupBy("k").count().collect().isEmpty)
  }

  test("double sums, double min, DISTINCT and FILTER keep Spark's plan") {
    val full = local(rows, kv)
    assert(folded(full.agg(sum("l"), min("m"), avg("i"))))
    Seq(sum("d"), min("d"), countDistinct("l"), expr("count(1) FILTER (WHERE l > 0)"))
      .foreach { a => assert(!folded(full.agg(a)), a.toString) }
    assert(!folded(full.groupBy("d").count()))
  }

  test("an ANSI long overflow fails with Spark's error class") {
    def condition(body: => Any): String = {
      val e = intercept[Throwable](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
        case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
      }.orNull
    }
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val big = local(Seq(Row(Long.MaxValue), Row(1L)),
        StructType(Seq(StructField("l", LongType))))
      val c = condition(big.agg(sum("l")).collect())
      assert(c === "ARITHMETIC_OVERFLOW")
      assert(condition(big.repartition(4).agg(sum("l")).collect()) === c)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("count() on built q25, q26 and q95 frames runs no job") {
    // q95's builder collects its phases; only the action is counted
    Seq("q25_lineage_edges", "q26_repo_links", "q95_weighted_median").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val (n, jobs) = jobsFiredBy(df.count())
      assert(jobs === 0, s"$q's count() fired $jobs job(s)")
      assert(n === df.collect().length)
    }
  }
}
