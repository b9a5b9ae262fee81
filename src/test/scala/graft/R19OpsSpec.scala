package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 (optimization round 2) proof obligations:
  *
  *  - [[graft.functions.SumProdLong]] ≡ `SUM(CAST(a AS DECIMAL(38,0)) * b)`
  *    through the REAL aggregation path (partial + merge + codegen), across
  *    the long-product overflow boundary, the long-accumulator overflow
  *    boundary, negative inputs, nulls, and empty groups — the VERDICT r18
  *    #6 "only land with the proof" condition for q259's pair aggregate.
  *  - q14's match pairs ⊆ the linkage candidate set — the subset property
  *    that lets fsScoreOf compute the m-side agreement flags directly over
  *    the matched pairs instead of re-deriving the candidate chain
  *    (row-identity of the old `m ⋈ withFields` inner join).
  *  - the one-pass (field, value) u-histogram pivot of fsScoreOf ≡ the four
  *    independent per-field aggregations it replaced.
  */
class R19OpsSpec extends AnyFunSuite {
  import SparkTestSession._

  graft.functions.VectorFunctions.register(spark)

  /** Both aggregates over (a, b) grouped by k, via the real plan (the
    * repartition spreads same-key rows over partitions so merge paths run);
    * returns (new, old) keyed results as BigDecimal. */
  private def bothSums(rows: Seq[(Long, java.lang.Long, java.lang.Long)])
      : (Map[Long, java.math.BigDecimal], Map[Long, java.math.BigDecimal]) = {
    import spark.implicits._
    val df = rows.toDF("k", "a", "b").repartition(4)
    def toMap(d: DataFrame): Map[Long, java.math.BigDecimal] =
      d.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDecimal(1))).toMap
    val nw = toMap(df.groupBy("k").agg(expr("sum_prod_long(a, b)").as("s")))
    val old = toMap(df.groupBy("k")
      .agg(sum(col("a").cast("decimal(38,0)") * col("b")).as("s")))
    (nw, old)
  }

  private def assertSame(rows: Seq[(Long, java.lang.Long, java.lang.Long)]): Unit = {
    val (nw, old) = bothSums(rows)
    assert(nw.keySet == old.keySet)
    nw.keySet.foreach { k =>
      val (x, y) = (nw(k), old(k))
      assert((x == null && y == null) ||
        (x != null && y != null && x.compareTo(y) == 0),
        s"key $k: sum_prod_long=$x decimal-sum=$y")
    }
  }

  test("sum_prod_long: random small magnitudes, negatives, nulls, groups") {
    val rnd = new scala.util.Random(19)
    val rows = (1 to 2000).map { i =>
      val a: java.lang.Long =
        if (rnd.nextInt(20) == 0) null else (rnd.nextLong() % 100000L)
      val b: java.lang.Long =
        if (rnd.nextInt(20) == 0) null else (rnd.nextLong() % 100000L)
      ((i % 7).toLong, a, b)
    }
    assertSame(rows)
  }

  test("sum_prod_long: long-product overflow boundary (a*b > Long.Max)") {
    val big = 4000000000L // big² = 1.6e19 > Long.Max — product cannot fit
    assertSame(Seq(
      (0L, java.lang.Long.valueOf(big), java.lang.Long.valueOf(big)),
      (0L, java.lang.Long.valueOf(3L), java.lang.Long.valueOf(5L)),
      // the exact edge: product == Long.Max stays on the fast path
      (1L, java.lang.Long.valueOf(Long.MaxValue), java.lang.Long.valueOf(1L)),
      // ... and one more row forces the accumulator escape afterwards
      (1L, java.lang.Long.valueOf(1L), java.lang.Long.valueOf(1L))))
  }

  test("sum_prod_long: accumulator overflow boundary (Σ crosses Long.Max)") {
    val p = 3000000000L // p² = 9e18 fits a long; five of them do not
    val rows = (1 to 5).map(_ =>
      (0L, java.lang.Long.valueOf(p), java.lang.Long.valueOf(p)))
    assertSame(rows)
  }

  test("sum_prod_long: escaped and fast partial buffers merge exactly") {
    val big = 4000000000L
    // group 0 mixes product-overflow rows with many small rows across 4
    // partitions, so some partial buffers escape and some stay long-only;
    // the merge path must fold both shapes exactly
    val rows = (1 to 40).map(i => (0L,
      java.lang.Long.valueOf(if (i % 10 == 0) big else i.toLong),
      java.lang.Long.valueOf(if (i % 10 == 0) big else 7L)))
    assertSame(rows)
  }

  test("sum_prod_long: empty input and all-null groups evaluate to NULL") {
    assertSame(Seq((0L, null, null), (0L, null, java.lang.Long.valueOf(3L))))
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val r = empty.agg(expr("sum_prod_long(a, b)")).collect().head
    assert(r.isNullAt(0))
  }

  test("sum_prod_long: past DECIMAL(38,0) it raises (HUGEINT-like), never wraps") {
    import spark.implicits._
    // two products of Long.Max² ≈ 8.5e37 each sum to ≈1.7e38 > 10³⁸−1
    val df = Seq((Long.MaxValue, Long.MaxValue), (Long.MaxValue, Long.MaxValue))
      .toDF("a", "b")
    val e = intercept[Exception] {
      df.agg(expr("sum_prod_long(a, b)")).collect()
    }
    assert(e.getMessage != null)
  }

  test("q14 match pairs are a subset of the linkage candidate set") {
    // the fsScoreOf restructure computes m-side flags over m directly; that
    // is row-identical to the old m ⋈ candidate-flags inner join iff every
    // q14 pair is a candidate pair — both derive from the same q14_ngr rare
    // index, q14 with additional pair-REMOVING filters; q268 hands the
    // same scoring its streamed registry's candidates, which must hold it too
    val m = ops.Dedup.ngramJaccard.run(spark, sfDir).select("doc_a", "doc_b")
    Seq("batch" -> ops.Dedup.linkageCandidates(spark, sfDir),
      "q268 registry" -> streaming.StreamingSessions.registryCandidates(spark, sfDir))
      .foreach { case (what, cand) =>
        assert(m.join(cand, Seq("doc_a", "doc_b"), "left_anti").count() == 0,
          s"a q14 pair is missing from the $what candidates")
      }
    assert(m.count() > 0) // vacuous-subset guard
  }

  test("one-pass u-histogram pivot equals the four per-field aggregations") {
    // drive q262 end-to-end on the real sf0.001 corpus and check its four
    // u_k columns against independently recomputed per-field estimates
    val out = ops.Dedup.fsLinkage.run(spark, sfDir)
      .select("u_lang", "u_source", "u_len", "u_tok").distinct().collect()
    assert(out.length == 1)
    val fields = Tables.documents(spark, sfDir).select(col("doc_id"),
      col("lang"), col("source"), expr("n_chars div 100").as("len_b"),
      split(col("text"), " ").getItem(0).as("tok1"))
    def uOf(src: String): Long = {
      val h = fields.groupBy(src).agg(count(lit(1)).as("c"))
        .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")).as("s"),
          sum("c").as("n"))
        .select(expr(s"CAST(s * 1000000 div greatest(CAST(n AS DECIMAL(38,0)) * (n - 1), 1) AS BIGINT)"))
        .head().getLong(0)
      math.max(1L, math.min(999999L, h))
    }
    val expected = Seq(uOf("lang"), uOf("source"), uOf("len_b"), uOf("tok1"))
    val got = Seq(out(0).getLong(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3))
    assert(got == expected, s"u_k mismatch: got $got expected $expected")
  }
}
