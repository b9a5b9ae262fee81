package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.lineage.Lineage
import graft.qa.QA

/** Property-based invariants (SURVEY.md §5.4): closure monotonicity/limits,
  * cycle safety, stitching normalization, stable-id injectivity, candidate
  * extraction caps. ScalaCheck generators sampled with fixed seeds (the
  * scalatest-scalacheck bridge artifact is not in the offline cache).
  */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession._

  private val ident = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(8))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("q03/q10/q11 are bit-stable across partition-count drift with AQE on") {
    // guards the FP rounding contract (Pipelines.scala:12-20): the oracled
    // aggregates must hash identically no matter how many shuffle partitions
    // or scan splits execution happens to use — 2-partition + tiny-split vs
    // 32-partition + default-split, both under AQE, must agree bit-for-bit
    val dir = "/root/testdata/sf0.01"
    val names = Seq("q03_fact_enriched", "q10_mart_customer_value",
      "q11_customer_agg", "q49_skew_salted_join",
      // round-3 double-valued outputs: novelty ratios, quantization error,
      // composed quality score, typed top-k selection
      "q53_novelty_score", "q56_embed_quantize", "q57_clean_pipeline",
      "q58_topk_per_group",
      // round-4 double-valued outputs: CDC balances, BM25 scores, z-scores,
      // LOCF/cube/hopping rounded sums, and the incremental-MV base+delta
      // sum (the most partition-order-sensitive shape this round)
      "q65_snapshot_cdc", "q68_bm25_score", "q71_length_outliers",
      "q76_gap_fill", "q77_cube", "q79_incremental_mv", "q81_hopping_window",
      // round-5 double-valued outputs: relative edit distance, TWA and
      // attribution revenue (integer-sum ratios), histogram bin averages,
      // TF-IDF scores, co-occurrence lift, two-phase weighted median
      "q87_dedup_edit_distance", "q88_time_weighted_avg", "q89_attribution",
      "q90_value_histogram", "q91_tfidf_top_terms", "q93_cooccurrence_lift",
      "q95_weighted_median",
      // round-7 additions: q108's Misra-Gries candidate set DOES vary with
      // partition geometry — the exact-verify filter must erase that;
      // q106/q110 are integer-exact but window+agg heavy, cheap to pin
      "q106_interval_union", "q108_heavy_hitters", "q110_robust_outliers",
      // q113's boundary extraction collects in partition order before the
      // k-row join — the result set must not see that order
      "q113_equidepth_hist",
      // round-9 additions: q115's window self-join + diagonal sessionize
      // must emit the same maximal spans under any scan split; q116's
      // round-sum surprisal is the newest double-valued aggregate
      "q115_substring_spans", "q116_bigram_surprisal")
    def canon(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir).collect().map(_.mkString("")).sorted
    val conf = spark.conf
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.files.maxPartitionBytes")
    val saved = keys.map(k => k -> util.Try(conf.get(k)).toOption)
    def withConf(parts: String, mpb: String)(f: => Map[String, Seq[String]]) =
      try {
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.shuffle.partitions", parts)
        conf.set("spark.sql.files.maxPartitionBytes", mpb)
        f
      } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    val a = withConf("2", "131072")(names.map(n => n -> canon(n)).toMap)
    val b = withConf("32", "134217728")(names.map(n => n -> canon(n)).toMap)
    names.foreach { n =>
      assert(a(n).size === b(n).size, s"$n row count drifted")
      assert(a(n) === b(n), s"$n values drifted across partitioning")
    }
  }

  test("q115 spans equal raw-token-run brute force on random planted corpora") {
    import spark.implicits._
    // docs over a 3-letter alphabet (dense accidental repeats), with shared
    // runs planted by splicing a common phrase at random offsets — the
    // adversarial shapes for the diagonal-merge logic: runs that touch doc
    // boundaries, overlap, or recur within one doc
    val tok = Gen.oneOf("x", "y", "z")
    val doc = Gen.choose(8, 40).flatMap(n => Gen.listOfN(n, tok))
    val phrase = Gen.choose(8, 12).flatMap(n => Gen.listOfN(n, tok))
    val corpus = for {
      ph <- phrase
      docs <- Gen.listOfN(6, doc)
      offs <- Gen.listOfN(6, Gen.choose(0, 20))
    } yield docs.zip(offs).zipWithIndex.map { case ((d, off), i) =>
      // plant the phrase into half the docs at varying offsets
      val t = if (i % 2 == 0) d.take(off min d.length) ++ ph ++ d.drop(off min d.length) else d
      (i.toLong, t.mkString(" "))
    }
    def brute(texts: Seq[(Long, String)]): Set[(Long, Long, Long, Long, Long)] = {
      val toks = texts.map { case (id, t) => id -> t.split(" ", -1) }
      (for {
        (a, ta) <- toks; (b, tb) <- toks if a < b
        i <- ta.indices; j <- tb.indices
        if ta(i) == tb(j) && (i == 0 || j == 0 || ta(i - 1) != tb(j - 1))
      } yield {
        var l = 0
        while (i + l < ta.length && j + l < tb.length && ta(i + l) == tb(j + l)) l += 1
        (a, b, i.toLong, j.toLong, l.toLong)
      }).filter(_._5 >= 8).toSet
    }
    samples(corpus, 12).foreach { texts =>
      val got = graft.ops.Dedup.substringSpansOf(texts.toDF("doc_id", "text"), 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got === brute(texts), s"corpus: $texts")
    }
  }

  test("downstream closure respects its limit and excludes the seed") {
    val chain = (0 until 30).map(i => (s"c$i", s"c${i + 1}"))
    val limited = Lineage.driverBfsSeq(chain, Seq("c0"), includeSeeds = false,
      limit = 10, maxDepth = 50)
    assert(limited.size <= 10)
    assert(!limited.map(_._1).contains("c0"))
    val full = Lineage.driverBfsSeq(chain, Seq("c0"), includeSeeds = false,
      limit = 2000, maxDepth = 50)
    assert(full.size === 30)
    val depths = full.toMap
    (1 until 30).foreach(i => assert(depths(s"c$i") === i))
  }

  test("closure is cycle-safe") {
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a"))
    val cl = Lineage.driverBfsSeq(cyc, Seq("a"), includeSeeds = false,
      limit = 100, maxDepth = 50)
    assert(cl.size === 2) // b, c — and terminates
  }

  test("candidate extraction never exceeds max and prefers known backticks") {
    samples(Gen.zip(Gen.listOfN(6, ident), Gen.listOfN(6, ident)), 25)
      .foreach { case (ticked, plain) =>
        val known = (ticked ++ plain).toSet
        val question = ticked.map(t => s"`$t`").mkString(" ") + " " + plain.mkString(" ")
        val got = QA.candidateColumns(question, known)
        assert(got.size <= 3)
        if (ticked.nonEmpty) assert(got.head === ticked.head)
        // unknown ticked tokens never surface nor consume slots
        val gotUnknown = QA.candidateColumns(question, plain.toSet -- ticked)
        assert(gotUnknown.forall((plain.toSet -- ticked).contains))
      }
  }

  test("corpus ids are injective on content (sha1 of typed parts)") {
    samples(Gen.listOfN(20, ident), 5).foreach { words =>
      val docs = words.distinct.map(w =>
        graft.model.CorpusDoc("", s"TEXT: $w", "derived", "s", "d", w))
      val ds = spark.createDataset(docs)(org.apache.spark.sql.Encoders.product).toDF()
        .withColumn("id", sha1(concat_ws("||", col("docType"), col("script"),
          col("df"), col("column"), col("text"))))
      assert(ds.select("id").distinct().count() === docs.size.toLong)
    }
  }

  test("FP contract: round(sum, 2) of 2-decimal money is permutation-invariant") {
    // the engine's oracle hash-compare relies on this: group sums of p-decimal
    // inputs rounded at p are identical regardless of aggregation order
    val rnd = new scala.util.Random(7)
    val money = Seq.fill(5000)(math.floor(rnd.nextDouble() * 1e7) / 100.0)
    def roundedSum(xs: Seq[Double]): Double = {
      val s = xs.foldLeft(0.0)(_ + _)
      java.math.BigDecimal.valueOf(s).setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val base = roundedSum(money)
    (1 to 10).foreach { i =>
      val shuffled = new scala.util.Random(i).shuffle(money)
      assert(roundedSum(shuffled) === base, s"permutation $i diverged")
      // and two-level (partition-then-merge) aggregation, like shuffle partials
      val parts = shuffled.grouped(137).map(_.foldLeft(0.0)(_ + _)).toSeq
      val merged = java.math.BigDecimal.valueOf(parts.foldLeft(0.0)(_ + _))
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(merged === base, s"partitioned sum $i diverged")
    }
  }

  test("trailing-slash normalization makes stitching slash-insensitive") {
    import graft.model._
    val l1 = ScriptLineage("w", Nil,
      Seq(AssetRef("w", "parquet", "gold/x/", "sink", "write")), Nil, Nil, Nil)
    val l2 = ScriptLineage("r", Nil,
      Seq(AssetRef("r", "parquet", "gold/x", "src", "read")), Nil, Nil, Nil)
    val links = Lineage.stitch(spark, Seq(l1, l2)).collect()
    assert(links.length === 1)
    assert(links.head.fromScript === "w" && links.head.toScript === "r")
  }
}
