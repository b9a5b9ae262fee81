package graft

import org.scalatest.funsuite.AnyFunSuite

/** Behavioral coverage for the round-14 changes: q117's band-bucket hub cap
  * (never bites at tested sf; bounds a pathological near-uniform corpus) and
  * the q174/q180 two-phase bucket ranks (bit-equal to the one-task window
  * formulations they replaced).
  */
class R14OpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.ops.Multimodal
  import org.apache.spark.sql.functions._

  test("q117 hub cap never bites on real testdata (audit: zero capped buckets)") {
    import spark.implicits._
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        lit("image/fake").as("mime"))
      .as[Multimodal.MediaRow]
    val audit = Multimodal.phashBucketAudit(media)
    assert(audit.count() > 0)
    assert(audit.filter(col("capped")).count() === 0,
      "default cap bit on real testdata — published hashes would change")
    // cap headroom vs the measured maxima (sf0.1: 390; ~sf1 stress: 3945)
    assert(Multimodal.PhashBucketCap > 3945)
  }

  test("q117 hub cap bounds a pathological near-uniform media corpus") {
    import spark.implicits._
    // 20 identical payloads (one phash → its 9 buckets each hold 20 docs)
    // plus 2 identical outliers whose buckets stay tiny
    val uniform = (1L to 20L).map(i =>
      Multimodal.MediaRow(i, ("the same letterbox frame repeated " * 4).getBytes("UTF-8"), "image/fake"))
    val outliers = Seq(101L, 102L).map(i =>
      Multimodal.MediaRow(i, "zq xv wk pl mn ab cd ef gh ij kl mn op".getBytes("UTF-8"), "image/fake"))
    val media = spark.createDataset(uniform ++ outliers)
    // uncapped: the 20-doc clique alone yields 190 pairs
    val uncapped = Multimodal.phashNearDupOf(media, cap = Int.MaxValue)
    assert(uncapped.filter(col("doc_a") <= 20 && col("doc_b") <= 20).count() === 190)
    // cap = 8: every bucket of the uniform clique (20 docs) is dropped, the
    // outlier pair (bucket size 2) survives — candidates bounded, audit sees it
    val capped = Multimodal.phashNearDupOf(media, cap = 8)
    assert(capped.filter(col("doc_a") <= 20 && col("doc_b") <= 20).count() === 0,
      "capped buckets still produced clique pairs")
    assert(capped.filter(col("doc_a") === 101L && col("doc_b") === 102L).count() === 1,
      "cap dropped a small-bucket pair it should keep")
    val audit = Multimodal.phashBucketAudit(media, cap = 8)
    val cappedBuckets = audit.filter(col("capped"))
    assert(cappedBuckets.count() > 0, "audit missed the hub buckets")
    // the clique's buckets hold all 20 docs (22 where an outlier happens to
    // share a band value) — the audit must report the TRUE uncapped size
    assert(cappedBuckets.agg(max("n_docs")).head.getLong(0) >= 20L,
      "audit's uncapped count must report the TRUE bucket size")
  }

  test("priority_topk holds the exact top-k under any geometry, ties by id") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    // priorities with deliberate ties: pri = i % 7, ids unique
    val rows = (1L to 1000L).map(i => (i % 7, i))
    val expected = rows.sortBy { case (p, id) => (-p, id) }.take(10)
    for (parts <- Seq(1, 3, 32)) {
      val got = spark.createDataset(rows).toDF("pri", "id")
        .repartition(parts)
        .agg(expr("priority_topk(pri, id, 10)").as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.pri"), col("e.id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === expected, s"geometry $parts-partitions diverged")
    }
  }

  test("q261 priority sample: exact size, threshold law, estimator accuracy") {
    val r = SparkEntry.queries("q261_priority_sample")(spark, sfDir)
      .collect()
    assert(r.length === 64)
    val tau = r.head.getAs[Long]("tau")
    assert(tau > 0, "500-doc corpus must yield a (K+1)-th priority")
    // every sampled priority clears the threshold; ŵ = max(w, τ) exactly
    assert(r.forall(row => row.getAs[Long]("pri") >= tau))
    assert(r.forall(row => row.getAs[Long]("w_hat") ===
      math.max(row.getAs[Long]("w"), tau)))
    // the DLT estimator is unbiased; at K=64 over the ~500-doc corpus one
    // draw lands well within ±50% (measured ~2% at sf0.001) — a loose
    // bound that still catches unit/threshold mistakes (which are >2× off)
    val est = r.head.getAs[Long]("est_total").toDouble
    val truth = r.head.getAs[Long]("true_total").toDouble
    assert(math.abs(est - truth) / truth < 0.5,
      s"estimate $est vs true $truth — outside the sanity band")
  }

  test("q263 streamed priority sample equals the batch aggregate row-for-row") {
    val streamed = SparkEntry.queries("q263_streaming_priority_sample")(spark, sfDir)
    val batch = graft.ops.EventOps.psReport(spark,
      graft.ops.EventOps.psSketchOf(spark,
        graft.ops.EventOps.psItemsOf(Tables.events(spark, sfDir))), sfDir)
    assert(streamed.count() === 64)
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("q262 FS linkage: decision law recomputes from the output's own columns") {
    val rows = SparkEntry.queries("q262_fs_linkage")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the verdict must be a pure function of the emitted flags and the
    // emitted m/u scalars — recompute Λ driver-side in BigInt and compare
    rows.foreach { r =>
      def f(agree: Long, p: Long): BigInt =
        if (agree == 1L) BigInt(p) else BigInt(1000000L - p)
      val fields = Seq("lang", "source", "len", "tok")
      val num = fields.map(k =>
        f(r.getAs[Long](s"a_$k"), r.getAs[Long](s"m_$k"))).product
      val den = fields.map(k =>
        f(r.getAs[Long](s"a_$k"), r.getAs[Long](s"u_$k"))).product
      val expected =
        if (num >= den * 1000) "link"
        else if (num * 1000 <= den) "nonlink"
        else "possible"
      assert(r.getAs[String]("verdict") === expected,
        s"pair (${r.getAs[Long]("doc_a")}, ${r.getAs[Long]("doc_b")})")
    }
    // agreement must be MORE likely among matches than random pairs on at
    // least the textual fields (m > u is what gives agreements positive
    // weight); and the truth column is exactly q14's pair set
    val head = rows.head
    assert(head.getAs[Long]("m_len") > head.getAs[Long]("u_len"))
    assert(head.getAs[Long]("m_tok") > head.getAs[Long]("u_tok"))
    val nDup = rows.count(_.getAs[Long]("is_dup") == 1L)
    assert(nDup.toLong ===
      SparkEntry.queries("q14_dedup_ngram_jaccard")(spark, sfDir).count(),
      "is_dup truth must be exactly q14's pair set")
  }

  test("q266 stratified sample: per-source size/threshold laws, consistent with q261") {
    val rows = SparkEntry.queries("q266_stratified_priority_sample")(spark, sfDir)
      .collect()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, rs) =>
      assert(rs.length === 16, s"source $src sample size ${rs.length}")
      val tau = rs.head.getAs[Long]("tau")
      assert(rs.forall(_.getAs[Long]("tau") === tau))
      assert(rs.forall(r => r.getAs[Long]("pri") >= tau), s"source $src")
      assert(rs.forall(r => r.getAs[Long]("w_hat") ===
        math.max(r.getAs[Long]("w"), tau)))
      // per-stratum estimator sanity (K=16 → looser than q261's band)
      val est = rs.head.getAs[Long]("est_src").toDouble
      val truth = rs.head.getAs[Long]("true_src").toDouble
      assert(math.abs(est - truth) / truth < 0.9, s"source $src: $est vs $truth")
    }
    // one permutation, two views: a doc sampled by BOTH q261 and q266
    // carries the identical priority (same md5 key family)
    val global = SparkEntry.queries("q261_priority_sample")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pri")).toMap
    val both = rows.filter(r => global.contains(r.getAs[Long]("doc_id")))
    assert(both.nonEmpty, "no overlap between global and stratified samples")
    both.foreach(r =>
      assert(r.getAs[Long]("pri") === global(r.getAs[Long]("doc_id"))))
  }

  test("q264 local clustering equals a driver-side recompute from q14's pairs") {
    val pairs = SparkEntry.queries("q14_dedup_ngram_jaccard")(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    pairs.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val expected = adj.collect { case (v, ns) if ns.size >= 2 =>
      val t = ns.toSeq.combinations(2)
        .count { case Seq(x, y) =>
          pairs(math.min(x, y) -> math.max(x, y)) }
      val d = ns.size.toLong
      (v, d, t.toLong, t.toLong * 2000L / (d * (d - 1)))
    }.toSet
    val got = SparkEntry.queries("q264_local_clustering")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
    assert(got.forall { case (_, _, _, lcc) => lcc >= 0 && lcc <= 1000 })
  }

  test("q265 Theil-Sen equals a driver-side recompute, rational = quotient") {
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) DIV 86400000000").as("d"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val slopes = for {
      i <- daily.indices; j <- daily.indices if daily(i)._1 < daily(j)._1
    } yield {
      val (di, ci) = daily(i); val (dj, cj) = daily(j)
      ((cj - ci).toDouble / (dj - di).toDouble, di, dj, cj - ci, dj - di)
    }
    val sorted = slopes.sortBy(t => (t._1, t._2, t._3))
    val med = sorted(((sorted.size + 1) / 2) - 1)
    val resids = daily.map { case (d, c) => (c.toDouble - med._1 * d.toDouble, d) }
      .sortBy(identity)
    val intercept = resids(((resids.length + 1) / 2) - 1)._1
    val r = SparkEntry.queries("q265_theilsen_trend")(spark, sfDir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("n_days") === daily.length.toLong)
    assert(row.getAs[Long]("n_pairs") === slopes.size.toLong)
    assert(row.getAs[Long]("slope_num") === med._4)
    assert(row.getAs[Long]("slope_den") === med._5)
    assert(row.getAs[Double]("slope") === med._1)
    assert(row.getAs[Double]("intercept") === intercept)
    // the exact rational and the double quotient agree
    assert(row.getAs[Double]("slope") ===
      row.getAs[Long]("slope_num").toDouble / row.getAs[Long]("slope_den").toDouble)
  }

  test("q174/q180 two-phase bucket ranks equal the one-task window formulations") {
    import org.apache.spark.sql.expressions.Window
    // q174: registered (two-phase) global_pos vs a direct global window
    val q174 = SparkEntry.queries("q174_interleaved_order")(spark, sfDir)
    val naive174 = q174.select("doc_id", "source", "k", "n_src", "frac")
      .withColumn("global_pos", row_number().over(
        Window.orderBy(col("frac"), col("source"), col("doc_id"))).cast("long"))
    assert(q174.count() === naive174.count())
    assert(q174.except(naive174).count() === 0)
    assert(naive174.except(q174).count() === 0)
    // q180: the closed-form NTILE bucketing vs the window NTILE, compared on
    // the bucket assignment's downstream aggregate (the query's own output)
    val q180 = SparkEntry.queries("q180_probe_calibration")(spark, sfDir)
    assert(q180.count() === 10)
    // deciles of N rows: sizes differ by at most 1 and sum to N
    val sizes = q180.select("n").collect().map(_.getLong(0))
    assert(sizes.max - sizes.min <= 1,
      s"NTILE closed form produced uneven deciles: ${sizes.mkString(",")}")
    assert(sizes.sum === Tables.documents(spark, sfDir).count())
  }
}
