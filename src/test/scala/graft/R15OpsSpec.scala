package graft

import org.scalatest.funsuite.AnyFunSuite

/** Behavioral coverage for the round-15 changes: the per-document blocking
  * budget on the shared rare-shingle index (VERDICT r15 directive #1 — never
  * bites at tested sf; bounds a pathological hub document), the q259
  * disk-bounded sliced verify (row-identical to the one-pass plan by pair
  * independence), the analysis-time typing of the custom aggregates
  * (ADVICE r14), the q267 held-out LM filter's mode separation, and the
  * q270 DoReMi domain-reweighting mix built on it.
  */
class R15OpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import org.apache.spark.sql.functions._

  test("rare-shingle doc cap never bites on real testdata (audit: zero capped docs)") {
    val audit = ops.Dedup.rareShingleDocAudit(spark, sfDir)
    assert(audit.count() > 0)
    assert(audit.filter(col("capped")).count() === 0,
      "default cap bit on real testdata — published hashes would change")
    // cap headroom vs the measured maxima (98 rare shingles/doc at sf0.1 AND
    // at the 30x/100x composed-permutation deep corpora — per-doc counts
    // track doc length, not corpus size)
    assert(ops.Dedup.RareShingleDocCap > 98)
  }

  test("rare-shingle doc cap bounds a pathological hub document") {
    import spark.implicits._
    // one HUB doc shares a distinct rare shingle with each of 40 satellites:
    // hub text chains 40 3-grams "hi<k> m<k> lo<k>"; satellite k repeats the
    // k-th 3-gram, so each of those 3-grams has df=2 (rare), and the hub's
    // rare-shingle set has >= 40 entries while satellites hold ~5 each
    val hubWords = (0 until 40).flatMap(k => Seq(s"hi$k", s"m$k", s"lo$k"))
    val hub = (1L, hubWords.mkString(" "))
    val sats = (0 until 40).map(k =>
      (100L + k, s"hi$k m$k lo$k hi$k m$k lo$k"))
    val docs = spark.createDataset(hub +: sats).toDF("doc_id", "text")
    val uncapped = ops.Dedup.rareShingleRowsOf(docs, cap = Int.MaxValue)
    val hubRare = uncapped.filter(col("doc_id") === 1L).count()
    assert(hubRare >= 40L, s"fixture broken: hub holds $hubRare rare shingles")
    // cap = 8: the hub keeps its 8 RAREST shingles — blocking fan-out bounded
    val capped = ops.Dedup.rareShingleRowsOf(docs, cap = 8)
    assert(capped.filter(col("doc_id") === 1L).count() === 8L)
    // satellites are untouched (each holds fewer than 8 rare shingles)
    assert(capped.filter(col("doc_id") >= 100L).count() ===
      uncapped.filter(col("doc_id") >= 100L).count())
    // determinism: the kept 8 are the lexicographically-first among df-ties
    // (df asc, shingle asc) — two runs agree exactly
    val a = capped.filter(col("doc_id") === 1L).collect().map(_.getString(0)).sorted
    val b = ops.Dedup.rareShingleRowsOf(docs, cap = 8)
      .filter(col("doc_id") === 1L).collect().map(_.getString(0)).sorted
    assert(a.toSeq === b.toSeq)
    // and the audit reports the TRUE uncapped count with the capped flag
    val audit = ops.Dedup.rareShingleDocAuditOf(docs, cap = 8)
    val hubRow = audit.filter(col("doc_id") === 1L).head()
    assert(hubRow.getAs[Long]("n_rare") === hubRare)
    assert(hubRow.getAs[Boolean]("capped"))
  }

  test("q267 LM filter separates fluent text from planted gibberish") {
    import spark.implicits._
    // fluent docs: the same sentence shape in both folds, so each fold's LM
    // has seen every transition of the other fold (n_hit = n_bigrams, score
    // = mean c1/c2 — small); gibberish docs: tokens NO fold has seen (pure
    // OOV ceiling) and a shuffled doc (words known, transitions unseen →
    // backoff path)
    // 200 fluent docs so each fold's LM holds T ≈ 1200 tokens — enough that
    // the OOV ceiling 2.5·(T+V) clears the absolute gate, mirroring a real
    // corpus where the ceiling is millions
    val fluent = (1L to 200L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog and runs home"))
    val gibberish = Seq(
      (1001L, "zxqv jkwp mmvt qqzl xxsw ppfy"), // OOV: no fold knows these
      (1002L, "dog the over home runs quick and lazy fox jumps the brown"))
    val out = ops.TextOps.lmPerplexityOf(
        spark.createDataset(fluent ++ gibberish).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val fluentScores = (1L to 200L).map(out(_).getAs[Double]("ppl_proxy"))
    val oovScore = out(1001L).getAs[Double]("ppl_proxy")
    val shufScore = out(1002L).getAs[Double]("ppl_proxy")
    // fluent docs hit the held-out LM on every bigram and pass the gate
    assert((1L to 200L).forall(out(_).getAs[Long]("n_hit") ===
      out(1L).getAs[Long]("n_bigrams")))
    assert((1L to 200L).forall(out(_).getAs[Boolean]("pass_lm")))
    // gibberish scores strictly dominate every fluent score; OOV fails the gate
    assert(oovScore > fluentScores.max * 10,
      s"OOV doc $oovScore not separated from fluent max ${fluentScores.max}")
    assert(shufScore > fluentScores.max,
      s"shuffled doc $shufScore not above fluent max ${fluentScores.max}")
    assert(!out(1001L).getAs[Boolean]("pass_lm"))
    // the OOV doc took the ceiling path on every bigram: no hits, no backoff
    assert(out(1001L).getAs[Long]("n_hit") === 0L)
    assert(out(1001L).getAs[Long]("n_backoff") === 0L)
    // the shuffled doc's words are known → backoff, not ceiling
    assert(out(1002L).getAs[Long]("n_backoff") > 0L)
  }

  test("q270 shifts the alpha mass onto the high-excess domain (DoReMi mix)") {
    import spark.implicits._
    // two domains: "clean" docs are the same fluent sentence in both folds
    // (every transition known to the held-out LM — scores tiny); "noisy"
    // docs alternate unseen-token gibberish per fold (OOV-ceiling scores).
    // The corpus baseline sits between, so ONLY noisy carries excess → its
    // weight is the uniform floor PLUS the whole alpha mass.
    val clean = (1L to 40L).map(i =>
      (i, "clean", "the quick brown fox jumps over the lazy dog and runs home"))
    val noisy = (101L to 110L).map(i =>
      (i, "noisy", s"zzq$i xxv$i jjw$i qqk$i vvx$i"))
    val out = ops.TextOps.domainReweightOf(
        spark.createDataset(clean ++ noisy).toDF("doc_id", "source", "text"))
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out.keySet === Set("clean", "noisy"))
    val (c, n) = (out("clean"), out("noisy"))
    assert(c.getAs[Long]("n_docs") === 40L && n.getAs[Long]("n_docs") === 10L)
    // clean is below the corpus baseline → zero excess → uniform floor only
    assert(c.getAs[Long]("excess_ppm") === 0L)
    assert(c.getAs[Long]("weight_ppm") === (1000000L - ops.TextOps.drAlphaPpm) / 2)
    // noisy owns the entire alpha mass on top of its floor
    assert(n.getAs[Long]("excess_ppm") > 0L)
    assert(n.getAs[Long]("weight_ppm") ===
      (1000000L - ops.TextOps.drAlphaPpm) / 2 + ops.TextOps.drAlphaPpm)
    // weights sum to 1e6 less only floor-rounding deficit (< n_sources + 1)
    val sum = c.getAs[Long]("weight_ppm") + n.getAs[Long]("weight_ppm")
    assert(sum <= 1000000L && sum > 1000000L - 3)
    // the ppm clamp never binds at tested sfs: the REAL corpus max score is
    // orders of magnitude under it (measured 488 at sf0.1), and even this
    // fixture's OOV-ceiling scores stay under the clamp
    assert(ops.TextOps.lmPerplexityOf(
        spark.createDataset(clean ++ noisy).toDF("doc_id", "source", "text")
          .select("doc_id", "text"))
      .agg(max("ppl_proxy")).head.getDouble(0) < ops.TextOps.drClampMax)
  }

  test("q271 modularity agrees with an exact BigInt recomputation from the graph") {
    val out = SparkEntry.queries("q271_modularity")(spark, sfDir).collect()
    assert(out.nonEmpty)
    // independent recomputation: exact rational modularity from the collected
    // pair list + the SAME label frame, in BigInt driver algebra
    val pairs = ops.Dedup.ngramJaccard.run(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = ops.DedupCluster.lpaCached(spark, sfDir)
      .select("doc_id", "label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = BigInt(pairs.length)
    val eIn = pairs.groupBy { case (a, b) =>
      if (labels(a) == labels(b)) Some(labels(a)) else None
    }.collect { case (Some(c), ps) => c -> BigInt(ps.length) }
    val dSum = pairs.flatMap { case (a, b) => Seq(labels(a), labels(b)) }
      .groupBy(identity).map { case (c, xs) => c -> BigInt(xs.length) }
    // row-level: every community's e_in/d_sum matches the exact recount
    for (r <- out) {
      val c = r.getAs[Long]("community")
      assert(BigInt(r.getAs[Long]("e_in")) === eIn.getOrElse(c, BigInt(0)))
      assert(BigInt(r.getAs[Long]("d_sum")) === dSum(c))
    }
    assert(out.map(_.getAs[Long]("d_sum")).sum === 2 * pairs.length)
    // global: Σ q_ppm is the exact Q·1e6 up to one floor unit per community
    // (toSeq: mapping the key SET would dedupe equal contributions)
    val exactPpmNum = dSum.toSeq.map { case (c, d) =>
      (4 * m * eIn.getOrElse(c, BigInt(0)) - d * d) * 1000000
    }.sum
    val exactPpm = exactPpmNum.toDouble / (4 * m * m).toDouble
    val summed = out.map(_.getAs[Long]("q_ppm")).sum.toDouble
    assert(math.abs(summed - exactPpm) <= out.length.toDouble,
      s"sum(q_ppm)=$summed vs exact $exactPpm")
    // the LPA partition on a near-dup graph is real structure, not chance
    assert(summed > 0.0, "modularity of the template partition should be > 0")
  }

  test("q272 EM separates a planted match/nonmatch pattern mix without labels") {
    import spark.implicits._
    // 100 all-agree pairs (the matches) + 900 all-disagree pairs: EM must
    // recover p ≈ 0.1 and drive the all-agree posterior to ~1, all-disagree
    // to ~0 — from the pattern counts ALONE (no truth column anywhere)
    val flags = spark.createDataset(
        (1L to 100L).map(i => (i, i + 10000L, 1L, 1L, 1L, 1L)) ++
        (1L to 900L).map(i => (i + 20000L, i + 30000L, 0L, 0L, 0L, 0L)))
      .toDF("doc_a", "doc_b", "a_lang", "a_source", "a_len", "a_tok")
    val fit = ops.Dedup.emFitOf(spark, ops.Dedup.patternsOf(flags))
      .collect().map(r => (r.getAs[Long]("a_lang"), r.getAs[Long]("a_source"),
        r.getAs[Long]("a_len"), r.getAs[Long]("a_tok")) -> r).toMap
    assert(fit.size === 2)
    val hit = fit((1L, 1L, 1L, 1L))
    val miss = fit((0L, 0L, 0L, 0L))
    assert(hit.getAs[Long]("n") === 100L && miss.getAs[Long]("n") === 900L)
    assert(hit.getAs[Long]("w_ppm") >= 999000L,
      s"all-agree posterior ${hit.getAs[Long]("w_ppm")} should be ~1e6")
    assert(miss.getAs[Long]("w_ppm") <= 1000L,
      s"all-disagree posterior ${miss.getAs[Long]("w_ppm")} should be ~0")
    assert(hit.getAs[String]("verdict") === "link")
    assert(miss.getAs[String]("verdict") === "nonlink")
    val p = hit.getAs[Long]("p_ppm")
    assert(p >= 90000L && p <= 110000L, s"fitted p_ppm $p should be ~100000")
    // every fitted parameter respects the open-interval ppm clamp
    for (f <- Seq("lang", "source", "len", "tok"); k <- Seq("m", "u")) {
      val v = hit.getAs[Long](s"${k}_$f")
      assert(v >= 1L && v <= 999999L)
      // and m_k > u_k: agreement is evidence FOR a match in this mix
      assert(hit.getAs[Long](s"m_$f") > hit.getAs[Long](s"u_$f"))
    }
  }

  test("q273 Poisson bootstrap: replicate law, exactness, and determinism") {
    val out = SparkEntry.queries("q273_poisson_bootstrap")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("replicate") ->
        (r.getAs[Long]("n_eff"), r.getAs[Long]("w_chars"),
         r.getAs[Long]("mean_permille"))).toMap
    assert(out.keySet === (0L until 32L).toSet)
    val docs = Tables.documents(spark, sfDir)
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("n_chars")).head()
    val (n, chars) = (docs.getLong(0), docs.getLong(1))
    val trueMean = chars.toDouble / n
    for ((rep, (nEff, wChars, meanPm)) <- out) {
      // Poisson(1) replicate mass: n_eff ~ N ± sd √N (6σ band — the draws
      // are fixed md5 arithmetic, so this can never flake)
      assert(math.abs(nEff - n) <= 6 * math.sqrt(n.toDouble) + 1,
        s"replicate $rep n_eff=$nEff vs corpus $n")
      // the permille mean is EXACTLY the integral division of its own sums
      assert(meanPm === wChars * 1000L / math.max(nEff, 1L))
      // and each resampled mean stays near the corpus mean
      assert(math.abs(meanPm / 1000.0 - trueMean) <= 0.35 * trueMean,
        s"replicate $rep mean ${meanPm / 1000.0} vs corpus $trueMean")
    }
    // deterministic: a second run is bit-identical
    val again = SparkEntry.queries("q273_poisson_bootstrap")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("replicate") ->
        (r.getAs[Long]("n_eff"), r.getAs[Long]("w_chars"),
         r.getAs[Long]("mean_permille"))).toMap
    assert(again === out)
  }

  test("q272's unsupervised posterior concentrates on q262's truth-labeled dups") {
    // cross-model consistency: the EM fit never sees a label, yet its
    // per-pattern posterior must be much higher on the pairs q262's truth
    // column marks as exact near-dups than on the rest — the evidence that
    // the unsupervised fit recovered the same signal the supervised one
    // was given
    val w = SparkEntry.queries("q272_em_linkage")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("a_lang"), r.getAs[Long]("a_source"),
        r.getAs[Long]("a_len"), r.getAs[Long]("a_tok")) ->
        r.getAs[Long]("w_ppm")).toMap
    val pairs = SparkEntry.queries("q262_fs_linkage")(spark, sfDir)
      .select("a_lang", "a_source", "a_len", "a_tok", "is_dup")
      .collect().map(r => (w((r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))), r.getLong(4)))
    val dupW = pairs.collect { case (wp, 1L) => wp }
    val nonW = pairs.collect { case (wp, 0L) => wp }
    assert(dupW.nonEmpty && nonW.nonEmpty)
    val dupMean = dupW.sum.toDouble / dupW.length
    val nonMean = nonW.sum.toDouble / nonW.length
    assert(dupMean > 5 * nonMean,
      s"posterior fails to separate: dup mean $dupMean vs non-dup $nonMean")
  }

  test("q274 k-center greedy matches an exact driver recomputation; radii non-increasing") {
    val out = SparkEntry.queries("q274_kcenter_coreset")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("round"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("radius2_q"))).sortBy(_._1)
    assert(out.length === 8)
    assert(out.head._1 === 0L && out.head._3 === 0L)
    // covering radius is non-increasing in the round (the k-center law)
    val radii = out.tail.map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"radii not monotone: ${radii.mkString(",")}")
    // independent recomputation: collect the (tiny at this sf) embedding
    // table and replay the greedy with the same FLOOR((x-c)^2 * 1e9)
    // quantization in plain Scala doubles/Longs
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def d2q(a: Array[Double], b: Array[Double]): Long =
      a.zip(b).map { case (x, c) =>
        math.floor((x - c) * (x - c) * 1e9).toLong }.sum
    val byId = vecs.toMap
    var centers = List(vecs.head._1)
    var mind = vecs.map { case (id, v) =>
      id -> d2q(v, byId(centers.head)) }.toMap
    val expect = scala.collection.mutable.ArrayBuffer((0L, vecs.head._1, 0L))
    for (t <- 1 until 8) {
      val (cid, rad) = mind.toSeq.maxBy { case (id, d) => (d, -id) }
      expect += ((t.toLong, cid, rad))
      centers ::= cid
      mind = mind.map { case (id, d) =>
        id -> math.min(d, d2q(byId(id), byId(cid))) }
    }
    assert(out.toSeq === expect.toSeq)
  }

  test("q275 max-coverage greedy matches an exact driver replay; gains non-increasing") {
    val out = SparkEntry.queries("q275_maxcover_select")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("round"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("gain"), r.getAs[Long]("covered_cum"))).sortBy(_._1)
    assert(out.length === 8)
    // submodularity: marginal gains are non-increasing; cum is their prefix sum
    val gains = out.map(_._3)
    assert(gains.zip(gains.tail).forall { case (a, b) => b <= a },
      s"gains not monotone: ${gains.mkString(",")}")
    assert(out.map(_._4).toSeq === gains.scanLeft(0L)(_ + _).tail.toSeq)
    // independent replay: collect the capped posting index (small at this
    // sf) and run the greedy with plain Scala sets
    val postings = ops.Dedup.rareShingleRowsOf(
        Tables.documents(spark, sfDir).select("doc_id", "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val byDoc = postings.groupBy(_._2).map { case (d, xs) =>
      d -> xs.map(_._1).toSet }
    var covered = Set.empty[String]
    var picked = Set.empty[Long]
    val expect = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var cum = 0L
    for (t <- 0 until 8) {
      val (doc, gain) = byDoc.view.filterKeys(!picked.contains(_)).toSeq
        .map { case (d, sh) => d -> (sh -- covered).size.toLong }
        .maxBy { case (d, g) => (g, -d) }
      cum += gain
      expect += ((t.toLong, doc, gain, cum))
      picked += doc
      covered ++= byDoc(doc)
    }
    assert(out.toSeq === expect.toSeq)
  }

  test("custom aggregates reject wrong-typed inputs at analysis time") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val df = Seq((1, 2), (3, 4)).toDF("a", "b") // INT columns, not BIGINT
    for (bad <- Seq("priority_topk(a, b, 5)", "kmv_minset(a, 12)",
        "kmv_minarray(a, 12)")) {
      val e = intercept[Exception] { df.selectExpr(bad).collect() }
      assert(e.getMessage.toLowerCase.contains("bigint")
          || e.getMessage.toLowerCase.contains("datatype_mismatch"),
        s"$bad failed with the wrong error: ${e.getMessage.take(200)}")
    }
    // and the correctly-typed calls still analyze + run
    val ok = df.selectExpr("priority_topk(CAST(a AS BIGINT), CAST(b AS BIGINT), 5)",
      "kmv_minset(CAST(a AS BIGINT), 12)")
    assert(ok.count() === 1L)
  }
}
