package graft

/** Growth sweep for the pair-join operators (the class whose cost is driven
  * by CANDIDATE volume, not row count): runs q14 n-gram Jaccard, q87 edit
  * distance, q40 dedup clustering and q19 LSH ANN at sf0.1 and at the
  * FpStress ~sf1 corpus (10× rows, per-copy-perturbed text/vectors so
  * per-shingle dfs and per-bucket densities stay at their sf0.1 values —
  * the honest larger-corpus shape), and prints wall-clock growth ratios.
  *
  * The recorded q87 lesson (BENCH_NOTES r5) is that sf0.01 hides
  * candidate-set blowups; this is the next step of that ladder. A
  * sub-quadratic operator must grow ≲ the 10× data ratio (plus index
  * superlinearity); a ratio approaching 100× means the candidate space, not
  * the corpus, is scaling — the blowup class this sweep exists to catch.
  *
  * Usage: runMain graft.PairSweep  (builds the FpStress corpus if missing;
  * cold artifacts — rm -rf target/graft_cc — for a fair q40 measurement).
  * Results → BENCH_NOTES ("pair-operator growth at ~sf1").
  */
object PairSweep {

  private val queries = Seq("q14_dedup_ngram_jaccard", "q87_dedup_edit_distance",
    "q40_dedup_clusters", "q19_knn_lsh", "q15_dedup_minhash_lsh",
    "q102_dedup_incremental", "q111_setsim_join",
    // round-9 pair miners: window-text inverted index (q115) and
    // phash band join (q117) — candidate-volume-driven like the rest
    "q115_substring_spans", "q117_phash_neardup",
    // containment prefix-probe join (q135): candidate volume is
    // Σ prefix-df — the same class
    "q135_containment_join",
    // round-10: the exact-truth eval join (q144 — all-shingle inverted
    // index, the one deliberately unpruned plan) and the source-overlap
    // posting fold (q148), both now reading the shared materialized
    // all-shingle table
    "q144_lsh_eval", "q148_source_overlap",
    // round-11: the two newest shared-frame miners — directional source
    // containment (q196, reuses q148's materialized projection, so this
    // also measures the shared-frame steady state end-to-end) and the RAG
    // chunk-duplication histogram (q202, md5-keyed count-of-counts)
    "q196_source_containment", "q202_chunk_dedup",
    // round-12: the two newest heavy corpus miners — the boilerplate span
    // aggregate (q213, |spans|-bounded md5-keyed heavy agg) and the
    // copy-flow prefix pair fold (q214, |pairs|-bounded row-local
    // expansion) — both sub-quadratic claims that deserve measurement
    "q213_boilerplate_miner", "q214_source_dup_matrix",
    // late round-12: the winnowing fingerprint overlap (q238 — group-by-
    // hash pair expansion over the SELECTED fingerprints, hub-capped; the
    // selection thins postings to ~2/(w+1) density so growth should track
    // match mass, not corpus pairs)
    "q238_winnowing_overlap",
    // round-13 (VERDICT r12 directive #5): the two newest pair-volume
    // operators — sorted-neighborhood (q245: candidates EXACTLY n·(w−1)
    // per pass, so growth must track rows, not pairs) and label
    // propagation (q246: per-round cost |E|-bounded over the q14 pair
    // universe; rm -rf target alone won't reset it — its PlanCache entry
    // keys on the corpus fingerprint, so the big-dir run builds fresh)
    "q245_sorted_neighborhood", "q246_label_propagation",
    // late round-13: the unified blocking-quality report (q256 — replays
    // the exact all-shingle truth join against three candidate sets; the
    // truth join is the q144 cost class, the grades candidate-bounded)
    "q256_blocking_quality",
    // round-13 second wave: the weighted set-similarity join (q259 —
    // shingle-blocked candidates, full-vector tf-idf verify; the verify
    // expansion is |cand| × doc terms, the cost this sweep must watch)
    "q259_tfidf_cosine",
    // round-14: Fellegi–Sunter linkage (q262 — output mass = the FULL
    // candidate set, every collision pair scored; candidate-volume-driven
    // like q144's eval join)
    "q262_fs_linkage",
    // round-15: the streamed shingle-registry form of q262 (q268 — the
    // registry build is row-linear, the tail replays q262's candidate-mass
    // cost; same sweep class)
    "q268_streaming_fs_linkage",
    // round-15 second wave: modularity (q271 — two pair-table⋈labels joins
    // + a community rollup on top of the SHARED q246 LPA materialization,
    // so growth must track |E|) and the unsupervised EM fit (q272 — its
    // only data-proportional stage is the 16-group flag aggregation over
    // q262's candidate mass; everything after is 16 rows)
    "q271_modularity", "q272_em_linkage",
    // round-15 second wave: the coverage greedy (q275 — K=8 anti-join +
    // count passes over the posting index, so growth must track posting
    // rows; the covered frame is shingle-bounded)
    "q275_maxcover_select",
    // round-16: ExactSubstr spans (q276 — position-linear by construction:
    // one gram-hash df count + a semi join + per-doc window merge; growth
    // must track corpus TOKENS, never pairs — the claim this sweep checks)
    "q276_exactsubstr_spans",
    // round-17: the keep-first policy variant (q284 — same explode, one
    // min-(doc_id,pos) aggregate instead of the count; the same
    // position-linear claim, checked independently because its join
    // carries the first_occ struct where q276's is a bare semi join)
    "q284_exactsubstr_keepfirst",
    // round-18: the composed span-grain cleaning product (q290 — one
    // md5-window dedup + the shared q287 rewrite chain restricted to
    // survivors; growth must track corpus TOKENS like q276/q284 — the
    // composition must not reintroduce a pair-shaped stage)
    "q290_composed_span_clean")

  /** The output-heavy miners (VERDICT r13 directive #2): candidate/verify
    * volume grows with OUTPUT mass, so their 10×-rung ratios (4–9×) sit
    * well above the row-driven miners' and deserve one more decade of
    * measurement before "sub-quadratic" is evidence rather than
    * extrapolation. All five read only `documents`, so the deep rungs run
    * on [[FpStress.docsCorpus]] (30 and 100 composed-permutation copies =
    * ~sf3 and ~sf10 — 100× the sf0.1 base). */
  private val deepQueries = Seq("q111_setsim_join", "q117_phash_neardup",
    "q135_containment_join", "q256_blocking_quality", "q259_tfidf_cosine",
    // r15 (VERDICT directive #5): the two r14 graph/linkage operators whose
    // only growth reading was sf0.1→sf1 — q262's output mass is the FULL
    // candidate set (the q144 class), q264's wedge closure is O(m^{3/2}) on
    // duplicate-mass-bounded edges; both read only `documents`
    "q262_fs_linkage", "q264_local_clustering")

  def main(args: Array[String]): Unit = {
    // deep mode runs q259's disk-bounded sliced verify: unreferenced slice
    // shuffles are deleted by the ContextCleaner only after a full GC, so
    // the deep session pins the cleaner's periodic-GC interval well inside
    // the slice turnaround (VERDICT r15 #5 — the documented session knob
    // replacing the former in-loop System.gc(); ~40 GCs over an sf10 rung,
    // a few percent of its wall clock)
    val spark = Harness.session(extra =
      if (args.contains("deep")) Map("spark.cleaner.periodicGC.interval" -> "30s")
      else Map.empty)
    FpStress.ensureBuilt(spark)
    def time(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[pairsweep] $name @ $dir rows=$n ${sec}%.2f s")
      sec
    }
    val small = "/root/testdata/sf0.1"
    val big = FpStress.corpusDir
    if (args.contains("deep")) {
      // DEEP rungs (sf1 → sf3 → sf10 on documents-only corpora): a
      // sub-quadratic miner must grow ≲ the data ratio times its candidate
      // superlinearity — ≲9× at the 3× rung, ≲30× at the 10× rung (the
      // same ×3 allowance the 10×-rung gate uses); quadratic would be 9×
      // and 100×. Deep rungs go first so their PlanCache builds are cold.
      // Optional extra args after "deep" filter the query list (one rung's
      // re-measurement doesn't have to pay the other four).
      // q259's sf10 rung runs DISK-BOUNDED (r15): its exact-verify mass is
      // measured LINEAR (58M → 1.76B → 5.79B intermediate rows at sf1→sf3→
      // sf10 of this ladder) but the sf10 one-pass overruns an 80 GB local
      // disk, so THAT RUNG ONLY verifies in SPARK_GRAFT_Q259_SLICES
      // pair-hash slices (default 8; row-identical by pair independence,
      // R15OpsSpec). The sf1/sf3 rungs stay one-pass (they fit disk), so
      // their numbers remain comparable to r14's; the sf10 wall-clock is
      // recorded WITH the slicing cost (per-slice barrier jobs + the
      // full-GC nudges that let the ContextCleaner drop slice shuffles —
      // measured ~6.7× overhead at sf1, the price of an 8× smaller peak
      // disk footprint) — the honest bounded-disk number.
      val slices = sys.env.getOrElse("SPARK_GRAFT_Q259_SLICES", "8")
      val filter = args.filterNot(_ == "deep").toSet
      val qs = if (filter.isEmpty) deepQueries
               else deepQueries.filter(filter)
      val d30 = FpStress.docsCorpus(spark, 30)
      val d100 = FpStress.docsCorpus(spark, 100)
      qs.foreach { q =>
        val t10 = time(big, q)
        val t30 = time(d30, q)
        if (q == "q259_tfidf_cosine")
          spark.conf.set("graft.q259.verifySlices", slices)
        val t100 = time(d100, q)
        spark.conf.unset("graft.q259.verifySlices")
        println(f"[pairsweep] DEEP $q sf3/sf1=${t30 / t10}%.1f x (3x rows), " +
          f"sf10/sf1=${t100 / t10}%.1f x (10x rows) " +
          (if (t30 / t10 < 9 && t100 / t10 < 30) "(sub-quadratic)"
           else "(SUPERLINEAR - investigate)"))
      }
      spark.stop(); return
    }
    queries.foreach { q =>
      val s = time(small, q)
      val b = time(big, q)
      println(f"[pairsweep] RATIO $q ${b / s}%.1f x for 10x rows " +
        (if (b / s < 30) "(sub-quadratic)" else "(SUPERLINEAR - investigate)"))
    }
    spark.stop()
  }
}
