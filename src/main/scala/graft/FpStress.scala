package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stress harness for the cross-engine float-determinism contract (rules atop
  * Pipelines.scala) at the next scale step: local testdata tops out at sf0.1,
  * so this builds a ~sf1-equivalent corpus — TEN key-shifted, value-jittered
  * copies of sf0.1 (6M lineitem rows) — and asserts that the FP-sensitive
  * aggregates produce BIT-IDENTICAL results under radically different
  * execution geometry (local[32] + AQE + 64 shuffle partitions vs local[4] +
  * 7 partitions). Keys (orderkey, custkey, suppkey, doc_id) are shifted per
  * copy exactly as a larger scale factor would grow them, so per-group sizes
  * stay at their sf0.1 values — the contract's premise — while global
  * aggregates (q68's corpus stats, q71's moments) see the full 10× volume.
  *
  * The comparison hash is order-independent and bit-exact: per-row xxhash64
  * over all columns (doubles hash their IEEE bit pattern) summed as
  * DECIMAL(38,0) — any single-bit drift in any double anywhere flips it.
  *
  * Usage: runMain graft.FpStress local[32]   (writes hash file)
  *        runMain graft.FpStress local[4]    (writes + compares if both exist)
  * Results recorded in BENCH_NOTES ("FP stress at ~sf1").
  */
object FpStress {

  private val srcDir = "/root/testdata/sf0.1"
  private val dataDir = "/root/repo/target/fpstress/sf1"
  /** The ~sf1 corpus location, shared with [[PairSweep]]. */
  private[graft] def corpusDir: String = dataDir
  /** Build-if-missing entry for other harnesses ([[PairSweep]]). */
  private[graft] def ensureBuilt(s: SparkSession): Unit = build(s)
  private val copies = 10
  private val keyOff = 100000000L // far above any sf0.1 key

  private val fpQueries = Seq(
    "q03_fact_enriched", "q10_mart_customer_value", "q11_customer_agg",
    "q68_bm25_score", "q71_length_outliers",
    // round-7 additions: cents×µs integer sums with a final double division
    // (q88), the rational-idf score with zipfian term keys (q91), and the
    // multi-phase weighted median's bucket arithmetic (q95)
    "q88_time_weighted_avg", "q91_tfidf_top_terms", "q95_weighted_median",
    // round-9: the rational bigram surprisal's round-sum (q116)
    "q116_bigram_surprisal",
    // round-9 continuation: the power-iteration direction's DECIMAL(38,12)
    // Gram sums — the whole point is geometry-independence of the converged
    // direction, so the cross-geometry master compare is its natural test
    // (q121's cosine outputs ride along via the shared cell assignment)
    "q121_semdedup", "q122_pca_power",
    // round-9, fifth continuation: every new decimal-sum iterate — the
    // Weiszfeld median's 1/d contributions (q150), the ADC rank order over
    // exact decimal LUT sums (q156), the full IVFADC chain (q157), and the
    // chi-square total's per-cell round-sum (q160)
    "q150_geometric_median", "q156_pq_adc_topk", "q157_ivfpq_topk",
    "q160_chi2_independence",
    // round-10: the newest decimal/double iterates — ANOVA's per-group
    // decimal moment sums (q175), the temperature-mixture's exp/logsumexp
    // ladder (q179), the probe-calibration's corpus-wide conversion-safe
    // score sum (q180), and the Herfindahl concentration's share-of-total
    // squares (q181)
    "q175_anova_f", "q179_temperature_mixture", "q180_probe_calibration",
    "q181_hhi_spend",
    // round-11: the newest double-emitting operators — the tie-corrected
    // ROC-AUC's per-value histogram algebra (q189), the centroid
    // silhouette's per-cluster decimal distance sums (q191), the ANN
    // recall@5 quotients over the q19-vs-q18 match counts (q195), and the
    // Neyman allocation's FLOOR-quantized weights + Hamilton remainders
    // (q199)
    "q189_probe_auc", "q191_centroid_silhouette", "q195_ann_recall",
    "q199_neyman_allocation",
    // round-12: the newest final-double divisions — Cohen's kappa over
    // DECIMAL(38) cross-multiplications (q221) and the exact-integer MRR /
    // displacement quotients (q222)
    "q221_dedup_method_kappa", "q222_ann_rank_quality",
    // late round-12: the HLL estimate (q240 — one double division whose
    // operands are exact by construction: register max + a harmonic sum
    // capped at 2^53; geometry-independence here certifies the register
    // aggregation, not the arithmetic)
    "q240_hll_distinct",
    // round-13 (VERDICT r12 directive #6): the DKW rank-error audit's
    // sample-quantile/exact-rank double comparisons (q247) and the MMR
    // greedy's λ-blended relevance/redundancy scores (q249)
    "q247_sample_quantiles", "q249_mmr_rerank",
    // late round-13: the truncated-RBO final division over integer
    // nano-unit sums (q258 — the q222 no-double-sum discipline) and the
    // tf-idf cosine's int64-cast division chain (q259)
    "q258_rbo_agreement", "q259_tfidf_cosine",
    // round-15: the held-out LM filter's round-sum score (q267 — per-bigram
    // exact-integer quotients rounded to 6dp, per-doc sums re-rounded; the
    // fold split is doc_id parity, stable under the key shifts)
    "q267_lm_perplexity",
    // late round-15: the domain weights built on q267's round-sum score via
    // floor(score·10^6) (q270 — the floor is the one double step;
    // everything after is integer). q269 is deliberately NOT here: its
    // published stream artifact is fingerprint-shared across geometries, so
    // a second-geometry run would re-read rather than re-aggregate —
    // StreamingSpec's both-ways set equality is its geometry evidence
    "q270_domain_reweight",
    // round-15 second wave: the k-center greedy's FLOOR((x−c)²·1e9)
    // quantized distances (q274 — the per-dim product is the one double
    // step; the argmax chain that picks the centers is integer, so the
    // cross-geometry compare certifies the whole 8-round selection).
    // q271/q272/q273 are deliberately NOT here: pure integer/ppm pipelines
    // with no floating step anywhere
    "q274_kcenter_coreset",
    // round-16 (VERDICT r15 directive #4): the k-means fit (q277 — the
    // FLOOR(x·10⁶) quantization is the one double step; the compare
    // certifies the whole 4-iteration assignment/update chain — argmin
    // ties, per-dim sums, floor-div — across geometries) and the balanced
    // sampler built on its centroids (q278)
    "q277_kmeans_centroids", "q278_cluster_balanced_sample",
    "q279_cluster_quality",
    // round-17 (VERDICT r16 directive #1): the k-center-SEEDED fit — the
    // compare certifies the composed chain (q274's double-domain greedy
    // feeding q277's integer Lloyd loop) across geometries
    "q283_kmeans_kcenter_seeded",
    // round-18 (VERDICT r17 #3): the K-sweep rides four id-seeded fits —
    // the compare certifies each K's quantize/assign/update chain plus the
    // DECIMAL(38,0) SSE accumulation across geometries. q290 is
    // deliberately NOT here: md5-window dedup + the q287 rewrite are
    // integer/string pipelines with no floating step (quality_score's
    // double is a per-row filter, re-derived identically per geometry)
    "q291_kmeans_k_sweep")

  /** 2-decimal deterministic jitter in [0, 0.96], keyed by (row key, copy) —
    * keeps every jittered double a 2-decimal value so the round(sum, p)
    * contract's premises hold on the synthetic corpus too. */
  private def jitter(key: String, i: Int) =
    (pmod(col(key) * 31 + lit(i) * 7, lit(97)).cast("double") / 100.0)

  /** Documents-only DEEP stress corpus for [[PairSweep]]'s sf3/sf10 rungs:
    * `copies` key-shifted, character-permuted copies of sf0.1 documents
    * (the five output-heavy pair miners q111/q117/q135/q256/q259 read only
    * this table). The 10-rotation vowel alphabet of [[build]] yields only
    * 10 distinct permutations — copies 10 and 20 would be VERBATIM text
    * twins of copy 0 under different doc_ids, multiplying per-shingle dfs
    * and faking quadratic candidate growth — so here each copy composes a
    * vowel-ish rotation (i mod 10) with a disjoint consonant rotation
    * (i div 10): 100 distinct permutations, every copy a disjoint shingle
    * set, per-shingle dfs at their sf0.1 values — the honest larger-corpus
    * shape. Copies 0–9 coincide exactly with [[build]]'s documents (the
    * consonant rotation is the identity there), so the rungs share a base.
    *
    * Caveat (ADVICE r14, measured r15): "disjoint" is exact only for
    * shingles touching at least one of the 20 permuted letters — a token of
    * only j/k/q/v/x/z/digits/punctuation is a fixed point of translate and
    * would be shared verbatim across copies. Measured at sf0.1: ZERO of the
    * 27 213 distinct shingles are fixed points, and the rare-shingle
    * candidate counts at 30/100 copies are 30.26× / 99.71× the sf0.1 base
    * (<1% off exact linear — the residual is df-clipping interplay, not
    * shared shingles), so the distortion is negligible on this corpus. */
  private[graft] def docsCorpus(s: SparkSession, copies: Int): String = {
    require(copies <= 100, "only 100 distinct composed permutations exist")
    val dir = s"/root/repo/target/fpstress/docs$copies"
    val marker = Paths.get(s"$dir/_BUILT_v1")
    val stamp = s"$srcDir fp=${ops.Artifacts.fingerprint(s, srcDir)}"
    if (Files.exists(marker) && Files.readString(marker) == stamp) return dir
    val alpha = "aeiounrstl"
    val beta = "cdhmpgbfwy"
    val src = s.read.parquet(s"$srcDir/documents.parquet")
    (0 until copies).map { i =>
      val pa = alpha.drop(i % 10) + alpha.take(i % 10)
      val pb = beta.drop(i / 10 % 10) + beta.take(i / 10 % 10)
      src.select(
        (col("doc_id") + i * keyOff).as("doc_id"),
        translate(col("text"), alpha + beta, pa + pb).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ union _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Files.createDirectories(marker.getParent)
    Files.writeString(marker, stamp)
    dir
  }

  private def build(s: SparkSession): Unit = {
    // marker is VERSIONED (bump the suffix whenever the corpus definition
    // changes — v3: events.ts copied in the source's current physical
    // layout) AND stamped with the SOURCE fingerprint: the driver
    // regenerates /root/testdata between rounds under unchanged paths, and
    // a done-flag without a staleness key would keep feeding PairSweep a
    // corpus derived from a previous data generation — the Repo.materialize
    // contract, applied here
    // v5: full table set, so the ENTIRE suite runs at ~sf1, not just
    // PairSweep. part/nation/region copy VERBATIM (their keys — l_partkey,
    // c_nationkey — are the ones the fact copies do NOT shift, and a dim
    // growing sub-linearly vs its facts is the realistic 10× shape);
    // supplier copies KEY-SHIFTED like its fact side, because lineitem's
    // l_suppkey IS shifted per copy — a verbatim supplier would silently
    // resolve only copy 0's joins
    val marker = Paths.get(s"$dataDir/_BUILT_v5")
    val stamp = s"$srcDir fp=${ops.Artifacts.fingerprint(s, srcDir)}"
    if (Files.exists(marker) && Files.readString(marker) == stamp) return
    def tenfold(name: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val src = s.read.parquet(s"$srcDir/$name.parquet")
      (0 until copies).map(i => copy(src, i)).reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dataDir/$name.parquet")
    }
    tenfold("orders") { (df, i) =>
      df.select(
        (col("o_orderkey") + i * keyOff).as("o_orderkey"),
        (col("o_custkey") + i * keyOff).as("o_custkey"),
        col("o_orderstatus"),
        (col("o_totalprice") + jitter("o_orderkey", i)).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }
    tenfold("customer") { (df, i) =>
      df.select(
        (col("c_custkey") + i * keyOff).as("c_custkey"),
        col("c_name"), col("c_nationkey"),
        (col("c_acctbal") + jitter("c_custkey", i)).as("c_acctbal"),
        col("c_mktsegment"))
    }
    tenfold("lineitem") { (df, i) =>
      df.select(
        (col("l_orderkey") + i * keyOff).as("l_orderkey"),
        col("l_partkey"),
        (col("l_suppkey") + i * keyOff).as("l_suppkey"),
        col("l_linenumber"),
        (col("l_quantity") + jitter("l_orderkey", i)).as("l_quantity"),
        (col("l_extendedprice") + jitter("l_orderkey", i)).as("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }
    // per-copy character permutation (length-preserving, word boundaries
    // untouched, so n_chars == length(text) still holds): copies carry
    // DISTINCT shingle/term sets, keeping per-shingle document frequencies
    // at their sf0.1 values — the same per-group-size premise the key
    // shifts enforce. Ten verbatim copies would instead multiply every df
    // ×10 and distort the pair-mining operators' candidate space.
    val alpha = "aeiounrstl"
    tenfold("documents") { (df, i) =>
      val perm = alpha.drop(i % alpha.length) + alpha.take(i % alpha.length)
      df.select(
        (col("doc_id") + i * keyOff).as("doc_id"),
        translate(col("text"), alpha, perm).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    // embeddings: per-(copy, component) deterministic offset in [−0.08, 0.08]
    // flips near-zero hyperplane dots, so copies land in mostly different
    // LSH buckets — per-bucket density stays at sf0.1 levels, the honest
    // sf1 shape for the ANN candidate space (copy 0 is the original)
    tenfold("embeddings") { (df, i) =>
      val emb =
        if (i == 0) col("embedding")
        else expr(s"""transform(embedding, (x, j) ->
             CAST(x + (pmod(vec_id * 31 + $i * 7 + j, 17) - 8) / 100.0 AS FLOAT))""")
      df.select(
        (col("vec_id") + i * keyOff).as("vec_id"),
        emb.as("embedding"),
        col("label"))
    }
    // events: ts passes through in the source's own physical layout (current
    // testdata: TIMESTAMP(MICROS) → copied as TimestampType; a legacy NANOS
    // source would copy as BIGINT nanos under nanosAsLong) — either way the
    // adaptive Tables.eventsAt branch reads the corpus back correctly; users
    // shift per copy so per-(user, day) group sizes stay at sf0.1 values
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tenfold("events") { (df, i) =>
      df.select(
        (col("event_id") + i * keyOff).as("event_id"),
        col("ts"),
        (col("user_id") + i * keyOff).as("user_id"),
        col("event_type"),
        (col("value") + jitter("event_id", i)).as("value"),
        col("props"))
    }
    tenfold("supplier") { (df, i) =>
      df.select(
        (col("s_suppkey") + i * keyOff).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))
    }
    Seq("part", "nation", "region").foreach { t =>
      s.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$dataDir/$t.parquet")
    }
    Files.createDirectories(marker.getParent)
    Files.writeString(marker, stamp)
  }

  /** Order-independent exact hash of a frame: (row count, Σ xxhash64(row) as
    * DECIMAL(38,0)). Stable under any partitioning/ordering; sensitive to a
    * single-ulp change in any double. */
  private def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  def main(args: Array[String]): Unit = {
    val master = args.headOption.getOrElse("local[32]")
    val tag = master.replaceAll("[^a-z0-9]", "")
    // deliberately different parallelism geometry per master
    val spark = Harness.session(master.filter(_.isDigit).toInt,
      partitions = if (tag == "local4") 7 else 64)
    // force q95's DISTRIBUTED phases: the adaptive driver path has no FP
    // surface (integer walk over a collected slice) — the multi-phase plan's
    // bucket arithmetic is what this harness exists to stress
    spark.conf.set("graft.q95.driverSliceRows", "0")
    build(spark)

    val hashes = fpQueries.map { name =>
      val t0 = System.nanoTime()
      val (n, h) = contentHash(SparkEntry.queries(name)(spark, dataDir))
      println(f"[fpstress] $name rows=$n hash=$h (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      name -> s"$n:$h"
    }.toMap

    val mine = Paths.get(s"$dataDir/../hash_$tag.json")
    Files.writeString(mine, hashes.toSeq.sorted
      .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}"))
    val other = Paths.get(s"$dataDir/../hash_${if (tag == "local4") "local32" else "local4"}.json")
    if (Files.exists(other)) {
      val theirs = Files.readString(other)
      val mineS = Files.readString(mine)
      if (theirs == mineS) println(s"[fpstress] PASS: bit-identical across $tag and its counterpart")
      else {
        println(s"[fpstress] FAIL:\n  $tag: $mineS\n  other: $theirs")
        spark.stop(); sys.exit(1)
      }
    } else println(s"[fpstress] wrote $mine; run the other master to compare")
    spark.stop()
  }
}
