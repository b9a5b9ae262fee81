package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every floating-point-sensitive query is a fixed function of its input
  * files, whatever the execution geometry. Each query runs twice:
  *   - A: the shared test session over sf0.001 (one file per table, one
  *     shuffle partition per core);
  *   - B: a copy of sf0.001 in which every table is a directory of three
  *     part files with its rows dealt round-robin, run with 7 shuffle
  *     partitions and its own artifacts root.
  * B's dir has its own path, so everything keyed by dir (PlanCache, Fit,
  * Tables, Artifacts, Repo) is rebuilt for B: nothing is shared between the
  * two runs. The results must carry the same [[GeometrySpec.contentHash]]. */
class GeometrySpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._
  import GeometrySpec._

  private lazy val root: Path = Files.createTempDirectory("graft-geometry")

  /** sf0.001 with every table rewritten as three round-robin part files. */
  private lazy val dirB: String = {
    val dir = root.resolve("sf0.001")
    new java.io.File(sfDir).list().filter(_.endsWith(".parquet")).foreach { t =>
      spark.read.parquet(s"$sfDir/$t").repartition(3)
        .write.parquet(dir.resolve(t).toString)
      val parts = dir.resolve(t).toFile.list().count(_.endsWith(".parquet"))
      assert(parts >= 3, s"$t copied as $parts part files")
    }
    dir.toString
  }

  override def afterAll(): Unit =
    Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  /** `body` under geometry B's confs, restored afterwards. */
  private def inB[T](body: => T): T = {
    val conf = spark.conf
    val confs = Map("spark.sql.shuffle.partitions" -> "7",
      "graft.artifacts.dir" -> root.resolve("artifacts").toString)
    val saved = confs.keys.map(k => k -> conf.getOption(k))
    try { confs.foreach { case (k, v) => conf.set(k, v) }; body }
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  private def both(frame: String => DataFrame): ((Long, String), (Long, String)) = {
    val b = dirB // the copy is written under A's confs
    (contentHash(frame(sfDir)), inB(contentHash(frame(b))))
  }

  fpQueries.foreach { name =>
    test(s"$name: same content hash under both geometries") {
      val (a, b) = both(SparkEntry.queries(name)(spark, _))
      layoutDependent.get(name) match {
        case Some(why) =>
          info(if (a == b) "identical across geometries"
               else s"differed, as expected: $why (A $a, B $b)")
        case None => assert(a === b, s"$name: result depends on the geometry")
      }
    }
  }

  test("q95's distributed phases (sliceCap = 0): same content hash under both geometries") {
    // the default cap takes the driver walk at this scale; cap 0 runs the
    // multi-phase bucket arithmetic the cap skips
    val (a, b) = both(dir => ops.Analytics.weightedMedianOf(
      ops.Analytics.weightedMedianInput(spark, dir), sliceCap = 0))
    assert(a === b, "q95's distributed phases depend on the geometry")
  }
}

object GeometrySpec {
  /** The floating-point-sensitive queries: double-valued aggregates,
    * decimal-sum iterates and the fits built on them. */
  val fpQueries: Seq[String] = Seq(
    "q03_fact_enriched", "q10_mart_customer_value", "q11_customer_agg",
    "q68_bm25_score", "q71_length_outliers",
    // integer sums with a final double division, rational idf, the
    // multi-phase weighted median
    "q88_time_weighted_avg", "q91_tfidf_top_terms", "q95_weighted_median",
    "q116_bigram_surprisal",
    // power iteration over DECIMAL(38,12) Gram sums
    "q121_semdedup", "q122_pca_power",
    // Weiszfeld median, ADC rank order over decimal LUT sums, the IVFADC
    // chain, the chi-square round-sum
    "q150_geometric_median", "q156_pq_adc_topk", "q157_ivfpq_topk",
    "q160_chi2_independence",
    "q175_anova_f", "q179_temperature_mixture", "q180_probe_calibration",
    "q181_hhi_spend",
    "q189_probe_auc", "q191_centroid_silhouette", "q195_ann_recall",
    "q199_neyman_allocation",
    "q221_dedup_method_kappa", "q222_ann_rank_quality",
    "q240_hll_distinct",
    "q247_sample_quantiles", "q249_mmr_rerank",
    "q258_rbo_agreement", "q259_tfidf_cosine",
    "q267_lm_perplexity", "q270_domain_reweight",
    // quantized distances feeding an integer argmax chain
    "q274_kcenter_coreset",
    // integer Lloyd fits and what is built on them
    "q277_kmeans_centroids", "q278_cluster_balanced_sample",
    "q279_cluster_quality", "q283_kmeans_kcenter_seeded",
    "q291_kmeans_k_sweep")

  /** The queries whose result depends on the file layout today. Their IVF
    * quantizer or PQ codebooks train with Spark ML KMeans, whose k-means||
    * initialisation samples per partition and whose float sums follow
    * partition order (ROADMAP F). They run and report; they are not
    * asserted. Any other mismatch is a defect. */
  val layoutDependent: Map[String, String] = Map(
    "q121_semdedup" -> "IVF cells from the Spark ML fit (ROADMAP F)",
    "q156_pq_adc_topk" -> "PQ codebooks from the Spark ML fit (ROADMAP F)",
    "q157_ivfpq_topk" -> "IVF cells and PQ codebooks from the Spark ML fit (ROADMAP F)")

  /** Order-independent exact hash of a frame: (row count, Σ xxhash64 over
    * its name-sorted columns as DECIMAL(38,0)). Stable under any
    * partitioning or row order; a one-ulp change in any double flips it. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("empty")(_.toBigInteger.toString))
  }
}
