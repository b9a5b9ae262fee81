package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Distributed spectral analysis of the embeddings table: the dominant
  * principal direction (top right-singular vector of the uncentered data
  * matrix) via power iteration, then every vector's projection onto it.
  * The classic corpus use: a 1-D semantic axis for curriculum ordering,
  * outlier surfacing, and whitening diagnostics.
  *
  * Power iteration is Gram-vector products: w = Aᵀ(A·u) = Σᵢ (vᵢ·u)·vᵢ —
  * one aggregation pass over the corpus per iteration, with `u` broadcast
  * as a 64-double plan literal. No matrix is ever materialized; per-row
  * work is one codegen'd vec_dot + 64 multiplies.
  *
  * Determinism contract (what makes the oracle possible): floating-point
  * partial-sum order varies with partitioning, so the per-dimension sums
  * run in DECIMAL(38,12) — each row's contribution is deterministically
  * rounded to 12 dp, and decimal addition is exact and order-independent.
  * The resulting iterate (and thus the converged direction) is bit-identical
  * across any parallelism geometry. The driver normalizes the 64-vector
  * between iterations with a fixed left-to-right op sequence. The final
  * per-vector projection vᵢ·u is a sequential double fold — bit-identical
  * to DuckDB's list_dot_product — so the dynamic oracle just embeds the
  * converged direction as a DOUBLE[] literal.
  *
  * Scale shape: T=10 scans of the corpus (the input is a cached narrow
  * projection), each a 64-key partial aggregation — map-side combine
  * collapses every partition to ≤64 rows before the shuffle, so wire volume
  * is independent of N. DECIMAL(38,12) leaves 26 integer digits of headroom:
  * contributions are O(‖v‖²) ≈ 10², so overflow needs ~10²⁴ rows.
  */
object Spectral {

  private val dims = 64
  private val iterations = 10

  /** Converged direction, fitted once per corpus ([[graft.Fit]]); the q122
    * dynamic oracle embeds the run's own direction. */
  private val direction = graft.Fit[Seq[Double]]("embeddings.parquet")

  /** Train-once dominant direction: T power iterations from the exact
    * all-ones start (1/√64 = 0.125 is dyadic), each one distributed
    * Gram-vector pass. Memoized per (dir, corpus fingerprint). */
  private[graft] def principalDirection(s: SparkSession, dir: String): Seq[Double] =
    direction(s, dir) { _ =>
      graft.functions.VectorFunctions.register(s)
      val e = Tables.embeddings(s, dir)
        .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
        .persist()
      var cur: Array[Double] = Array.fill(dims)(0.125d)
      try {
        for (_ <- 1 to iterations) {
          val uLit = typedLit(cur.toSeq)
          // per-row contribution array (vᵢ·u)·vᵢ, exploded to (dim, contrib)
          // and summed exactly in decimal — 64 groups, map-side combined
          val sums = e.withColumn("u", uLit)
            .select(posexplode(expr(
              "transform(v, x -> cast(x * vec_dot(v, u) as decimal(38,12)))"))
              .as(Seq("dim", "contrib")))
            .groupBy(col("dim")).agg(sum("contrib").as("w"))
            .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue()).toMap
          val w = Array.tabulate(dims)(j => sums.getOrElse(j, 0d))
          // fixed-order normalization (left-to-right) keeps the driver math
          // deterministic too
          var ss = 0d
          var j = 0
          while (j < dims) { ss += w(j) * w(j); j += 1 }
          val norm = math.sqrt(ss)
          cur = w.map(_ / norm)
        }
      } finally e.unpersist()
      cur.toSeq
    }

  /** q122: dominant principal direction + per-vector projection and rank.
    * The projection is the bit-exact sequential dot fold both engines share;
    * the oracle embeds the converged direction the run itself produced. */
  val pcaProjection: Q = Q(
    "q122_pca_power",
    (s, dir) => {
      graft.functions.VectorFunctions.register(s)
      val uLit = typedLit(principalDirection(s, dir))
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("u", uLit)
        .select(col("vec_id"), expr("vec_dot(v, u)").as("proj"))
    },
    None,
    Some(() => direction.forOracle.map { u =>
      val uLit = graft.SqlLit.doubles(u)
      s"""SELECT vec_id,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST($uLit AS DOUBLE[])) AS proj
      FROM embeddings"""
    }))

  // ---- q133: GD-trained linear probe -------------------------------------
  private val probeIters = 8
  private val probeEta = 0.05d

  private val probe = graft.Fit[Seq[Double]]("documents.parquet")

  /** Train a 3-weight linear probe (bias, chars/1000, ws-tokens/100 →
    * is-English) by T full-batch gradient-descent passes — the fastText-class
    * "cheap quality/language classifier" stage of a corpus pipeline, reduced
    * to its distributed essence: each GD step is ONE aggregation pass,
    * w ← w − η·Xᵀ(Xw − y)/n, with the current weights broadcast as plan
    * literals (the q122 loop shape). Per-row residuals are fixed-shape double
    * expressions; per-row gradient contributions are rounded to
    * DECIMAL(38,12) and summed exactly, so the trained weights are
    * bit-identical under any partitioning; the driver update is a fixed
    * scalar op sequence. Squared loss keeps every op rational — no exp()/
    * sigmoid, which is not bit-stable across engines.
    *
    * Scale shape: T scans of a 3-column projection (persisted), each
    * collapsing map-side to ≤3 decimal partials per partition — wire volume
    * independent of N. */
  private[graft] def probeWeights(s: SparkSession, dir: String): Seq[Double] =
    probe(s, dir) { _ =>
      val feats = Tables.documents(s, dir).select(
        (col("n_chars").cast("double") / lit(1000.0d)).as("x1"),
        (size(split(col("text"), " ")).cast("double") / lit(100.0d)).as("x2"),
        when(col("lang") === "en", 1.0d).otherwise(0.0d).as("y")).persist()
      val n = feats.count().toDouble
      var cur = Array(0d, 0d, 0d)
      try {
        for (_ <- 1 to probeIters) {
          val sums = feats
            .withColumn("r", lit(cur(0)) + lit(cur(1)) * col("x1") +
              lit(cur(2)) * col("x2") - col("y"))
            .select(posexplode(expr(
              "transform(array(cast(1.0 as double), x1, x2)," +
                " x -> cast(x * r as decimal(38,12)))")).as(Seq("j", "g")))
            .groupBy(col("j")).agg(sum("g").as("g"))
            .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue()).toMap
          cur = Array.tabulate(3)(j =>
            cur(j) - probeEta * (sums.getOrElse(j, 0d) / n))
        }
      } finally feats.unpersist()
      cur.toSeq
    }

  /** q133: score every document with the trained probe. The scoring
    * expression is the identical fixed shape in both engines, with the
    * run-trained weights embedded as DOUBLE literals in the dynamic oracle
    * (SqlLit forces DuckDB's bit-exact strtod path), so score, threshold
    * decision and label all hash-match. */
  val linearProbe: Q = Q(
    "q133_linear_probe",
    (s, dir) => {
      val w = probeWeights(s, dir)
      val score = lit(w(0)) +
        lit(w(1)) * (col("n_chars").cast("double") / lit(1000.0d)) +
        lit(w(2)) * (size(split(col("text"), " ")).cast("double") / lit(100.0d))
      Tables.documents(s, dir).select(col("doc_id"), score.as("score"),
        when(score >= 0.5d, 1).otherwise(0).as("pred"),
        when(col("lang") === "en", 1).otherwise(0).as("label"))
    },
    None,
    Some(() => probe.forOracle.map { w =>
      val Seq(w0, w1, w2) = w.map(graft.SqlLit.double)
      s"""WITH sc AS (
          SELECT doc_id,
                 ($w0 + $w1 * (CAST(n_chars AS DOUBLE) / 1000.0)
                      + $w2 * (CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0))
                   AS score,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
          FROM documents)
        SELECT doc_id, score,
               CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS pred, label
        FROM sc"""
    }))

  // ---- q150: geometric median (Weiszfeld) ----------------------------------
  private val medianIters = 3

  private val median = graft.Fit[Seq[Double]]("embeddings.parquet")

  /** The shared cross-engine distance shape: ‖v−m‖ as
    * √max(v·v − 2(v·m) + m·m, 0) — three sequential dot folds (the ONLY
    * reduction both engines provably share, per q122) combined left-to-right
    * in a fixed scalar sequence. A direct Σ(v−m)² fold would hang on each
    * engine's list-reduction order. */
  private def distExpr(vv: String, vm: String, mm: String): String =
    s"sqrt(greatest($vv - (2 * $vm) + $mm, 0D))"

  /** q150: geometric median of the embedding corpus by Weiszfeld iteration —
    * the 50%-breakdown robust centroid (the mean shifts arbitrarily under a
    * single adversarial/corrupt shard; the geometric median does not), used
    * as the reference point for corpus-level embedding outlier gates.
    *
    * Weiszfeld is an IRLS fixpoint: y ← Σ(vᵢ/dᵢ) / Σ(1/dᵢ), dᵢ = ‖vᵢ−y‖.
    * Each iteration is ONE distributed aggregation pass (the q122/q133 loop
    * shape): the current iterate is a broadcast plan literal, per-row
    * contributions (vᵢⱼ/dᵢ and the appended 1/dᵢ denominator slot) are
    * rounded to DECIMAL(38,12) and summed exactly — order-independent under
    * any partitioning — and the driver closes the step with one fixed-shape
    * division per dimension. dᵢ = 0 rows (the iterate landing ON a point)
    * contribute nothing, the standard Weiszfeld guard, applied identically
    * in the driver recompute. Start is the DECIMAL-exact coordinate mean.
    *
    * Scale shape: 1 + T scans of a persisted narrow projection, each
    * collapsing map-side to ≤65 decimal partials per partition — wire
    * volume independent of N. */
  private[graft] def geometricMedian(s: SparkSession, dir: String): Seq[Double] =
    median(s, dir) { _ =>
      graft.functions.VectorFunctions.register(s)
      val e = Tables.embeddings(s, dir)
        .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("vv", expr("vec_dot(v, v)"))
        .persist()
      try {
        val n = e.count()
        val meanSums = e
          .select(posexplode(expr("transform(v, x -> cast(x as decimal(38,12)))"))
            .as(Seq("dim", "c")))
          .groupBy(col("dim")).agg(sum("c").as("sum"))
          .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue()).toMap
        var cur = Array.tabulate(dims)(j => meanSums.getOrElse(j, 0d) / n)
        for (_ <- 1 to medianIters) {
          var mm = 0d; var j = 0
          while (j < dims) { mm += cur(j) * cur(j); j += 1 }
          val sums = e.withColumn("m", typedLit(cur.toSeq))
            .withColumn("d", expr(distExpr("vv", "vec_dot(v, m)", mm.toString + "D")))
            .filter(col("d") =!= 0.0d)
            .select(posexplode(expr(
              "transform(v, x -> cast(x / d as decimal(38,12))) || " +
                "array(cast(1.0D / d as decimal(38,12)))")).as(Seq("dim", "c")))
            .groupBy(col("dim")).agg(sum("c").as("sum"))
            .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue()).toMap
          val den = sums(dims)
          cur = Array.tabulate(dims)(j => sums.getOrElse(j, 0d) / den)
        }
        cur.toSeq
      } finally e.unpersist()
    }

  /** q150: distance of every embedding to the corpus geometric median, with
    * a 2×-mean-distance outlier flag. Distances use the shared three-dot
    * fixed shape; the mean distance is a DECIMAL(38,12)-rounded exact sum
    * divided once, so the flag threshold is bit-identical cross-engine; the
    * dynamic oracle embeds the converged median the run itself produced. */
  val geomMedianDist: Q = Q(
    "q150_geometric_median",
    (s, dir) => {
      graft.functions.VectorFunctions.register(s)
      val m = geometricMedian(s, dir)
      var mm = 0d; var j = 0
      while (j < dims) { mm += m(j) * m(j); j += 1 }
      val withD = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("m", typedLit(m))
        .withColumn("dist", expr(distExpr("vec_dot(v, v)", "vec_dot(v, m)", mm.toString + "D")))
      // 6 dp here, not 12: the corpus-wide distance SUM is the one decimal
      // in this file whose significand can cross 2^53 (the conversion-safety
      // boundary documented in Pipelines.scala) — at 6 dp it stays exact-
      // convertible past 1e9 total distance
      val thr = withD
        .agg(sum(expr("cast(dist as decimal(38,6))")).as("sd"),
          count(lit(1)).as("n"))
        .select((col("sd").cast("double") / col("n").cast("double")).as("mean_d"))
      withD.crossJoin(broadcast(thr))
        .select(col("vec_id"), col("dist"),
          (col("dist") > lit(2.0d) * col("mean_d")).as("is_outlier"))
    },
    None,
    Some(() => median.forOracle.map { m =>
      val mLit = graft.SqlLit.doubles(m)
      var mm = 0d; var j = 0
      while (j < m.length) { mm += m(j) * m(j); j += 1 }
      val mmLit = graft.SqlLit.double(mm)
      s"""WITH d AS (
          SELECT vec_id,
            sqrt(greatest(
              list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))
              - (2 * list_dot_product(CAST(embedding AS DOUBLE[]), CAST($mLit AS DOUBLE[])))
              + $mmLit, 0)) AS dist
          FROM embeddings
        ), t AS (
          SELECT CAST(SUM(CAST(dist AS DECIMAL(38,6))) AS DOUBLE)
                   / CAST(COUNT(1) AS DOUBLE) AS mean_d
          FROM d
        )
        SELECT d.vec_id, d.dist, d.dist > 2 * t.mean_d AS is_outlier
        FROM d CROSS JOIN t"""
    }))

  // ---- q171: label centroid separability -----------------------------------
  /** q171: class-separability report over the labeled embeddings — the
    * pairwise distance matrix of per-label centroids, the first diagnostic
    * before trusting labels for supervised filtering ("are the classes
    * even separated in embedding space?"). Everything runs in LONG FORM
    * ((label, dim) rows), which is what makes it distributable AND exact:
    * per-(label, dim) means are DECIMAL(38,12)-rounded exact sums divided
    * once; pairwise distances join the |labels|×64 means table to itself
    * on dim, square the mean differences per dim (fixed-shape doubles),
    * and re-round into an exact 64-term decimal sum — no vector is ever
    * assembled, no driver collect happens, and the result is bit-stable
    * under any partitioning.
    *
    * Distributed shape: one map-side-combined (label, dim) aggregation
    * over the scan; the matrix math runs on |labels|×64 rows. */
  val labelSeparability: Q = Q(
    "q171_label_separability",
    (s, dir) => {
      val long = Tables.embeddings(s, dir)
        .select(col("label"),
          posexplode(expr("transform(embedding, x -> cast(x as double))"))
            .as(Seq("d", "x")))
      val means = long.groupBy("label", "d")
        .agg((sum(expr("cast(x as decimal(38,12))")).cast("double")
          / count(lit(1)).cast("double")).as("m"),
          count(lit(1)).as("n"))
      means.as("a").join(means.as("b"),
          col("a.d") === col("b.d") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(min(col("a.n")).as("n_a"), min(col("b.n")).as("n_b"),
          sum(expr("cast((a.m - b.m) * (a.m - b.m) as decimal(38,12))")).as("d2"))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          col("d2").cast("double").as("dist2"),
          sqrt(col("d2").cast("double")).as("dist"))
    },
    Some("""WITH e AS (
        SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      ), dims AS (
        SELECT unnest(range(1, 65)) AS d
      ), long AS (
        SELECT label, d, v[d] AS x FROM e CROSS JOIN dims
      ), means AS (
        SELECT label, d,
               CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(1) AS DOUBLE) AS m,
               COUNT(1) AS n
        FROM long GROUP BY label, d
      ), pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
               MIN(a.n) AS n_a, MIN(b.n) AS n_b,
               SUM(CAST((a.m - b.m) * (a.m - b.m) AS DECIMAL(38,12))) AS d2
        FROM means a JOIN means b ON a.d = b.d AND a.label < b.label
        GROUP BY a.label, b.label
      )
      SELECT label_a, label_b, CAST(n_a AS BIGINT) AS n_a,
             CAST(n_b AS BIGINT) AS n_b,
             CAST(d2 AS DOUBLE) AS dist2, sqrt(CAST(d2 AS DOUBLE)) AS dist
      FROM pairs"""))

  // ---- q177: within-label scatter ------------------------------------------
  /** q177: the within-class half of the Fisher picture (q171 is the
    * between-class half) — per label, the exact mean SQUARED distance of
    * members to their centroid, from the classical identity
    * E‖x−μ‖² = E‖x‖² − ‖μ‖², which needs only per-(label, dim) moment
    * sums: no member-to-centroid join, no second pass over the data.
    * Per-dim variance terms (Σx²/n − m²) are fixed-shape doubles from
    * exact decimal sums, re-rounded into an exact 64-term decimal total —
    * order-independent like q171. The within/between comparison (join
    * q171's matrix on the label) is what decides whether labels are
    * usable for supervised filtering.
    *
    * Distributed shape: one map-side-combined (label, dim) moment pass;
    * everything after runs on |labels|×64 rows. */
  val withinScatter: Q = Q(
    "q177_within_scatter",
    (s, dir) => {
      val long = Tables.embeddings(s, dir)
        .select(col("label"),
          posexplode(expr("transform(embedding, x -> cast(x as double))"))
            .as(Seq("d", "x")))
      val mom = long.groupBy("label", "d")
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(x as decimal(38,12))")).as("sx"),
          sum(expr("cast(x * x as decimal(38,12))")).as("sxx"))
        .withColumn("m", col("sx").cast("double") / col("n").cast("double"))
        .withColumn("var_d",
          col("sxx").cast("double") / col("n").cast("double") - col("m") * col("m"))
      mom.groupBy("label")
        .agg(min("n").as("n_members"),
          sum(expr("cast(var_d as decimal(38,12))")).cast("double").as("within_msd"))
        .withColumn("within_rms", sqrt(col("within_msd")))
    },
    Some("""WITH e AS (
        SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      ), dims AS (
        SELECT unnest(range(1, 65)) AS d
      ), long AS (
        SELECT label, d, v[d] AS x FROM e CROSS JOIN dims
      ), mom AS (
        SELECT label, d, COUNT(1) AS n,
               SUM(CAST(x AS DECIMAL(38,12))) AS sx,
               SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
        FROM long GROUP BY label, d
      ), vard AS (
        SELECT label, n,
               CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS var_d
        FROM mom
      )
      SELECT label, CAST(MIN(n) AS BIGINT) AS n_members,
             CAST(SUM(CAST(var_d AS DECIMAL(38,12))) AS DOUBLE) AS within_msd,
             sqrt(CAST(SUM(CAST(var_d AS DECIMAL(38,12))) AS DOUBLE)) AS within_rms
      FROM vard GROUP BY label"""))

  // ---- q180: probe calibration curve ---------------------------------------
  /** q180: reliability diagram for the q133-trained probe — scores cut into
    * deciles over the tie-free (score, doc_id) total order, each bucket
    * reporting its exact positive rate and DECIMAL(38,12)-summed mean
    * score. The standard post-training eval: a well-calibrated probe's
    * positive rate tracks its mean score bucket by bucket; systematic gaps
    * mean the 0.5 decision threshold (q133's `pred`) is miscalibrated for
    * some regions. Reuses the trained weights and their dynamic-literal
    * oracle contract.
    *
    * Distributed shape (r14): the naive `NTILE(10) OVER (ORDER BY score,
    * doc_id)` serialized the corpus through ONE task (the PlanGates sort
    * shape); replaced by q100's two-phase bucket rank — ⌊score·64⌋ is a
    * monotone quantizer of the leading sort key (equal scores share a
    * bucket, so bucket ranges are order-aligned), per-bucket counts give
    * exclusive prefix offsets, global rank = offset + within-bucket
    * row_number — plus NTILE's closed form from (rank, N): with q = N DIV
    * 10, r = N % 10, the first r deciles hold q+1 rows, so bucket =
    * ⌈rank/(q+1)⌉ while rank ≤ r(q+1), else r + ⌈(rank − r(q+1))/q⌉.
    * Bit-identical to the window NTILE at any N, 64-way parallel. */
  val probeCalibration: Q = Q(
    "q180_probe_calibration",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = probeWeights(s, dir)
      val score = lit(w(0)) +
        lit(w(1)) * (col("n_chars").cast("double") / lit(1000.0d)) +
        lit(w(2)) * (size(split(col("text"), " ")).cast("double") / lit(100.0d))
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), score.as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("label"))
        .withColumn("kb", floor(col("score") * 64).cast("long"))
      val offs = scored.groupBy("kb").agg(count(lit(1)).as("bn"))
        .withColumn("off", coalesce(
          sum("bn").over(Window.orderBy("kb")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("kb", "off")
      val tot = scored.agg(count(lit(1)).as("n_total"))
      scored.join(broadcast(offs), Seq("kb")).crossJoin(broadcast(tot))
        .withColumn("rk", col("off") + row_number().over(
          Window.partitionBy("kb").orderBy(col("score"), col("doc_id"))))
        .withColumn("qq", expr("n_total DIV 10"))
        .withColumn("r", expr("n_total % 10"))
        .withColumn("bucket",
          when(col("rk") <= col("r") * (col("qq") + 1),
            expr("(rk + qq) DIV (qq + 1)"))
          .otherwise(expr("r + (rk - r * (qq + 1) + qq - 1) DIV qq"))
          .cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          // 6 dp: corpus-wide score sums cross the 2^53 conversion boundary
          // at stress scale at 12 dp (Pipelines.scala float contract)
          sum(expr("cast(score as decimal(38,6))")).cast("double").as("sum_score"),
          sum("label").as("n_pos"))
        .withColumn("mean_score", col("sum_score") / col("n").cast("double"))
        .withColumn("pos_rate", col("n_pos").cast("double") / col("n").cast("double"))
        .select("bucket", "n", "n_pos", "mean_score", "pos_rate")
    },
    None,
    Some(() => probe.forOracle.map { w =>
      val Seq(w0, w1, w2) = w.map(graft.SqlLit.double)
      s"""WITH sc AS (
          SELECT doc_id,
                 ($w0 + $w1 * (CAST(n_chars AS DOUBLE) / 1000.0)
                      + $w2 * (CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0))
                   AS score,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
          FROM documents
        ), b AS (
          SELECT doc_id, score, label,
                 CAST(NTILE(10) OVER (ORDER BY score, doc_id) AS BIGINT) AS bucket
          FROM sc
        )
        SELECT bucket, count(1) AS n, CAST(SUM(label) AS BIGINT) AS n_pos,
               CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(count(1) AS DOUBLE) AS mean_score,
               CAST(SUM(label) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS pos_rate
        FROM b GROUP BY bucket"""
    }))

  // ---- q189: exact probe AUC (Mann–Whitney, tie-corrected) -----------------
  /** q189: the exact ROC-AUC of the q133-trained probe — the
    * threshold-free companion to q180's reliability diagram, completing the
    * train (q133) → calibrate (q180) → rank-quality (this) eval chain. AUC
    * is the Mann–Whitney statistic: with average ranks for ties,
    * AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋). The whole computation stays in
    * exact integers by doubling: per distinct score value the average rank
    * ×2 is 2·prev + c + 1, so U2 = Σ p·(2·prev+c+1) is an exact BIGINT and
    * AUC = (U2 − n₊(n₊+1)) / (2·n₊·n₋) is one double division — duplicate
    * scores handled exactly, no per-document rank.
    *
    * Distributed shape: one scoring scan collapsed to per-VALUE counts
    * (the q186 histogram idea), then a prefix sum over distinct score
    * values. At tested scales that window is a few thousand rows; at
    * 100 TB the prefix sum goes bucket-parallel exactly like q100/q113 —
    * never a per-document global sort. */
  val probeAuc: Q = Q(
    "q189_probe_auc",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = probeWeights(s, dir)
      val score = lit(w(0)) +
        lit(w(1)) * (col("n_chars").cast("double") / lit(1000.0d)) +
        lit(w(2)) * (size(split(col("text"), " ")).cast("double") / lit(100.0d))
      val vals = Tables.documents(s, dir)
        .select(score.as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("label"))
        .groupBy("score")
        .agg(count(lit(1)).as("c"), sum("label").as("p"))
      val cw = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vals
        .withColumn("cum", sum("c").over(cw))
        .select((((lit(2L) * (col("cum") - col("c")) + col("c") + 1) * col("p")))
          .as("u2c"), col("c"), col("p"))
        .agg(sum("u2c").as("u2"), sum("p").as("np"), sum("c").as("n"))
        .select(col("np").as("n_pos"), (col("n") - col("np")).as("n_neg"),
          col("u2").as("rank_sum_x2"),
          ((col("u2") - col("np") * (col("np") + 1)).cast("double")
            / (lit(2L) * col("np") * (col("n") - col("np"))).cast("double"))
            .as("auc"))
    },
    None,
    Some(() => probe.forOracle.map { w =>
      val Seq(w0, w1, w2) = w.map(graft.SqlLit.double)
      s"""WITH sc AS (
          SELECT ($w0 + $w1 * (CAST(n_chars AS DOUBLE) / 1000.0)
                      + $w2 * (CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0))
                   AS score,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
          FROM documents
        ), v AS (
          SELECT score, count(1) AS c, CAST(SUM(label) AS BIGINT) AS p
          FROM sc GROUP BY score
        ), cu AS (
          SELECT score, c, p,
                 CAST(SUM(c) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum
          FROM v
        ), a AS (
          SELECT CAST(SUM((2 * (cum - c) + c + 1) * p) AS BIGINT) AS u2,
                 CAST(SUM(p) AS BIGINT) AS np, CAST(SUM(c) AS BIGINT) AS n
          FROM cu
        )
        SELECT np AS n_pos, n - np AS n_neg, u2 AS rank_sum_x2,
               CAST(u2 - np * (np + 1) AS DOUBLE)
                 / CAST(2 * np * (n - np) AS DOUBLE) AS auc
        FROM a"""
    }))

  // ---- q191: centroid silhouette -------------------------------------------
  /** q191: the (simplified, centroid-form) silhouette score per label —
    * for each point, a = distance to its OWN label centroid, b = distance
    * to the NEAREST other centroid, s = (b−a)/max(a,b); per label the mean
    * s and the count of negative-s points (members that sit closer to a
    * foreign centroid — the misfiled candidates a label-cleaning pass
    * reviews first). Completes the clustering-quality family: q171 =
    * between-centroid distances, q177 = within-label scatter, this = the
    * per-member ratio of the two. The classical silhouette's mean PAIRWISE
    * distances are O(n²); the centroid form is the scale-native variant
    * and is stated as such.
    *
    * Exactness: everything runs in long form. Per-(label,dim) centroid
    * means, per-point ‖x‖², per-(point,label) dots and per-label ‖μ‖² are
    * DECIMAL(38,12)-rounded exact sums (the q171 rule — cross-dim folds
    * are the one order-sensitive reduction, so they get the decimal
    * treatment); each distance is then the fixed scalar shape
    * √max(x²−2·dot+μ², 0) (the q150 contract), a/b/s are per-row doubles,
    * and the per-label mean re-rounds s at 6 dp before the division.
    *
    * Distributed shape: one (label,dim) centroid pass, one
    * points×|labels| long-form join (rows = n·|labels|·dim, shuffled on
    * the dim key then the point key — never a point×point pair space), a
    * per-point 2-value collapse, a per-label aggregate. */
  val centroidSilhouette: Q = Q(
    "q191_centroid_silhouette",
    (s, dir) => {
      val long = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(expr("transform(embedding, x -> cast(x as double))"))
            .as(Seq("d", "x")))
      val means = long.groupBy(col("label").as("tl"), col("d"))
        .agg((sum(expr("cast(x as decimal(38,12))")).cast("double")
          / count(lit(1)).cast("double")).as("m"))
      val mu2 = means.groupBy("tl")
        .agg(sum(expr("cast(m * m as decimal(38,12))")).cast("double").as("mu2"))
      val x2 = long.groupBy("vec_id")
        .agg(sum(expr("cast(x * x as decimal(38,12))")).cast("double").as("x2"))
      val dots = long.join(means, "d")
        .groupBy("vec_id", "label", "tl")
        .agg(sum(expr("cast(x * m as decimal(38,12))")).cast("double").as("dot"))
      val dists = dots.join(mu2, "tl").join(x2, "vec_id")
        .withColumn("dist",
          sqrt(greatest(col("x2") - lit(2.0) * col("dot") + col("mu2"), lit(0.0))))
      val ab = dists.groupBy("vec_id", "label")
        .agg(min(when(col("tl") === col("label"), col("dist"))).as("a"),
          min(when(col("tl") =!= col("label"), col("dist"))).as("b"))
        .withColumn("sil", when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      ab.groupBy("label")
        .agg(count(lit(1)).as("n_members"),
          (sum(expr("cast(sil as decimal(38,6))")).cast("double")
            / count(lit(1)).cast("double")).as("mean_silhouette"),
          sum(when(col("sil") < 0.0, 1L).otherwise(0L)).as("n_misfiled"))
    },
    Some("""WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      ), dims AS (
        SELECT unnest(range(1, 65)) AS d
      ), long AS (
        SELECT vec_id, label, d, v[d] AS x FROM e CROSS JOIN dims
      ), means AS (
        SELECT label AS tl, d,
               CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(1) AS DOUBLE) AS m
        FROM long GROUP BY label, d
      ), mu2 AS (
        SELECT tl, CAST(SUM(CAST(m * m AS DECIMAL(38,12))) AS DOUBLE) AS mu2
        FROM means GROUP BY tl
      ), x2 AS (
        SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS x2
        FROM long GROUP BY vec_id
      ), dots AS (
        SELECT l.vec_id, l.label, mn.tl,
               CAST(SUM(CAST(l.x * mn.m AS DECIMAL(38,12))) AS DOUBLE) AS dot
        FROM long l JOIN means mn ON l.d = mn.d
        GROUP BY l.vec_id, l.label, mn.tl
      ), dists AS (
        SELECT dt.vec_id, dt.label, dt.tl,
               sqrt(GREATEST(x2.x2 - 2.0 * dt.dot + mu2.mu2, 0.0)) AS dist
        FROM dots dt JOIN mu2 ON dt.tl = mu2.tl JOIN x2 ON dt.vec_id = x2.vec_id
      ), ab AS (
        SELECT vec_id, label,
               MIN(CASE WHEN tl = label THEN dist END) AS a,
               MIN(CASE WHEN tl <> label THEN dist END) AS b
        FROM dists GROUP BY vec_id, label
      ), sil AS (
        SELECT vec_id, label,
               CASE WHEN GREATEST(a, b) = 0.0 THEN 0.0
                    ELSE (b - a) / GREATEST(a, b) END AS sil
        FROM ab
      )
      SELECT label, count(1) AS n_members,
             CAST(SUM(CAST(sil AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(count(1) AS DOUBLE) AS mean_silhouette,
             CAST(SUM(CASE WHEN sil < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_misfiled
      FROM sil GROUP BY label"""))

  val all: Seq[Q] = Seq(pcaProjection, linearProbe, geomMedianDist,
    labelSeparability, withinScatter, probeCalibration, probeAuc,
    centroidSilhouette)
}
