package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Deduplication operators for training-data pipelines, each designed for the
  * 100 TB shape of the problem:
  *
  *  - exact: shuffle on a 128-bit content hash, never on raw text (bytes moved
  *    per row = 16 + ids, not document size);
  *  - n-gram Jaccard: inverted-index self-join on *rare* shingles (document
  *    frequency capped) — the standard way to avoid both the O(n²) cross join
  *    and hot-key explosion on stop-shingles;
  *  - MinHash+LSH: fixed-width signature (16 minhashes) + banded bucket join,
  *    candidates verified by signature agreement;
  *  - SimHash: 64-bit signature via per-bit weighted majority, near-dup probe
  *    via 16-bit band collision counts.
  *
  * Reference has no dedup surface (capability extension; BASELINE.json north
  * star). All four are fully oracled: exact + n-gram Jaccard directly, and
  * the signature ops via engine-portable md5 hash families (hex strings that
  * Spark and DuckDB produce and compare identically).
  */
object Dedup {

  /** Exact dedup by content hash: one representative (min doc_id) per distinct
    * text + duplicate count. */
  val exact: Q = Q(
    "q13_dedup_exact",
    (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(
          min(col("doc_id")).as("canonical_doc_id"),
          count(lit(1)).as("dup_count"))
    },
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
      count(1) AS dup_count FROM documents GROUP BY md5(text)"""))

  /** Distinct word 3-grams per doc, exploded to (doc_id, ngram). */
  private def ngramsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))")))
        .as("ngram"))

  private def ngramRows(s: SparkSession, dir: String): DataFrame =
    allShingleRows(s, dir).select("doc_id", "ngram")

  /** The corpus-wide all-shingle posting table (doc_id, source, ngram),
    * distinct per doc — ONE PlanCache-materialized copy per (session, dir)
    * shared by every consumer that needs unpruned shingles: q14's
    * rare-shingle index build (df counts + join input), q144's exact-truth
    * inverted index, and q148's source-grain projection. Before r10 each of
    * those re-ran the split/explode subtree from raw text per invocation;
    * now the explode runs once and everything downstream is a projection of
    * the persisted frame. At 100 TB this IS the production shape: the
    * shingle posting table is a maintained materialization beside the
    * corpus, not a per-query recompute. */
  private[graft] def allShingleRows(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(s, "dedup_allsh", dir, s"$dir/documents.parquet") {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"), col("source"), explode(array_distinct(expr(
          "transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))")))
          .as("ngram"))
    }

  // shingles seen in more docs than this are stop-shingles (graft-visible:
  // q268's streaming registry sizes its per-shingle min-set at maxDf + 1)
  private[graft] val maxDf = 50

  /** Per-document BLOCKING BUDGET (VERDICT r15 directive #1, the q117/q238
    * cap idiom applied to the shared rare-shingle index): each doc keeps at
    * most this many rare shingles — its RAREST ones (df asc, shingle asc; a
    * deterministic total order because shingles are distinct per doc). A
    * doc's candidate degree is then ≤ cap·(maxDf−1) — corpus-size-INDEPENDENT
    * — so the exact-verify mass of every consumer (q14/q87/q256/q259/q262)
    * is bounded per doc even on a pathological corpus (e.g. one giant doc
    * sharing a rare shingle with everything). The cap sits far above every
    * measured corpus maximum (98 rare shingles/doc at sf0.1 AND at the
    * 30×/100× composed-permutation deep corpora; per-doc counts track doc
    * LENGTH, not corpus size), so every published hash is unchanged at every
    * tested sf — [[rareShingleDocAudit]] reports uncapped per-doc counts and
    * R15OpsSpec pins zero capped docs. */
  private[graft] val RareShingleDocCap = 128

  /** Cap audit: one row per doc with its UNCAPPED rare-shingle count and
    * whether [[rareShingleRows]] at this cap would trim it. Zero capped rows
    * at every tested sf (spec-pinned); a capped row in production is a doc
    * whose blocking fan-out the miner deliberately bounds. */
  private[graft] def rareShingleDocAudit(s: SparkSession, dir: String,
      cap: Int = RareShingleDocCap): DataFrame =
    docAuditOf(ngramRows(s, dir), cap)

  /** [[rareShingleDocAudit]] over an in-memory docs frame — test seam. */
  private[graft] def rareShingleDocAuditOf(docs: DataFrame,
      cap: Int = RareShingleDocCap): DataFrame =
    docAuditOf(ngramsOf(docs), cap)

  private def docAuditOf(ng: DataFrame, cap: Int): DataFrame = {
    val rare = ng.groupBy("ngram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("ngram")
    ng.join(rare, "ngram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
      .withColumn("capped", col("n_rare") > cap)
  }

  /** The budgeted rare-shingle index over an explicit (doc_id, ngram) posting
    * frame — the core of [[rareShingleRows]], exposed for the R15OpsSpec
    * pathological-corpus test and for q268's streamed-registry tail (whose
    * postings, exploded from the registry's exact ≤(maxDf+1)-min doc lists,
    * re-derive the identical df values, so this single code path guarantees
    * batch ≡ streamed blocking). */
  private[graft] def cappedRareOf(ng: DataFrame, cap: Int = RareShingleDocCap)
      : DataFrame = {
    val rare = ng.groupBy("ngram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    ng.join(rare, "ngram")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("ngram"))))
      .filter(col("rk") <= cap)
      .select("ngram", "doc_id")
  }

  /** [[rareShingleRows]] over an in-memory docs frame at an explicit cap —
    * test seam for the budget semantics. */
  private[graft] def rareShingleRowsOf(docs: DataFrame,
      cap: Int = RareShingleDocCap): DataFrame =
    cappedRareOf(ngramsOf(docs), cap)

  /** (doc_id, ngram) restricted to RARE shingles — the shared blocking index
    * for q14 (Jaccard verify) and q87 (edit-distance verify). df >= 2:
    * singleton shingles can't produce pairs; df <= maxDf kills hot keys; per
    * doc, at most [[RareShingleDocCap]] rarest shingles (see above).
    * This frame feeds several consumers per query and two queries per run —
    * materialize once instead of re-running the explode+join subtree per
    * consumer. PlanCache bounds this to one persisted copy per (session, dir)
    * with a data-fingerprint staleness key, so repeated driver invocations
    * reuse it instead of accumulating cache entries. */
  private def rareShingleRows(s: SparkSession, dir: String): DataFrame = {
    val ng = ngramRows(s, dir)
    graft.PlanCache.cached(s, "q14_ngr", dir, s"$dir/documents.parquet") {
      // the budget rank is a doc-partitioned window over ≤ |doc| rows — never
      // a global sort; it runs once per (session, dir) inside the PlanCache
      // build and its output is row-identical to the uncapped index at every
      // tested corpus (cap 128 > measured max 98)
      cappedRareOf(ng, RareShingleDocCap)
    }
  }

  /** Exact n-gram Jaccard over rare shingles via inverted-index self-join:
    * pairs sharing ≥1 rare 3-gram, jaccard = |∩| / |∪| of rare-shingle sets. */
  val ngramJaccard: Q = Q(
    "q14_dedup_ngram_jaccard",
    // the PAIR TABLE is PlanCache-materialized: it is tiny (hundreds of
    // rows — pairs over the dedup threshold) but its build is the rare-
    // shingle self-join, and FOUR consumers replay it per suite run (q14
    // itself, q163's report, q218's threshold sweep, q219's hub ranking,
    // plus q40's cluster artifact build) — one persisted copy per
    // (session, dir) collapses those to reads
    (s, dir) => graft.PlanCache.cached(s, "q14_pairs", dir,
        s"$dir/documents.parquet") {
      val ngr = rareShingleRows(s, dir)
      val sizes = ngr.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // each index row carries its doc's rare-set size, which buys two
      // things: the SIZE-RATIO prefilter at the self-join — J(A,B) ≤
      // min/max, so jaccard ≥ 0.5 is impossible when one rare set is more
      // than twice the other, and those collision rows are dropped BEFORE
      // the pair aggregation (the q87 length-prefilter argument; provably
      // result-preserving, oracle kept unfiltered) — and na/nb riding the
      // aggregation as constants-per-key, replacing the two post-agg joins.
      // NO broadcast hint: `sizes` is doc-count-proportional (billions of
      // rows at 100 TB — a driver OOM as a forced broadcast). The join is
      // co-keyed on doc_id with the aggregate that produced `sizes`, so it
      // reuses the groupBy's hash partitioning; AQE still picks a broadcast
      // at small sf where the frame fits under the threshold.
      val ngrN = ngr.join(sizes, "doc_id")
      val pairs = ngrN.as("a").join(ngrN.as("b"),
          col("a.ngram") === col("b.ngram") && col("a.doc_id") < col("b.doc_id")
            && col("a.n") <= lit(2) * col("b.n")
            && col("b.n") <= lit(2) * col("a.n"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("common"),
          min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
      pairs
        .withColumn("jaccard", col("common") / (col("na") + col("nb") - col("common")))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("common"), col("jaccard"))
    },
    Some(s"""WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), ng AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words)-1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS ngram
        FROM docs
      ), rare AS (
        SELECT ngram FROM ng GROUP BY ngram HAVING count(1) >= 2 AND count(1) <= $maxDf
      ), ngr AS (
        SELECT ng.doc_id, ng.ngram FROM ng JOIN rare ON ng.ngram = rare.ngram
      ), sizes AS (
        SELECT doc_id, count(1) AS n FROM ngr GROUP BY doc_id
      ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS common
        FROM ngr a JOIN ngr b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      )
      SELECT p.doc_a, p.doc_b, p.common,
             p.common / (sa.n + sb.n - p.common) AS jaccard
      FROM pairs p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE p.common / (sa.n + sb.n - p.common) >= 0.5"""))

  private val numHashes = 16
  private val bands = 4 // 4 minhashes per band
  private val perBand = numHashes / bands

  /** MinHash signature per doc over an arbitrary (doc_id, text) frame —
    * shared by q15 (whole-corpus pairs) and q102 (incremental batch), so
    * the two can't diverge on the hash family. */
  private[graft] def sigsOf(docs: DataFrame): DataFrame = {
    val mh = (0 until numHashes).map(i =>
      min(md5(concat_ws("|", lit(i.toString), col("ngram")))).as(s"mh$i"))
    ngramsOf(docs).groupBy("doc_id").agg(mh.head, mh.tail: _*)
  }

  /** The per-(session, dir) cached corpus signature table. */
  private def corpusSigs(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(s, "q15_sigs", dir, s"$dir/documents.parquet") {
      sigsOf(Tables.documents(s, dir))
    }

  /** Signature-agreement count between sigs aliased `sa` and `sb`. */
  private def sigAgreement: Column = (0 until numHashes)
    .map(i => when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0))
    .reduce(_ + _).cast("long")

  // The DuckDB spellings of the signature family, shared by every oracle
  // that walks it (q15 pairs, q102 incremental, q103 fuzzy decontam) so a
  // hash-family change cannot update one oracle and miss another.
  private lazy val mhColsSql = (0 until numHashes)
    .map(i => s"min(md5('$i' || '|' || ngram)) AS mh$i").mkString(",\n          ")
  private lazy val bandSelectsSql = (0 until bands).map { b =>
    val cat = (b * perBand until (b + 1) * perBand).map(i => s"mh$i")
      .mkString(" || '|' || ")
    s"SELECT doc_id, $b AS band_idx, md5($cat) AS band_hash FROM sigs"
  }.mkString("\n        UNION ALL\n        ")
  private lazy val agreeSql = (0 until numHashes)
    .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
    .mkString(" + ")
  /** The sigs/bands CTE bodies over `documents` (ngram → sigs → bands) —
    * `private[graft]` so the streaming collision registry (q236) oracles
    * against the identical signature family. */
  private[graft] lazy val sigCtesSql =
    s"""docsw AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), ngr AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words)-1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS ngram
        FROM docsw
      ), sigs AS (
        SELECT doc_id,
          $mhColsSql
        FROM ngr GROUP BY doc_id
      ), bands AS (
        $bandSelectsSql
      )"""

  /** (doc_id, band_idx, band_hash) — one row per signature band. */
  private def bandRowsOf(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        md5(concat_ws("|", (b * perBand until (b + 1) * perBand)
          .map(i => col(s"mh$i")): _*)).as("band_hash"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band_idx").as("band_idx"),
        col("bk.band_hash").as("band_hash"))
  }

  /** MinHash signatures over 3-gram shingles + banded LSH candidate pairs,
    * scored by signature agreement (estimated Jaccard ≥ 0.5).
    *
    * Hash family: permutation i = lexicographic MIN of md5("i|" + shingle) —
    * a uniform 128-bit permutation whose hex encoding both Spark and DuckDB
    * produce identically, so the whole pipeline (signatures, band hashes,
    * candidate pairs, agreement scores) is fully oracled. */
  val minhashLsh: Q = Q(
    "q15_dedup_minhash_lsh",
    (s, dir) => {
      // one bounded persisted copy per (session, dir) — see q14's ngr
      val sigs = corpusSigs(s, dir)
      val bandRows = bandRowsOf(sigs)
      val cand = bandRows.as("a").join(bandRows.as("b"),
          col("a.band_idx") === col("b.band_idx") && col("a.band_hash") === col("b.band_hash")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          (sigAgreement / lit(numHashes.toDouble)).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
    },
    Some {
      s"""WITH $sigCtesSql, cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
      )
      SELECT c.doc_a, c.doc_b,
             CAST($agreeSql AS DOUBLE) / CAST($numHashes AS DOUBLE) AS est_jaccard
      FROM cand c
      JOIN sigs sa ON c.doc_a = sa.doc_id
      JOIN sigs sb ON c.doc_b = sb.doc_id
      WHERE CAST($agreeSql AS DOUBLE) / CAST($numHashes AS DOUBLE) >= 0.5"""
    })

  /** The DuckDB spelling of the SimHash signature family (words → per-token
    * md5 digit vectors → per-bit weighted sums → signature + 4×16-bit band
    * keys), through the `sig` CTE — shared by the q16 oracle and q257's
    * bit-balance audit so a hash-family change cannot update one and miss
    * the other (the sigCtesSql discipline). */
  private[graft] lazy val simhashCtesSql: String = {
    val sumCols = (0 until 64).map { b =>
      s"SUM(cnt * (2 * ((dv[${b / 4 + 1}] >> ${b % 4}) & 1) - 1)) AS s$b"
    }.mkString(",\n          ")
    // bit 63 is the sign bit: add Long.MinValue instead of 1<<63
    val simSql = "(CASE WHEN s63 > 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END) + " +
      (0 until 63).map(b => s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
    val keyCols = (0 until 4).map { i =>
      (16 * i until 16 * (i + 1)).map(b =>
        s"(CASE WHEN s$b > 0 THEN CAST(${1L << (b - 16 * i)} AS BIGINT) ELSE 0 END)")
        .mkString(" + ") + s" AS k$i"
    }.mkString(",\n          ")
    s"""words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ), tok AS (
        SELECT doc_id, w, COUNT(1) AS cnt, md5(w) AS h FROM words GROUP BY doc_id, w
      ), dig AS (
        SELECT doc_id, cnt,
          list_transform(range(1, 17), i -> strpos('0123456789abcdef', substr(h, i, 1)) - 1) AS dv
        FROM tok
      ), sums AS (
        SELECT doc_id,
          $sumCols
        FROM dig GROUP BY doc_id
      ), sig AS (
        SELECT doc_id,
          $simSql AS simhash,
          $keyCols
        FROM sums
      )"""
  }

  /** 64-bit SimHash per document (weighted per-bit majority over token hashes)
    * + near-dup collision counts via 4×16-bit LSH bands. One row per doc.
    *
    * Hash family: signature bit b is bit (b%4) of hex digit b/4 of
    * md5(token) — both engines produce the identical hex string, so the
    * signatures, band keys, Hamming-verified collisions and counts are fully
    * oracled. Band keys are rebuilt from the per-bit sums (nonnegative
    * 16-bit values) rather than by shifting the signed 64-bit signature. */
  /** The per-(session, dir) cached SimHash signature table
    * (doc_id, simhash, k0..k3) — shared by q16 and q257's bit audit. */
  private def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5(col("w")))
      // dv: the 16 leading hex-digit values of md5(w) = 64 signature bits
      .withColumn("dv", expr(
        "transform(sequence(1, 16), i -> locate(substring(h, i, 1), '0123456789abcdef') - 1)"))
    val bitSums = (0 until 64).map { b =>
      sum(expr(s"cnt * (2 * ((dv[${b / 4}] >> ${b % 4}) & 1) - 1)")).as(s"s$b")
    }
    val sums = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sim: Column = (0 until 64)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    val bandKeyCols = (0 until 4).map { i =>
      (16 * i until 16 * (i + 1)).map(b =>
        when(col(s"s$b") > 0, lit(1L << (b - 16 * i))).otherwise(lit(0L)))
        .reduce(_ + _).as(s"k$i") // disjoint bits: + ≡ OR, stays in [0, 65535]
    }
    // one bounded persisted copy per (session, dir) — see q14's ngr
    graft.PlanCache.cached(s, "q16_sigs", dir, s"$dir/documents.parquet") {
      sums.select(col("doc_id") +: sim.as("simhash") +: bandKeyCols: _*)
    }
  }

  val simhash: Q = Q(
    "q16_dedup_simhash",
    (s, dir) => {
      val sigs = simhashSigs(s, dir)
      val bandRows = sigs.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("band_idx"), col(s"k$i").as("band_key"))): _*)).as("bk"))
        .select(col("doc_id"), col("simhash"),
          col("bk.band_idx").as("band_idx"), col("bk.band_key").as("band_key"))
      val collisions = bandRows.as("a").join(bandRows.as("b"),
          col("a.band_idx") === col("b.band_idx") && col("a.band_key") === col("b.band_key")
            && col("a.doc_id") =!= col("b.doc_id"))
        .filter(expr("bit_count(a.simhash ^ b.simhash) <= 6"))
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("other"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("near_dup_count"))
      sigs.join(collisions, Seq("doc_id"), "left")
        .select(col("doc_id"), col("simhash"),
          coalesce(col("near_dup_count"), lit(0L)).as("near_dup_count"))
    },
    Some {
      val bandSelects = (0 until 4)
        .map(i => s"SELECT doc_id, simhash, $i AS band_idx, k$i AS band_key FROM sig")
        .mkString("\n        UNION ALL\n        ")
      s"""WITH $simhashCtesSql, bands AS (
        $bandSelects
      ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS other
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id <> b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
      ), coll AS (
        SELECT doc_id, COUNT(1) AS near_dup_count FROM pairs GROUP BY doc_id
      )
      SELECT s.doc_id, s.simhash, COALESCE(c.near_dup_count, 0) AS near_dup_count
      FROM sig s LEFT JOIN coll c ON s.doc_id = c.doc_id"""
    })

  /** Count filter for the q87 verify stage (the PPJoin-family trick): a pair
    * must share at least this many rare shingles before the O(len²) verify
    * runs. Pairs sharing 1-2 rare shingles are overwhelmingly coincidental —
    * at sf0.1 the filter cuts the candidate set from 1.13M pairs to 10.3k
    * (110×) while every true near-dup shares ≥ 8 (margin 2.7×). */
  private val minCommon = 3

  /** Edit-distance (Levenshtein) near-dup: candidate pairs from the SAME
    * rare-shingle blocking index q14 uses (one persisted copy serves both),
    * count-filtered (`common >= `[[minCommon]]), length-prefiltered (the DP
    * only runs where `10·|ca−cb| ≤ max` — edit distance is bounded below by
    * the length gap, so the filter cannot change the result), then verified
    * by exact Levenshtein over the two full texts. Blocking + count filtering is what
    * makes this a 100-TB operator: the O(len²) DP verify runs only on pairs
    * that share several rare shingles — never all pairs, never
    * single-coincidence pairs — and the shuffle carries (doc_a, doc_b) id
    * pairs, with text joined back per surviving candidate.
    *
    * The accept predicate `10·ed ≤ max(n_chars)` (relative distance ≤ 0.1) is
    * pure integer arithmetic so both engines decide it identically; the
    * reported rel_dist is a single double division of two exact integers
    * (bit-exact per the FP contract atop Pipelines.scala). On the synthetic
    * corpus true near-dups sit at rel ≤ 0.07 and the nearest non-dup at 0.53,
    * so the 0.1 threshold is far from both margins. */
  val editDistance: Q = Q(
    "q87_dedup_edit_distance",
    (s, dir) => {
      val ngr = rareShingleRows(s, dir)
      val cand = ngr.as("a").join(ngr.as("b"),
          col("a.ngram") === col("b.ngram") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("common"))
        .filter(col("common") >= minCommon)
        .select("doc_a", "doc_b")
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("n_chars"))
      cand
        .join(d.select(col("doc_id").as("doc_a"), col("text").as("ta"),
          col("n_chars").as("ca")), "doc_a")
        .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb"),
          col("n_chars").as("cb")), "doc_b")
        .withColumn("mx", greatest(col("ca"), col("cb")))
        // length prefilter: edit_dist >= |ca - cb| always, so a pair can only
        // satisfy `10·ed ≤ mx` if `10·|ca − cb| ≤ mx` — a necessary condition
        // of the accept predicate, checked on the two stored lengths BEFORE
        // the O(len²) DP runs. Results are provably unchanged; the DP is
        // skipped for every pair whose length gap already rules it out.
        .filter(abs(col("ca") - col("cb")) * 10 <= col("mx"))
        // BOUNDED levenshtein: with threshold k = mx DIV 10 the DP runs the
        // O(len·k) banded algorithm instead of O(len²). Provably
        // result-preserving: accepted pairs have ed ≤ mx/10 = k (integer), so
        // the bounded form returns their exact distance; every pair it
        // reports as -1 (ed > k) would fail `10·ed ≤ mx` anyway. The oracle
        // stays the unbounded form — its agreement is the proof's check.
        .withColumn("edit_dist",
          expr("levenshtein(ta, tb, CAST(mx DIV 10 AS INT))").cast("long"))
        .filter(col("edit_dist") >= 0 && col("edit_dist") * 10 <= col("mx"))
        .select(col("doc_a"), col("doc_b"), col("edit_dist"),
          (col("edit_dist").cast("double") / col("mx").cast("double")).as("rel_dist"))
    },
    Some(s"""WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), ng AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words)-1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS ngram
        FROM docs
      ), rare AS (
        SELECT ngram FROM ng GROUP BY ngram HAVING count(1) >= 2 AND count(1) <= $maxDf
      ), ngr AS (
        SELECT ng.doc_id, ng.ngram FROM ng JOIN rare ON ng.ngram = rare.ngram
      ), cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ngr a JOIN ngr b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(1) >= $minCommon
      ), v AS (
        SELECT c.doc_a, c.doc_b,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
               greatest(da.n_chars, db.n_chars) AS mx
        FROM cand c
        JOIN documents da ON da.doc_id = c.doc_a
        JOIN documents db ON db.doc_id = c.doc_b
        WHERE abs(da.n_chars - db.n_chars) * 10 <= greatest(da.n_chars, db.n_chars)
      )
      SELECT doc_a, doc_b, edit_dist,
             CAST(edit_dist AS DOUBLE) / CAST(mx AS DOUBLE) AS rel_dist
      FROM v WHERE edit_dist * 10 <= mx"""))

  private val incomingMod = 5 // doc_id % 5 == 0 plays the incoming batch

  /** Incremental dedup core over an arbitrary (doc_id, text) corpus frame,
    * with the signature table injected so the production query can pass the
    * PlanCache'd corpus signatures while specs pass raw ones over synthetic
    * frames. See [[incrementalDedup]] for semantics and the scale shape. */
  private[graft] def incrementalDedupOf(docs: DataFrame, sigs: DataFrame): DataFrame = {
    val incoming = docs.filter(col("doc_id") % incomingMod === 0)
    val existing = docs.filter(col("doc_id") % incomingMod =!= 0)
    // exact: a 16-byte-hash semi join — shuffles hashes, never text
    val exactIds = incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .join(existing.select(md5(col("text")).as("h")).distinct(), Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(1))
    val bandRows = bandRowsOf(sigs)
    val cand = bandRows.filter(col("doc_id") % incomingMod === 0).as("a")
      .join(bandRows.filter(col("doc_id") % incomingMod =!= 0).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("in_id"), col("b.doc_id").as("ex_id"))
      .distinct()
    val nearIds = cand
      .join(sigs.as("sa"), col("in_id") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("ex_id") === col("sb.doc_id"))
      .filter(sigAgreement / lit(numHashes.toDouble) >= 0.5)
      .select(col("in_id").as("doc_id")).distinct().withColumn("is_near", lit(1))
    incoming.select(col("doc_id"))
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact") === 1, "exact_dup")
          .when(col("is_near") === 1, "near_dup")
          .otherwise("new").as("status"))
  }

  /** Incremental dedup — the production shape of a GROWING corpus: a new
    * batch (doc_id % 5 == 0 plays that role) is admitted against the
    * already-ingested corpus, never corpus-vs-itself. Each incoming doc is
    * classified `exact_dup` (content hash present in the existing corpus),
    * `near_dup` (MinHash band collision with an existing doc at estimated
    * Jaccard ≥ 0.5 — q15's exact signature family, shared code), or `new`.
    *
    * 100 TB shape: the existing side's signatures are a maintained artifact
    * in production (built once per corpus state, exactly what PlanCache
    * emulates per session); per batch the work is proportional to the BATCH
    * — its hashes semi-join the corpus hash index, its bands (a small table,
    * broadcastable) probe the corpus band index, and only colliding pairs
    * load signatures for verification. Nothing rescans or re-pairs the
    * existing corpus against itself. */
  val incrementalDedup: Q = Q(
    "q102_dedup_incremental",
    (s, dir) => incrementalDedupOf(Tables.documents(s, dir), corpusSigs(s, dir)),
    Some {
      s"""WITH incoming AS (
        SELECT doc_id, text FROM documents WHERE doc_id % $incomingMod = 0
      ), existing AS (
        SELECT doc_id, text FROM documents WHERE doc_id % $incomingMod <> 0
      ), exact_dup AS (
        SELECT doc_id FROM incoming
        WHERE md5(text) IN (SELECT md5(text) FROM existing)
      ), $sigCtesSql, cand AS (
        SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS ex_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        WHERE a.doc_id % $incomingMod = 0 AND b.doc_id % $incomingMod <> 0
      ), near AS (
        SELECT DISTINCT c.in_id AS doc_id
        FROM cand c
        JOIN sigs sa ON c.in_id = sa.doc_id
        JOIN sigs sb ON c.ex_id = sb.doc_id
        WHERE CAST($agreeSql AS DOUBLE) / $numHashes.0 >= 0.5
      )
      SELECT i.doc_id,
        CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
             WHEN n.doc_id IS NOT NULL THEN 'near_dup'
             ELSE 'new' END AS status
      FROM incoming i
      LEFT JOIN exact_dup e ON i.doc_id = e.doc_id
      LEFT JOIN near n ON i.doc_id = n.doc_id"""
    })

  /** Fuzzy-decontamination core — see [[fuzzyDecontaminate]]; the frame and
    * signature injection mirrors [[incrementalDedupOf]] so specs can drive
    * synthetic paraphrase cases through the production plan. */
  private[graft] def fuzzyDecontamOf(docs: DataFrame, sigs: DataFrame): DataFrame = {
    val evalMod = CorpusOps.evalMod
    val bandRows = bandRowsOf(sigs)
    val cand = bandRows.filter(col("doc_id") % evalMod =!= 0).as("a")
      .join(bandRows.filter(col("doc_id") % evalMod === 0).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("train_id"), col("b.doc_id").as("eval_id"))
      .distinct()
    val matches = cand
      .join(sigs.as("sa"), col("train_id") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("eval_id") === col("sb.doc_id"))
      .filter(sigAgreement / lit(numHashes.toDouble) >= 0.5)
      .groupBy(col("train_id").as("doc_id"))
      .agg(countDistinct("eval_id").as("n_eval_matches"))
    docs.filter(col("doc_id") % evalMod =!= 0).select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
        when(coalesce(col("n_eval_matches"), lit(0L)) > 0, 1).otherwise(0)
          .as("is_fuzzy_contaminated"))
  }

  /** Fuzzy decontamination — q51 flags training docs that share an exact
    * 8-gram with the eval slice, which a light paraphrase defeats. This
    * flags training docs whose MinHash signature band-collides with an eval
    * doc at estimated Jaccard ≥ 0.5 — the LSH form of decontamination open
    * pipelines run beside the exact pass. Same eval-slice definition as q51
    * (doc_id % 20 == 0, `CorpusOps.evalMod` — shared constant), same
    * signature family as q15/q102 (shared code + shared oracle CTEs).
    *
    * 100 TB shape: the eval set is tiny and fixed, so its band table
    * broadcasts; corpus-side work is one band probe per doc (never
    * corpus×corpus), and only colliding pairs load signatures. */
  val fuzzyDecontaminate: Q = Q(
    "q103_decontaminate_fuzzy",
    (s, dir) => fuzzyDecontamOf(Tables.documents(s, dir), corpusSigs(s, dir)),
    Some {
      val evalMod = CorpusOps.evalMod
      s"""WITH $sigCtesSql, cand AS (
        SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        WHERE a.doc_id % $evalMod <> 0 AND b.doc_id % $evalMod = 0
      ), m AS (
        SELECT c.train_id AS doc_id, COUNT(DISTINCT c.eval_id) AS n_eval_matches
        FROM cand c
        JOIN sigs sa ON c.train_id = sa.doc_id
        JOIN sigs sb ON c.eval_id = sb.doc_id
        WHERE CAST($agreeSql AS DOUBLE) / $numHashes.0 >= 0.5
        GROUP BY c.train_id
      )
      SELECT d.doc_id,
             CAST(COALESCE(m.n_eval_matches, 0) AS BIGINT) AS n_eval_matches,
             CASE WHEN COALESCE(m.n_eval_matches, 0) > 0 THEN 1 ELSE 0 END
               AS is_fuzzy_contaminated
      FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
      WHERE d.doc_id % $evalMod <> 0"""
    })

  // ---- q111: exact set-similarity join via prefix filtering ----------------
  /** Default q111 threshold: jaccard ≥ 0.8, carried as an integer numerator
    * over 10 so every pruning bound below stays exact integer arithmetic. */
  private val setSimTauN = 8

  /** EXACT and provably COMPLETE jaccard-threshold self-join over each
    * document's distinct bigram-shingle set — the AllPairs/PPJoin algorithm
    * (Bayardo, Ma & Srikant, WWW'07; Xiao et al., WWW'08), which is what
    * separates this from the repo's other pair miners: q14 keeps only
    * shingles with df∈[2,50] (pairs sharing nothing but stop-shingles are
    * missed by design) and q15/q16/q19 are probabilistic. Here NO qualifying
    * pair can escape:
    *
    *  1. order every doc's shingles by ascending global document frequency
    *     (ties by token) — one token-keyed join to the df table (shingle
    *     vocabulary is data-proportional, so unlike q91's word-df table it
    *     must NOT broadcast) and one doc-keyed window;
    *  2. join ASYMMETRIC prefixes, pairing docs in (sz, doc_id) order: the
    *     smaller side exposes only its INDEX prefix (sz − ⌈2τ/(1+τ)·sz⌉ + 1
    *     rarest shingles), the larger its PROBE prefix (sz − ⌈τ·sz⌉ + 1).
    *     Completeness: let t* be the smallest (global-order) shared token of
    *     a qualifying pair x ≤ y. Were t* outside x's index prefix, ALL
    *     shared tokens would sit in x's suffix of ⌈2τ/(1+τ)·szx⌉ − 1 tokens,
    *     yet J ≥ τ forces common ≥ ⌈2τ/(1+τ)·szx⌉ (c ≥ τ/(1+τ)(szx+szy) and
    *     szy ≥ szx) — contradiction; symmetrically t* outside y's probe
    *     prefix caps common below ⌈τ·szy⌉ ≤ c (needs szx ≥ τ·szy, which
    *     every qualifying pair satisfies since J ≤ min/max). So the SAME
    *     token t* collides in both prefixes and the join loses nothing —
    *     while the index side carries roughly half the probe prefix's rows;
    *  3. prune at the join predicate with two more exact bounds — size ratio
    *     (smaller side must reach 10·szx ≥ τN·szy) and PPJoin's positional
    *     filter (tokens at rank rn leave only 1 + min(szx−rnx, szy−rny)
    *     positions that could still overlap; require that to reach the
    *     equivalent overlap threshold ⌈τ/(1+τ)·(szx+szy)⌉);
    *  4. verify survivors exactly: join the candidate ids back to per-doc
    *     shingle arrays and take |array_intersect| — integer accept
    *     predicate 10·common ≥ τN·(union), jaccard emitted as one
    *     long/long IEEE division (bit-identical in DuckDB).
    *
    * Scale shape: three token-stream shuffles (df join, per-doc window,
    * prefix self-join) + a candidate-bounded verify join — never an O(n²)
    * cross join. The honest cost model, measured: candidate volume tracks
    * the corpus's self-similarity — this synthetic template corpus (prefix
    * tokens average df≈262) generates 3.9M collision rows pruned to 667k
    * distinct candidates at sf0.1 for 256 true pairs (5.2k candidates /
    * 25 pairs at sf0.01); on a real web corpus prefix dfs are long-tail-
    * rare and the same plan touches a tiny fraction of that. Exactness is
    * the price; when approximate recall suffices, q15/q19 LSH is the scale
    * path. The oracle is the UNFILTERED full inverted-index join: none of
    * the pruning bounds exist in it, so each one's completeness claim is
    * independently hash-checked. */
  private[graft] def setSimJoinOf(docs0: DataFrame, tauN: Int = setSimTauN,
      cacheDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shingles = expr(
      """array_distinct(transform(sequence(0, size(words) - 2),
         i -> concat_ws(' ', slice(words, i + 1, 2))))""")
    val base = docs0
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 2)
    val toks = base.select(col("doc_id"), explode(shingles).as("token"))
    val dft = toks.groupBy("token").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy("df", "token")
    // the prefix index feeds BOTH sides of the self-join (and Bench's
    // warmup+timed double pass): persist one bounded copy per (session, dir)
    // — the q14 rare-shingle pattern — instead of re-running the
    // explode/df-join/window chain four times; spec-driven synthetic frames
    // pass no cacheDir and stay uncached
    def buildPre =
      toks.join(dft, "token")
        .select(col("doc_id"), col("token"),
          row_number().over(byRarity).as("rn"),
          count(lit(1)).over(Window.partitionBy("doc_id")).as("sz"))
        .filter(col("rn") <= col("sz") - expr(s"(sz * $tauN + 9) DIV 10") + 1)
    val pre = cacheDir match {
      case Some(d) => graft.PlanCache.cached(docs0.sparkSession, "q111_pre",
        d, s"$d/documents.parquet")(buildPre)
      case None => buildPre
    }
    val overlapMin = // ⌈τ/(1+τ)·(sza+szb)⌉ with τ = tauN/10, all integer DIV
      expr(s"((a.sz + b.sz) * $tauN + ${9 + tauN}) DIV ${10 + tauN}")
    // index prefix: rn ≤ sz − ⌈2τ/(1+τ)·sz⌉ + 1 — a further filter of the
    // cached probe-prefix frame, no second index
    val preIdx = pre.filter(
      col("rn") <= col("sz")
        - expr(s"(sz * ${2 * tauN} + ${10 + tauN - 1}) DIV ${10 + tauN}") + 1)
    val cand = preIdx.as("a").join(pre.as("b"),
        col("a.token") === col("b.token")
          && (col("a.sz") < col("b.sz")
            || (col("a.sz") === col("b.sz") && col("a.doc_id") < col("b.doc_id")))
          && col("a.sz") * 10 >= col("b.sz") * tauN
          && lit(1) + least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))
               >= overlapMin)
      // a is the (sz, id)-smaller side, not the smaller id: restore the
      // id-ordered output orientation before aggregating
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        when(col("a.doc_id") < col("b.doc_id"), col("a.sz"))
          .otherwise(col("b.sz")).as("sza"),
        when(col("a.doc_id") < col("b.doc_id"), col("b.sz"))
          .otherwise(col("a.sz")).as("szb"))
      .groupBy("doc_a", "doc_b")
      .agg(min(col("sza")).as("sz_a"), min(col("szb")).as("sz_b"))
    val arrs = base.select(col("doc_id"), shingles.as("tokarr"))
    cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("tokarr").as("ta")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("tokarr").as("tb")), "doc_b")
      .withColumn("common", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(col("common") * 10 >= (col("sz_a") + col("sz_b") - col("common")) * tauN)
      .withColumn("jaccard", col("common") / (col("sz_a") + col("sz_b") - col("common")))
      .select("doc_a", "doc_b", "common", "sz_a", "sz_b", "jaccard")
  }

  val setSimJoin: Q = Q(
    "q111_setsim_join",
    (s, dir) => setSimJoinOf(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      setSimTauN, Some(dir)),
    Some(s"""WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= 2
      ), toks AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words)),
          i -> words[i] || ' ' || words[i+1]))) AS token
        FROM docs
      ), sz AS (
        SELECT doc_id, COUNT(1) AS sz FROM toks GROUP BY doc_id
      ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS common
        FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      )
      SELECT p.doc_a, p.doc_b, p.common, sa.sz AS sz_a, sb.sz AS sz_b,
             p.common / (sa.sz + sb.sz - p.common) AS jaccard
      FROM pairs p
      JOIN sz sa ON p.doc_a = sa.doc_id
      JOIN sz sb ON p.doc_b = sb.doc_id
      WHERE p.common * 10 >= $setSimTauN * (sa.sz + sb.sz - p.common)"""))

  // ---- q115: exact shared-substring spans (ExactSubstr-class dedup) --------
  /** Window length in tokens: a shared contiguous run shorter than this is
    * not reported. The dedup literature's ExactSubstr operates at ~50 BPE
    * tokens; 8 words is the equivalent granularity for this corpus's short
    * synthetic docs. */
  private val SpanK = 8

  /** EXACT maximal shared-substring spans across documents: every pair of
    * docs sharing a contiguous run of ≥ [[SpanK]] tokens, with the maximal
    * run's start offsets and token length. This is the "train-data contains
    * the exact same passage twice" detector — the class suffix-array
    * ExactSubstr dedup targets — whereas q14/q15/q111 score whole-document
    * SET similarity and are blind to a long verbatim quote inside otherwise
    * different docs.
    *
    * Spark-first formulation (no suffix array): a rolling k-token window
    * inverted index. Each doc explodes into its (position, window-text)
    * stream; an equi-self-join on the window text yields all aligned window
    * matches; consecutive matches along one (doc pair, diagonal = ia − ib)
    * merge into maximal spans with the q06 sessionization trick (ia −
    * row_number() groups consecutive positions), because tokens
    * a[s..e] = b[s−d..e−d] hold iff every k-window inside matches on
    * diagonal d. Exactness needs no hashing assumptions — the join key is
    * the window text itself.
    *
    * Scale shape: one explode (corpus token volume × k duplication in the
    * key column), one string-keyed shuffle join whose candidate volume is
    * Σ df(win)² over DISTINCT window texts — rare-by-construction for
    * natural text (a k-gram repeating across docs IS the signal), so the
    * join output is duplicate-mass-proportional, never O(n²) in docs. The
    * known hot spot is boilerplate windows (headers, licenses) at web
    * scale: there the production guard is a window-df cap filtering the
    * index before the join (dropping spans that occur in >N docs — which a
    * boilerplate-removal pass wants anyway), the same df-bounding lever
    * q14 applies; left OFF here so the registered query stays exact and
    * every emitted span is verifiable. */
  private[graft] def substringSpansOf(docs0: DataFrame, k: Int = SpanK): DataFrame =
    substringSpansOfWords(
      docs0.select(col("doc_id"), split(col("text"), " ").as("w")), k)

  /** [[substringSpansOf]] over a pre-tokenized (doc_id, w) frame — the
    * registered q115 feeds it the PlanCache'd [[docWords]] projection
    * (VERDICT r16 #3, the q113 treatment: at these corpus sizes the
    * query's wall clock is scan + split + scheduling constants, so the
    * one projection every substring-grain operator starts from is
    * materialized once per (session, dir) and shared — the production
    * shape, where tokenization runs once per corpus, not once per
    * report). The join itself keeps the window TEXT as its key: the r17
    * probe measured the md5/semi-join/window/grouped reformulations at
    * 1.0–2.1× of this plan (the data volumes are duplicate-mass-bounded
    * already), so the no-hashing-assumption contract stays. */
  private[graft] def substringSpansOfWords(words: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = words
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w) - $k), i -> concat_ws(' ', slice(w, i + 1, $k)))")))
      .toDF("doc_id", "pos", "win")
    val m = wins.as("a").join(wins.as("b"),
        col("a.win") === col("b.win") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("ia"), col("b.pos").as("ib"),
        (col("a.pos") - col("b.pos")).as("diag"))
    val byDiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    m.withColumn("grp", col("ia") - row_number().over(byDiag))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(min("ia").cast("long").as("a_start"),
        min("ib").cast("long").as("b_start"),
        (max("ia") - min("ia") + k).cast("long").as("span_len"))
      .select("doc_a", "doc_b", "a_start", "b_start", "span_len")
  }

  /** One materialized tokenization of the corpus per (session, dir) — the
    * (doc_id, whitespace-token array) projection every substring-grain
    * operator (q115's window index, q276/q284's k-gram explode) opens
    * with. Splitting is cheap but at report-suite granularity it re-runs
    * per consumer; one shared copy is the production shape (tokenize
    * once, analyze many) and, at test scale, removes the scan+split
    * constant from every consumer's wall clock (VERDICT r16 #3). */
  private[graft] def docWords(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(s, "docs_words", dir, s"$dir/documents.parquet") {
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
    }

  val substringSpans: Q = Q(
    "q115_substring_spans",
    (s, dir) => substringSpansOfWords(docWords(s, dir), SpanK),
    Some(s"""WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), wins AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(w[i:i+${SpanK - 1}], ' ') AS win
        FROM words, unnest(generate_series(1, len(w) - ${SpanK - 1})) AS t(i)
        WHERE len(w) >= $SpanK
      ), m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS ia, b.pos AS ib,
               a.pos - b.pos AS diag
        FROM wins a JOIN wins b ON a.win = b.win AND a.doc_id < b.doc_id
      ), g AS (
        SELECT *, ia - row_number()
          OVER (PARTITION BY doc_a, doc_b, diag ORDER BY ia) AS grp
        FROM m
      )
      SELECT doc_a, doc_b, CAST(MIN(ia) AS BIGINT) AS a_start,
             CAST(MIN(ib) AS BIGINT) AS b_start,
             CAST(MAX(ia) - MIN(ia) + $SpanK AS BIGINT) AS span_len
      FROM g GROUP BY doc_a, doc_b, diag, grp"""))

  // ---- q135: asymmetric containment join -----------------------------------
  private val containTauN = 8 // τ = 0.8, as a ×10 integer for exact threshold math

  /** Directional containment join: doc A is "mostly inside" doc B when
    * |S(A) ∩ S(B)| / |S(A)| ≥ τ over distinct word 3-grams — the quote /
    * excerpt / subset-duplicate detector, and the directional complement of
    * q14/q111's symmetric scores: a 30-word passage quoted inside a
    * 3000-word page scores Jaccard ≈ 0.01 (invisible to q14) but
    * containment 1.0.
    *
    * Prefix-filter completeness (why the pruned plan is still exact):
    * containment ≥ τ ⇒ common ≥ ⌈τ·n_a⌉, so ANY (n_a − ⌈τ·n_a⌉ + 1)-subset
    * of A's shingles must hit B; probing with the globally RAREST such
    * subset (df-ascending prefix) minimizes index fan-out — the PPJoin
    * prefix lever WITHOUT its size-ratio prune, which containment must not
    * apply (the small-doc-in-huge-doc pair is exactly the hit q111's ratio
    * cut discards). Candidate volume is Σ_A Σ_{s ∈ prefix(A)} df(s) —
    * duplicate-mass-proportional, never O(n²) in docs; verification is an
    * exact array_intersect on the bounded per-doc shingle arrays. The
    * threshold test is integer cross-multiplication (common·10 ≥ n_a·τ10);
    * the reported score is one BIGINT/BIGINT division, double in both
    * engines. Oracle: the UNPRUNED full inverted-index join — a different
    * algorithm, so the hash gate also certifies the pruning bounds. */
  val containmentJoin: Q = Q(
    "q135_containment_join",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val shingles = expr(
        """array_distinct(transform(sequence(0, size(words) - 3),
           i -> concat_ws(' ', slice(words, i + 1, 3))))""")
      // The tokenizing projection is deliberately placed ABOVE the length
      // filter: written select-then-filter, the analyzed plan contains a
      // bare Project[doc_id, split(text)] over the relation — canonically
      // EQUAL to the PlanCache'd docs_words plan — and CacheManager
      // silently rewires all four of this query's scan legs through that
      // InMemoryRelation whenever any q115/q276-family query ran earlier
      // in the suite. At sf1 the deserialized token-array cache is larger
      // than the parquet text it replaces and partially disk-resident
      // under a warm 289-query suite, so the four cache reads cost ~12 s
      // over the fused parquet-scan+split they displaced (BENCH_r17's
      // warm:q135 premium — mechanism confirmed by plan inspection and
      // the QTime pre-pass bisection, BENCH_NOTES r18). Filter-first
      // breaks the plan equality; semantics are unchanged (the filter
      // commutes with the projection).
      val base = Tables.documents(s, dir)
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
      val toks = base.select(col("doc_id"), explode(shingles).as("ngram"))
      val dft = toks.groupBy("ngram").agg(count(lit(1)).as("df"))
      val byRarity = Window.partitionBy("doc_id").orderBy("df", "ngram")
      val pre = toks.join(dft, "ngram")
        .select(col("doc_id"), col("ngram"),
          row_number().over(byRarity).as("rn"),
          count(lit(1)).over(Window.partitionBy("doc_id")).as("sz"))
        .filter(col("rn") <= col("sz")
          - expr(s"(sz * $containTauN + 9) DIV 10") + 1)
      val cand = pre.as("a").join(toks.as("b"),
          col("a.ngram") === col("b.ngram") && col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sz").as("n_a"))
        .distinct()
      val arrs = base.select(col("doc_id"), shingles.as("tokarr"))
      cand
        .join(arrs.select(col("doc_id").as("doc_a"), col("tokarr").as("ta")), "doc_a")
        .join(arrs.select(col("doc_id").as("doc_b"), col("tokarr").as("tb")), "doc_b")
        .withColumn("common", size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .withColumn("n_b", size(col("tb")).cast("long"))
        .filter(col("common") * 10 >= col("n_a") * containTauN)
        .withColumn("containment", col("common") / col("n_a"))
        .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
          col("common"), col("containment"))
    },
    Some(s"""WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), ng AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words) - 1),
          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS ngram
        FROM docs
      ), sz AS (SELECT doc_id, COUNT(1) AS n FROM ng GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS common
        FROM ng a JOIN ng b ON a.ngram = b.ngram AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
      )
      SELECT p.doc_a, p.doc_b, sa.n AS n_a, sb.n AS n_b, p.common,
             p.common / sa.n AS containment
      FROM pairs p
      JOIN sz sa ON p.doc_a = sa.doc_id
      JOIN sz sb ON p.doc_b = sb.doc_id
      WHERE p.common * 10 >= sa.n * $containTauN"""))

  // ---- q141: content-defined chunking dedup --------------------------------
  private val cdcK = 3 // rolling-window width (tokens) for the boundary hash

  /** q141: content-defined chunking (CDC) dedup — the storage-dedup/FastCDC
    * idea applied at token level: chunk boundaries are declared wherever a
    * rolling k-token window hashes into a fixed residue class (here: first
    * md5 hex nibble ∈ {0,1} ⇒ expected chunk ≈ 8 tokens), so an insertion
    * early in a document SHIFTS chunk boundaries only locally — unlike
    * fixed-width blocks (q128's patches) where one inserted token reframes
    * every downstream block, and unlike q115's all-windows index which pays
    * k rows per token. Emitted: every chunk whose exact text recurs
    * (n_occ ≥ 2) with its occurrence/document counts — the chunk-store view
    * a dedup-at-rest system maintains.
    *
    * Boundary portability: the residue test runs on the lowercase-hex md5
    * prefix directly ([[Md5Draw]] argument — no hex→int conversion), and the
    * window string uses null-PROPAGATING concatenation so both engines see
    * the identical boundary set; positions below k−1 can never cut.
    *
    * Scale shape: one posexplode (×~40), one doc-keyed window pass for the
    * boundary prefix-sum, one (doc, chunk) aggregation, one chunk-hash
    * aggregation — all shuffles on natural keys, no joins, no candidate
    * blowup: the work is linear in corpus tokens regardless of duplication
    * structure (vs q115 whose span merge is per matching window PAIR). At
    * 100 TB the chunk-hash groupBy is the only corpus-wide exchange and its
    * payload is (hash, doc_id) — bytes per chunk, not chunk text. */
  /** q141's plan over an arbitrary (doc_id, text) frame — spec entry. */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    {
      val toks = docs
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val win = concat(lag("tok", 2).over(w), lit("|"),
        lag("tok", 1).over(w), lit("|"), col("tok"))
      val marked = toks.withColumn("b",
        when(col("pos") >= cdcK - 1 &&
          substring(md5(win), 1, 1).isin("0", "1"), 1L).otherwise(0L))
      val chunkId = coalesce(
        sum("b").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      val chunks = marked.withColumn("c", chunkId)
        .groupBy("doc_id", "c")
        .agg(count(lit(1)).as("n_tokens"),
          array_join(expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
            " ").as("chunk_text"))
      chunks.groupBy(md5(col("chunk_text")).as("chunk_hash"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct("doc_id").as("n_docs"),
          min("n_tokens").as("n_tokens"))
        .filter(col("n_occ") >= 2)
    }
  }

  val cdcChunks: Q = Q(
    "q141_cdc_chunks",
    (s, dir) => cdcChunksOf(Tables.documents(s, dir)),
    Some("""WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), p AS (
        SELECT doc_id, w, unnest(range(1, len(w)+1)) AS i FROM d
      ), marked AS (
        SELECT doc_id, i, w[i] AS tok,
               CASE WHEN i >= 3 AND substr(md5(w[i-2] || '|' || w[i-1] || '|' || w[i]), 1, 1)
                         IN ('0','1') THEN 1 ELSE 0 END AS b
        FROM p
      ), cids AS (
        SELECT doc_id, i, tok,
               COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        FROM marked
      ), chunks AS (
        SELECT doc_id, c, count(1) AS n_tokens,
               string_agg(tok, ' ' ORDER BY i) AS chunk_text
        FROM cids GROUP BY doc_id, c
      )
      SELECT md5(chunk_text) AS chunk_hash, count(1) AS n_occ,
             count(DISTINCT doc_id) AS n_docs, min(n_tokens) AS n_tokens
      FROM chunks GROUP BY md5(chunk_text) HAVING count(1) >= 2"""))

  // ---- q144: LSH quality evaluation ----------------------------------------
  /** q144: the evaluation harness a pipeline runs before trusting an ANN/LSH
    * stage at scale — q15's MinHash-LSH pair set graded against the EXACT
    * full-shingle Jaccard ≥ 0.5 truth: tp/fp/fn counts plus precision and
    * recall (each one int/int division). The truth side is the complete
    * inverted-index join over ALL shingles (no df pruning) with only the
    * provably result-preserving size-ratio cut (J ≥ 0.5 ⇒ |A| ≤ 2|B|), so
    * a missed pair can only mean LSH banding/estimation error — exactly
    * what the eval must measure.
    *
    * Distributed shape: the truth join shuffles on shingle then on the pair
    * key, both natural keys; the grade is three co-partitioned pair-key
    * joins collapsed to one row. */
  val lshEval: Q = Q(
    "q144_lsh_eval",
    (s, dir) => {
      val ng = ngramRows(s, dir)
      val sizes = ng.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // no broadcast hint on the doc-count-sized frame (see q14's note):
      // co-keyed shuffle join at scale, AQE-broadcast when small
      val ngN = ng.join(sizes, "doc_id")
      val truth = ngN.as("a").join(ngN.as("b"),
          col("a.ngram") === col("b.ngram") && col("a.doc_id") < col("b.doc_id")
            && col("a.n") <= lit(2) * col("b.n")
            && col("b.n") <= lit(2) * col("a.n"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("common"), min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
        .filter(col("common") / (col("na") + col("nb") - col("common")) >= 0.5)
        .select("doc_a", "doc_b")
      val pred = minhashLsh.run(s, dir).select("doc_a", "doc_b")
      val keys = Seq("doc_a", "doc_b")
      val tp = pred.join(truth, keys).agg(count(lit(1)).as("tp"))
      val fp = pred.join(truth, keys, "left_anti").agg(count(lit(1)).as("fp"))
      val fn = truth.join(pred, keys, "left_anti").agg(count(lit(1)).as("fn"))
      tp.crossJoin(fp).crossJoin(fn)
        .withColumn("precision", when(col("tp") + col("fp") > 0,
          col("tp") / (col("tp") + col("fp"))).otherwise(lit(0.0)))
        .withColumn("recall", when(col("tp") + col("fn") > 0,
          col("tp") / (col("tp") + col("fn"))).otherwise(lit(0.0)))
        // acceptance floors AS hash-gated columns (r10 directive #7): the
        // oracle pins TRUE literals, so an LSH dial regression that drops
        // precision or recall below 0.9 hash-diverges the report instead of
        // only failing a spec. Integer-exact (10·tp ≥ 9·denominator) — no
        // double boundary.
        .withColumn("precision_floor_met",
          col("tp") * 10L >= (col("tp") + col("fp")) * 9L)
        .withColumn("recall_floor_met",
          col("tp") * 10L >= (col("tp") + col("fn")) * 9L)
    },
    Some(s"""WITH docs2 AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), tng AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words)-1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS ngram
        FROM docs2
      ), tsz AS (
        SELECT doc_id, count(1) AS n FROM tng GROUP BY doc_id
      ), tpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS common
        FROM tng a JOIN tng b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      ), truth AS (
        SELECT p.doc_a, p.doc_b FROM tpairs p
        JOIN tsz sa ON p.doc_a = sa.doc_id
        JOIN tsz sb ON p.doc_b = sb.doc_id
        WHERE p.common / (sa.n + sb.n - p.common) >= 0.5
      ), pred AS (
        SELECT doc_a, doc_b FROM (${minhashLsh.oracle.get})
      ), g AS (
        SELECT
          (SELECT count(1) FROM pred JOIN truth USING (doc_a, doc_b)) AS tp,
          (SELECT count(1) FROM pred ANTI JOIN truth USING (doc_a, doc_b)) AS fp,
          (SELECT count(1) FROM truth ANTI JOIN pred USING (doc_a, doc_b)) AS fn
      )
      SELECT tp, fp, fn,
        CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS precision,
        CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS recall,
        -- PINNED acceptance verdicts (literals, not re-derived): Spark
        -- computes 10*tp >= 9*denominator; a dial regression flips its
        -- columns to false and hash-diverges against these
        TRUE AS precision_floor_met,
        TRUE AS recall_floor_met
      FROM g"""))

  // ---- q276: ExactSubstr — maximal duplicated-substring removal spans ------
  /** Span length for the exact-substring dedup: 13 tokens — the q206
    * memorization grain (a 13-word match is essentially never chance),
    * giving the two operators one shared definition of "a span worth
    * worrying about"; the published ExactSubstr uses 50 BPE tokens at
    * web-corpus doc lengths, and the constant is the only knob. */
  private[graft] val esK = 13

  /** q276: ExactSubstr-class exact-substring deduplication (Lee et al.
    * 2022, arXiv:2107.06499 §4.1 — the suffix-array half of the canonical
    * dedup stack, the companion to q15's MinHash document-level half): for
    * every document, the MAXIMAL spans of ≥ [[esK]] consecutive tokens
    * whose text occurs somewhere else in the corpus — the exact regions
    * the published pipeline REMOVES. q115 finds shared spans only above a
    * shingle-block threshold and q238's winnowing is a sampled
    * approximation; this is the exact, complete answer at the k-token
    * grain, and the row the q163 report card was missing.
    *
    * Suffix-array equivalence: a duplicated substring of length ≥ k covers
    * exactly the positions covered by its length-k windows, and every
    * length-k window of a duplicated substring is itself duplicated — so
    * {positions inside some ≥k-token duplicate} = ∪ of duplicated k-gram
    * windows, and merging overlapping/adjacent marked windows yields the
    * maximal spans a suffix-array neighbor-LCP scan would report. The
    * group-by-gram IS the suffix sort's bucket step, distributed.
    *
    * Exactness: spans are md5-hashed before any shuffle (the q206 idiom —
    * 16-byte keys, never text; both engines md5 the identical string);
    * everything else is integer set algebra and a per-doc
    * gaps-and-islands merge with a total order (doc_id, pos).
    *
    * Distributed shape: one explode (positions × 16-byte hashes, linear in
    * corpus tokens) → one map-side-combined df count (the "suffix bucket
    * sort" — the ONLY corpus-wide shuffle, keyed on the hash) → one
    * left-semi join back → a per-doc window merge (rows per doc ≤ doc
    * length — partition-parallel). No pair expansion anywhere: candidate
    * volume is position count, so cost is linear in corpus tokens at any
    * duplication level — the property that makes ExactSubstr runnable at
    * 100 TB where a pairwise formulation is not. */
  /** The exploded k-gram frame (doc_id, pos, md5 16-byte gram hash) shared
    * by q276 and q284 — linear in corpus tokens, never materialized. */
  private def esKgrams(s: SparkSession, dir: String): DataFrame =
    docWords(s, dir)
      .select(col("doc_id"), col("w").as("ws"))
      .filter(size(col("ws")) >= esK)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $esK), " +
          s"i -> md5(array_join(slice(ws, i + 1, $esK), ' ')))"))
        .as(Seq("pos", "h")))

  /** Gaps-and-islands merge of marked gram-start positions into maximal
    * token spans (shared by q276/q284): positions ≤ [[esK]] apart chain
    * into one island; a span covers [min pos, max pos + k). Per-doc
    * window — partition-parallel, ≤ doc length rows per group. */
  private def esIslands(marked: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= esK, 0).otherwise(1))
      .withColumn("island", sum("brk").over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("p0"), max("pos").as("p1"), count(lit(1)).as("n_grams"))
      .select(col("doc_id"),
        col("p0").cast("long").as("span_start"),
        (col("p1") + esK).cast("long").as("span_end"),
        (col("p1") + esK - col("p0")).cast("long").as("span_tokens"),
        col("n_grams"))
  }

  val exactSubstrSpans: Q = Q(
    "q276_exactsubstr_spans",
    (s, dir) => {
      val kg = esKgrams(s, dir)
      // ≥2 occurrences ANYWHERE (another doc or elsewhere in the same doc)
      // — the ExactSubstr contract is "this text exists twice", not q206's
      // cross-document document-risk grain
      val dup = kg.groupBy("h").agg(count(lit(1)).as("nocc"))
        .filter(col("nocc") >= 2).select("h")
      esIslands(kg.join(dup, Seq("h"), "left_semi"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= $esK
      ), kg AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(ws[i : i + ${esK - 1}], ' ')) AS h
        FROM (SELECT doc_id, ws,
                     unnest(range(1, len(ws) - ${esK - 2})) AS i
              FROM d)
      ), dup AS (
        SELECT h FROM kg GROUP BY h HAVING count(1) >= 2
      ), mk AS (
        SELECT doc_id, pos FROM kg SEMI JOIN dup USING (h)
      ), isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         <= $esK
                    THEN 0 ELSE 1 END AS brk
        FROM mk
      ), isl2 AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
      )
      SELECT doc_id,
             CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(MAX(pos) + $esK AS BIGINT) AS span_end,
             CAST(MAX(pos) + $esK - MIN(pos) AS BIGINT) AS span_tokens,
             CAST(count(1) AS BIGINT) AS n_grams
      FROM isl2 GROUP BY doc_id, island"""))

  /** One materialized copy of q276's span table per (session, dir) — the
    * production shape (the removal mask is computed once, consumed by the
    * dedup pass, the report card and the impact report); the q163 method
    * row shares this entry. */
  private def exactSubstrSpanRows(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(s, "q163_exactsubstr", dir,
      s"$dir/documents.parquet")(exactSubstrSpans.run(s, dir))

  /** q280: what ExactSubstr removal would DO to the corpus — per source,
    * the document hit rate and the removed-token mass (absolute and ppm of
    * the source's token mass). This is the go/no-go summary a pipeline
    * owner reads next to q163's method row before enabling span removal:
    * maximal spans never overlap (q276 merges them), so Σ span_tokens IS
    * the exact removed mass. Sources with only short (< [[esK]]-token)
    * docs still contribute their full token mass to the denominator.
    *
    * Ppm numerators ride DECIMAL(38,0)·10⁶ (Spark) / HUGEINT (DuckDB) —
    * the q273 discipline; every reported column is BIGINT.
    *
    * Distributed shape: a per-doc roll-up of the materialized span table
    * (≤ one row per doc) left-joined onto the doc-grain projection, then a
    * per-source aggregate — nothing beyond q276's own chain ever runs. */
  val exactSubstrImpact: Q = Q(
    "q280_exactsubstr_impact",
    (s, dir) => {
      val spans = exactSubstrSpanRows(s, dir)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("nw"))
      val perDoc = spans.groupBy("doc_id")
        .agg(sum("span_tokens").as("dup_tokens"), count(lit(1)).as("n_spans"))
      docs.join(perDoc, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_spans").isNotNull, 1L).otherwise(0L)).as("n_docs_hit"),
          sum(coalesce(col("dup_tokens"), lit(0L))).as("dup_tokens"),
          sum(col("nw")).as("total_tokens"))
        .select(col("source"), col("n_docs"), col("n_docs_hit"),
          col("dup_tokens"), col("total_tokens"),
          expr("CAST(CAST(dup_tokens AS DECIMAL(38,0)) * 1000000" +
            " DIV total_tokens AS BIGINT)").as("dup_ppm"))
    },
    Some(s"""WITH sp AS (
        ${exactSubstrSpans.oracle.get}
      ), d AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        FROM documents
      ), pd AS (
        SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
               CAST(count(1) AS BIGINT) AS n_spans
        FROM sp GROUP BY doc_id
      )
      SELECT d.source, CAST(count(1) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN pd.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_docs_hit,
             CAST(SUM(COALESCE(pd.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
             CAST(SUM(d.nw) AS BIGINT) AS total_tokens,
             CAST(CAST(SUM(COALESCE(pd.dup_tokens, 0)) AS HUGEINT) * 1000000
               // SUM(d.nw) AS BIGINT) AS dup_ppm
      FROM d LEFT JOIN pd USING (doc_id)
      GROUP BY d.source"""))

  /** q282: ExactSubstr REMOVAL — the rewrite pass itself (the operator the
    * published pipeline actually runs after q276 finds the spans): every
    * document with its duplicated ≥[[esK]]-token spans excised, plus the
    * before/after token counts. q276 detects, q280 reports the damage,
    * q282 produces the cleaned corpus — the complete stack. A fully
    * duplicated document comes back with empty clean_text (and is counted,
    * not dropped) on BOTH engines; sub-[[esK]]-token docs pass through
    * untouched.
    *
    * Distributed shape: one position explode of the corpus (linear in
    * tokens), a (doc, pos)-keyed LEFT ANTI join against the exploded span
    * ranges (maximal spans are disjoint per doc, so the range explosion is
    * exactly the removed mass), and a per-doc re-assembly (array_sort of
    * (pos, token) structs — partition-local, ≤ doc length per group). The
    * output is corpus-sized BY DEFINITION — it IS the rewritten corpus; at
    * 100 TB this runs as the write-side of the curation pass, one scan in,
    * one scan out, nothing pairwise anywhere. */
  /** The rewrite pass shared by q282 (delete-all spans), q285 (keep-first
    * spans) and q287 (decontamination spans over the train slice): excise
    * `spans`' token ranges from every document passing `docFilter` and
    * re-assemble. See q282's scaladoc for the distributed shape. */
  private def esCleanFrom(s: SparkSession, dir: String,
      spans: DataFrame, docFilter: Column = lit(true)): DataFrame =
    esCleanOver(docWords(s, dir).filter(docFilter)
      .select(col("doc_id"), col("w").as("ws")), spans)

  /** The rewrite chain over an arbitrary (doc_id, ws) docs frame — the
    * docs universe is the caller's (q282/q285/q287 pass slices of the
    * corpus; q290 passes the composed-pipeline survivors). */
  private[graft] def esCleanOver(docs: DataFrame, spans: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("w"))
    val rem = spans.select(col("doc_id"),
      explode(expr("sequence(span_start, span_end - 1)")).as("pos"))
    val agg = toks.join(rem, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_after"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("clean_text"))
    docs.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens_before"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens_before"),
        coalesce(col("n_after"), lit(0L)).as("n_tokens_after"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** The matching DuckDB rewrite chain over a span CTE named `sp`;
    * `docWhere` restricts the rewritten universe (q287's train slice),
    * `extraCtes` lets a caller prepend CTEs that `docWhere` references
    * (q290's survivor set). */
  private[graft] def esCleanSql(spSql: String, docWhere: String = "",
      extraCtes: String = ""): String =
    s"""WITH sp AS (
        $spSql
      ), ${extraCtes}d AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents$docWhere
      ), toks AS (
        SELECT doc_id, i - 1 AS pos, ws[i] AS w
        FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM d)
      ), rem AS (
        SELECT doc_id, unnest(range(span_start, span_end)) AS pos FROM sp
      ), kept AS (
        SELECT t.doc_id, t.pos, t.w FROM toks t LEFT JOIN rem r
          ON t.doc_id = r.doc_id AND t.pos = r.pos
        WHERE r.pos IS NULL
      ), agg AS (
        SELECT doc_id, CAST(count(1) AS BIGINT) AS n_after,
               string_agg(w, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
      )
      SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS n_tokens_before,
             CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_tokens_after,
             COALESCE(a.clean_text, '') AS clean_text
      FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id"""

  val exactSubstrClean: Q = Q(
    "q282_exactsubstr_clean",
    (s, dir) => esCleanFrom(s, dir, exactSubstrSpanRows(s, dir)),
    Some(esCleanSql(exactSubstrSpans.oracle.get)))

  /** q284: ExactSubstr KEEP-FIRST-OCCURRENCE policy (VERDICT r16 "what's
    * missing" #3): q276/q282 excise EVERY copy of a duplicated span — the
    * published tool's semantics (Lee et al. 2022 delete both occurrences);
    * several production pipelines instead dedup (keep one copy). This is
    * that policy at the k-gram grain: a gram-start position is removable
    * iff its [[esK]]-gram occurs ≥ 2 times in the corpus AND this
    * occurrence is not the GLOBALLY FIRST one (min (doc_id, pos) over the
    * gram's occurrences — (doc_id, pos) is unique per gram row, so the
    * argmin is a total order and both engines mark the identical set).
    * Marked positions merge into maximal removal spans exactly like q276,
    * so the output is q276-shaped and the two tables diff directly: every
    * q284 span sits inside a q276 span (marked₍₂₈₄₎ ⊆ marked₍₂₇₆₎, and an
    * island chain of a subset is a chain of the superset — R17OpsSpec
    * pins the containment and the mass inequality), every duplicated gram
    * keeps its first occurrence unmarked somewhere in the corpus, and a
    * pair of identical documents loses only the larger-doc_id copy.
    *
    * Distributed shape: q276's explode + ONE map-side-combined aggregate
    * per gram hash (count + min-(doc_id,pos) struct — still 16-byte keys,
    * still the only corpus-wide shuffle) + the same per-doc island merge;
    * position-linear at any duplication level, like q276. */
  val exactSubstrKeepFirst: Q = Q(
    "q284_exactsubstr_keepfirst",
    (s, dir) => {
      val kg = esKgrams(s, dir)
      val dupFirst = kg.groupBy("h")
        .agg(count(lit(1)).as("nocc"),
          min(struct(col("doc_id"), col("pos"))).as("first_occ"))
        .filter(col("nocc") >= 2)
        .select("h", "first_occ")
      esIslands(kg.join(dupFirst, Seq("h"))
        .filter(struct(col("doc_id"), col("pos")) =!= col("first_occ"))
        .select("doc_id", "pos"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= $esK
      ), kg AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(ws[i : i + ${esK - 1}], ' ')) AS h
        FROM (SELECT doc_id, ws,
                     unnest(range(1, len(ws) - ${esK - 2})) AS i
              FROM d)
      ), mk AS (
        SELECT doc_id, pos FROM (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
                 count(1) OVER (PARTITION BY h) AS nocc
          FROM kg)
        WHERE nocc >= 2 AND rn >= 2
      ), isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         <= $esK
                    THEN 0 ELSE 1 END AS brk
        FROM mk
      ), isl2 AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
      )
      SELECT doc_id,
             CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(MAX(pos) + $esK AS BIGINT) AS span_end,
             CAST(MAX(pos) + $esK - MIN(pos) AS BIGINT) AS span_tokens,
             CAST(count(1) AS BIGINT) AS n_grams
      FROM isl2 GROUP BY doc_id, island"""))

  /** One materialized copy of q284's keep-first span table per (session,
    * dir) — the cache key matches q163's `mat("exactsubstr_keepfirst")`
    * entry, so the report and the rewrite share one materialization
    * exactly as q276's table is shared via `q163_exactsubstr`. */
  private def exactSubstrKeepFirstRows(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(s, "q163_exactsubstr_keepfirst", dir,
      s"$dir/documents.parquet")(exactSubstrKeepFirst.run(s, dir))

  /** q285: the keep-first REWRITE — q282's cleaning pass under q284's
    * policy, completing the policy matrix (detect: q276/q284; report:
    * q280; rewrite: q282 delete-all / q285 keep-first). The output corpus
    * retains exactly one copy of every duplicated ≥[[esK]]-token region
    * at the gram grain: the globally-first occurrence survives in place,
    * later copies are excised — dedup, not deletion. An identical-doc
    * pair comes back with the min-doc_id copy byte-identical and the
    * other cleaned; R17OpsSpec pins that plus the two-sided mass bound
    * (removed mass = q284's span mass ≤ q282's removed mass).
    *
    * Distributed shape: identical to q282 (one position explode, one
    * (doc,pos) anti-join, per-doc re-assembly) against the PlanCache'd
    * q284 span table — nothing beyond the shared chains runs. */
  val exactSubstrKeepFirstClean: Q = Q(
    "q285_exactsubstr_keepfirst_clean",
    (s, dir) => esCleanFrom(s, dir, exactSubstrKeepFirstRows(s, dir)),
    Some(esCleanSql(exactSubstrKeepFirst.oracle.get)))

  /** q286: span-grain EVAL-SET decontamination — the removal-based
    * benchmark decontamination the published pipelines actually run
    * (GPT-3 appendix C / Lee et al. 2022 run ExactSubstr against the
    * benchmarks; PaLM/Llama report the same n-gram-window removal),
    * where q51 only FLAGS contaminated documents at the 5-gram grain:
    * for every TRAIN document (q51's universe, doc_id % evalMod ≠ 0),
    * the maximal spans of ≥ [[esK]] consecutive tokens whose text occurs
    * anywhere in the EVAL slice (doc_id % evalMod = 0). Same island
    * algebra as q276, different duplication predicate — membership in
    * the eval gram set instead of corpus-wide df ≥ 2.
    *
    * Distributed shape: BETTER than q276 at 100 TB — the eval side is
    * small by construction (q51's broadcast argument), so the eval gram
    * set broadcasts and the corpus streams ONCE through a broadcast semi
    * join + per-doc island merge: zero corpus-wide shuffles (q276 needs
    * its one df-count shuffle; this needs none). */
  /** [[esKgrams]] over an arbitrary (doc_id, text) frame — the stream-side
    * gram explode (q289 cannot read the PlanCache'd words projection: its
    * input is the arriving micro-batch). */
  private[graft] def esKgramsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= esK)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $esK), " +
          s"i -> md5(array_join(slice(ws, i + 1, $esK), ' ')))"))
        .as(Seq("pos", "h")))

  /** The eval-slice gram set (doc_id % evalMod = 0), from the BATCH table —
    * the static side of both q286 and q289's stream-static gate. Size-
    * guarded at construction ([[SizeGuard.keySide]]): the modeled eval
    * slice is 5% of the corpus — proportional — so the hint must not be
    * unconditional (VERDICT r17 #2); q289 probes once at stream setup and
    * every micro-batch inherits the decided plan. */
  private[graft] def evalGramSet(s: SparkSession, dir: String): DataFrame =
    SizeGuard.keySide(
      esKgrams(s, dir).filter(col("doc_id") % CorpusOps.evalMod === 0)
        .select("h").distinct())

  /** Restrict a documents-shaped frame to the TRAIN slice (q51's eval
    * membership convention) — exported for q289's micro-batch filter. */
  private[graft] def trainSliceOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % CorpusOps.evalMod =!= 0)

  /** q286's span chain over an arbitrary train-doc k-gram frame — shared
    * verbatim by the batch query and q289's per-micro-batch transform
    * (span membership depends only on the doc's own text and the STATIC
    * eval gram set, so batching cannot change a row — the q281 argument). */
  private[graft] def decontamSpansOf(trainKg: DataFrame,
      evalGrams: DataFrame): DataFrame =
    esIslands(trainKg
      .join(evalGrams, Seq("h"), "left_semi")
      .select("doc_id", "pos"))

  val decontamSpans: Q = Q(
    "q286_decontam_spans",
    (s, dir) => decontamSpansOf(
      esKgrams(s, dir).filter(col("doc_id") % CorpusOps.evalMod =!= 0),
      evalGramSet(s, dir)),
    Some(s"""WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= $esK
      ), kg AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(ws[i : i + ${esK - 1}], ' ')) AS h
        FROM (SELECT doc_id, ws,
                     unnest(range(1, len(ws) - ${esK - 2})) AS i
              FROM d)
      ), ev AS (
        SELECT DISTINCT h FROM kg WHERE doc_id % ${CorpusOps.evalMod} = 0
      ), mk AS (
        SELECT doc_id, pos FROM (
          SELECT kg.doc_id, kg.pos FROM kg SEMI JOIN ev USING (h)
          WHERE kg.doc_id % ${CorpusOps.evalMod} <> 0)
      ), isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         <= $esK
                    THEN 0 ELSE 1 END AS brk
        FROM mk
      ), isl2 AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
      )
      SELECT doc_id,
             CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(MAX(pos) + $esK AS BIGINT) AS span_end,
             CAST(MAX(pos) + $esK - MIN(pos) AS BIGINT) AS span_tokens,
             CAST(count(1) AS BIGINT) AS n_grams
      FROM isl2 GROUP BY doc_id, island"""))

  /** One materialized copy of q286's span table per (session, dir) —
    * consumed by the q287 rewrite. */
  private[graft] def decontamSpanRows(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(s, "q286_spans", dir,
      s"$dir/documents.parquet")(decontamSpans.run(s, dir))

  /** q287: the DECONTAMINATED TRAINING CORPUS — q282's rewrite chain
    * driven by q286's contamination spans over the train slice only:
    * every train document with its eval-overlapping ≥[[esK]]-token spans
    * excised, before/after counts alongside. This is the artifact a
    * training run actually consumes (q51 tells you HOW BAD it is, q286
    * WHERE it is, q287 is the corpus with it gone); eval documents are
    * not part of the output by definition. Same one-scan-in/one-scan-out
    * shape as q282/q285. */
  val decontamClean: Q = Q(
    "q287_decontam_clean",
    (s, dir) => esCleanFrom(s, dir, decontamSpanRows(s, dir),
      col("doc_id") % CorpusOps.evalMod =!= 0),
    Some(esCleanSql(decontamSpans.oracle.get,
      s" WHERE doc_id % ${CorpusOps.evalMod} <> 0")))

  /** q288: contamination impact report — q280's go/no-go summary for the
    * decontamination stack: per source, the TRAIN-doc count, how many
    * train docs carry ≥1 eval-overlapping span, the removable token mass
    * (exact — q286's maximal spans are disjoint), the train token mass,
    * and the contamination ppm. This is the number a pipeline owner reads
    * next to q51's flag rate before enabling span removal: q51 says "9%
    * of docs touch the eval set SOMEWHERE at the 5-gram grain", q288 says
    * "removing the actual ≥13-token overlaps costs N ppm of training
    * tokens". Ppm numerators ride DECIMAL(38,0)/HUGEINT (the q273
    * discipline); every reported column is BIGINT.
    *
    * Distributed shape: a per-doc roll-up of the materialized q286 span
    * table left-joined onto the train-doc projection, then a per-source
    * aggregate — q280's chain verbatim, restricted to the train slice. */
  val decontamImpact: Q = Q(
    "q288_decontam_impact",
    (s, dir) => {
      val spans = decontamSpanRows(s, dir)
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % CorpusOps.evalMod =!= 0)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("nw"))
      val perDoc = spans.groupBy("doc_id")
        .agg(sum("span_tokens").as("contam_tokens"), count(lit(1)).as("n_spans"))
      docs.join(perDoc, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_train_docs"),
          sum(when(col("n_spans").isNotNull, 1L).otherwise(0L))
            .as("n_docs_contaminated"),
          sum(coalesce(col("contam_tokens"), lit(0L))).as("contam_tokens"),
          sum(col("nw")).as("train_tokens"))
        .select(col("source"), col("n_train_docs"), col("n_docs_contaminated"),
          col("contam_tokens"), col("train_tokens"),
          expr("CAST(CAST(contam_tokens AS DECIMAL(38,0)) * 1000000" +
            " DIV train_tokens AS BIGINT)").as("contam_ppm"))
    },
    Some(s"""WITH sp AS (
        ${decontamSpans.oracle.get}
      ), d AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        FROM documents WHERE doc_id % ${CorpusOps.evalMod} <> 0
      ), pd AS (
        SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS contam_tokens,
               CAST(count(1) AS BIGINT) AS n_spans
        FROM sp GROUP BY doc_id
      )
      SELECT d.source, CAST(count(1) AS BIGINT) AS n_train_docs,
             CAST(SUM(CASE WHEN pd.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_docs_contaminated,
             CAST(SUM(COALESCE(pd.contam_tokens, 0)) AS BIGINT) AS contam_tokens,
             CAST(SUM(d.nw) AS BIGINT) AS train_tokens,
             CAST(CAST(SUM(COALESCE(pd.contam_tokens, 0)) AS HUGEINT) * 1000000
               // SUM(d.nw) AS BIGINT) AS contam_ppm
      FROM d LEFT JOIN pd USING (doc_id)
      GROUP BY d.source"""))

  // ---- q163: dedup method report card --------------------------------------
  /** q163: the side-by-side report a pipeline owner reads before choosing a
    * dedup stack — for each method, the candidate-pair count and how many
    * documents a keep-lowest-id sweep would drop (for exact dedup both roll
    * up from group sizes: k(k−1)/2 pairs, k−1 drops; for the pair-emitting
    * methods drops = distinct larger-id members). One number per method on
    * one screen is what makes the precision/recall trade discussable;
    * every underlying plan is reused verbatim (PlanCache collapses their
    * shared shingle/signature subtrees), and the oracle embeds each
    * method's oracle as a CTE so even the report is hash-gated.
    *
    * Scale shape: adds only |methods| 1-row aggregates on top of plans
    * that already exist. */
  val dedupReport: Q = Q(
    "q163_dedup_report",
    (s, dir) => {
      // the report reads MATERIALIZED method outputs (the production shape:
      // a nightly report over dedup results that already exist) — PlanCache
      // holds one persisted copy per method per (session, dir), so repeat
      // invocations aggregate cached pair sets instead of re-running four
      // inverted-index joins
      def mat(name: String, df: => DataFrame): DataFrame =
        graft.PlanCache.cached(s, s"q163_$name", dir, s"$dir/documents.parquet")(df)
      val ex = mat("exact", exact.run(s, dir)).filter(col("dup_count") >= 2)
        .agg(sum(expr("dup_count * (dup_count - 1) DIV 2")).as("n_pairs"),
          sum(col("dup_count") - 1).as("n_docs_dropped"))
        .select(lit("exact").as("method"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
      def pairMethod(name: String, df: => DataFrame): DataFrame =
        mat(name, df.select("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct("doc_b").as("n_docs_dropped"))
          .select(lit(name).as("method"), col("n_pairs"), col("n_docs_dropped"))
      // the ExactSubstr row (r16): sub-document grain, so the report's
      // units reinterpret — a "pair" is one maximal removal span, a
      // "dropped" doc is an EDITED doc (≥1 span removed); that contrast
      // against the document-drop methods is exactly what the report is
      // for (ExactSubstr keeps every document, it removes text mass)
      val es = mat("exactsubstr", exactSubstrSpans.run(s, dir))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("doc_id").as("n_docs_dropped"))
        .select(lit(s"exactsubstr_$esK").as("method"), col("n_pairs"),
          col("n_docs_dropped"))
      // the policy-comparison row (r17): same grain as exactsubstr, but
      // under the keep-first-occurrence policy — reading the two rows
      // side by side is the delete-all vs dedup policy decision
      val esKf = mat("exactsubstr_keepfirst", exactSubstrKeepFirst.run(s, dir))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("doc_id").as("n_docs_dropped"))
        .select(lit(s"exactsubstr_keepfirst_$esK").as("method"),
          col("n_pairs"), col("n_docs_dropped"))
      Seq(ex,
        pairMethod("ngram_jaccard", ngramJaccard.run(s, dir)),
        pairMethod("minhash_lsh", minhashLsh.run(s, dir)),
        pairMethod("edit_distance", editDistance.run(s, dir)),
        pairMethod("setsim_ppjoin", setSimJoin.run(s, dir)),
        es, esKf)
        .reduce(_ unionAll _)
    },
    Some {
      def pairSql(name: String, oracle: String): String =
        s"""SELECT '$name' AS method, count(1) AS n_pairs,
          count(DISTINCT doc_b) AS n_docs_dropped FROM ($oracle)"""
      s"""SELECT 'exact' AS method,
        CAST(COALESCE(SUM(dup_count * (dup_count - 1) // 2), 0) AS BIGINT) AS n_pairs,
        CAST(COALESCE(SUM(dup_count - 1), 0) AS BIGINT) AS n_docs_dropped
      FROM (${exact.oracle.get}) WHERE dup_count >= 2
      UNION ALL ${pairSql("ngram_jaccard", ngramJaccard.oracle.get)}
      UNION ALL ${pairSql("minhash_lsh", minhashLsh.oracle.get)}
      UNION ALL ${pairSql("edit_distance", editDistance.oracle.get)}
      UNION ALL ${pairSql("setsim_ppjoin", setSimJoin.oracle.get)}
      UNION ALL SELECT 'exactsubstr_$esK' AS method,
        count(1) AS n_pairs, count(DISTINCT doc_id) AS n_docs_dropped
      FROM (${exactSubstrSpans.oracle.get})
      UNION ALL SELECT 'exactsubstr_keepfirst_$esK' AS method,
        count(1) AS n_pairs, count(DISTINCT doc_id) AS n_docs_dropped
      FROM (${exactSubstrKeepFirst.oracle.get})"""
    })

  // ---- q206: memorization-span audit (13-gram duplication) -----------------
  private val memN = 13

  /** q206: the 13-gram memorization audit — per source, how many documents
    * contain at least one 13-word span that also occurs in ANOTHER
    * document, and the total duplicated-span mass. 13 words is the
    * standard span length for training-data memorization screens (long
    * enough that a match is essentially never chance, short enough to
    * catch partial template reuse that document-level dedup misses —
    * q13/q15 operate at document grain, q115 at character-window grain;
    * this is the word-span grain those screens report). Spans are
    * md5-hashed before any shuffle — 16-byte keys, never text.
    *
    * Distributed shape: one explode (per-doc distinct spans) → one
    * hash-keyed df count → one hash-keyed join back and a per-doc then
    * per-source roll-up. Candidate volume is span count (≈ words/doc −12
    * per doc), linear in the corpus; no pair expansion anywhere. */
  val memorizationSpans: Q = Q(
    "q206_memorization_spans",
    (s, dir) => {
      val spans = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= memN)
        .select(col("doc_id"), col("source"), explode(array_distinct(expr(
          s"transform(sequence(0, size(ws) - $memN), i -> md5(array_join(slice(ws, i + 1, $memN), ' ')))")))
          .as("h"))
      val dupHashes = spans.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2).select("h")
      val perDoc = spans.join(dupHashes, Seq("h"), "left_semi")
        .groupBy("doc_id", "source").agg(count(lit(1)).as("n_dup_spans"))
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("nw"))
        .filter(col("nw") >= memN)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      docs.join(
          perDoc.groupBy("source").agg(count(lit(1)).as("n_docs_at_risk"),
            sum("n_dup_spans").as("n_dup_spans")),
          Seq("source"), "left")
        .na.fill(0L, Seq("n_docs_at_risk", "n_dup_spans"))
        .select(col("source"), col("n_docs"), col("n_docs_at_risk"),
          col("n_dup_spans"),
          (col("n_docs_at_risk").cast("double") / col("n_docs").cast("double"))
            .as("risk_frac"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= $memN
      ), spans AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(
                 range(1, len(ws) - ${memN - 2}),
                 i -> md5(array_to_string(ws[i : i + ${memN - 1}], ' '))))) AS h
        FROM d
      ), duph AS (
        SELECT h FROM spans GROUP BY h HAVING count(1) >= 2
      ), per_doc AS (
        SELECT doc_id, source, count(1) AS n_dup_spans
        FROM spans SEMI JOIN duph USING (h)
        GROUP BY doc_id, source
      ), docs AS (
        SELECT source, count(1) AS n_docs FROM d GROUP BY source
      ), risk AS (
        SELECT source, count(1) AS n_docs_at_risk,
               CAST(SUM(n_dup_spans) AS BIGINT) AS n_dup_spans
        FROM per_doc GROUP BY source
      )
      SELECT d.source, d.n_docs,
             CAST(COALESCE(r.n_docs_at_risk, 0) AS BIGINT) AS n_docs_at_risk,
             CAST(COALESCE(r.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
             CAST(COALESCE(r.n_docs_at_risk, 0) AS DOUBLE)
               / CAST(d.n_docs AS DOUBLE) AS risk_frac
      FROM docs d LEFT JOIN risk r ON d.source = r.source"""))

  // ---- q218: dedup threshold sensitivity sweep -----------------------------
  /** q218: what each Jaccard threshold would do — for t ∈ {0.50, 0.55,
    * …, 0.95}, the surviving pair count and how many documents a
    * keep-lowest-id sweep would drop (q163's drop semantic: distinct
    * larger-id pair members). The threshold is the single most
    * consequential dedup dial and this is its dose-response curve: the
    * elbow where drops stop falling is where near-dups end and template
    * noise begins. Pairs are mined ONCE (q14's plan, PlanCache-shared);
    * the sweep is a 10-row broadcast grid over the pair table.
    *
    * FP shape: each pair's jaccard is the same exact int/int double both
    * engines compute; grid literals are identical text in both plans, so
    * every >= comparison decides identically.
    *
    * Distributed shape: pairs × 10 grid rows, one (t)-keyed aggregate
    * with a distinct count; 10 rows out. */
  val thresholdSweep: Q = Q(
    "q218_dedup_threshold_sweep",
    (s, dir) => {
      val pairs = ngramJaccard.run(s, dir).select("doc_a", "doc_b", "jaccard")
      val grid = (10 to 19).map(i => i / 20.0)
      val g = s.createDataFrame(
        s.sparkContext.parallelize(grid.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("t",
            org.apache.spark.sql.types.DoubleType))))
      // one pass: sweep-join once, aggregate, then grid left-joins the
      // ≤10-row aggregate so thresholds that kill every pair still appear
      // with zeros — the curve's tail is the point of the report
      val agg = pairs.crossJoin(broadcast(g))
        .filter(col("jaccard") >= col("t"))
        .groupBy("t")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("doc_b").as("n_docs_dropped"))
      g.join(broadcast(agg), Seq("t"), "left")
        .select(col("t"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
    },
    Some(s"""WITH pairs AS (
        ${ngramJaccard.oracle.get}
      ), grid AS (
        SELECT i / 20.0 AS t FROM (SELECT unnest(range(10, 20)) AS i)
      )
      SELECT g.t,
             CAST(COALESCE(SUM(CASE WHEN p.jaccard >= g.t THEN 1 END), 0) AS BIGINT)
               AS n_pairs,
             CAST(COALESCE(count(DISTINCT CASE WHEN p.jaccard >= g.t
               THEN p.doc_b END), 0) AS BIGINT) AS n_docs_dropped
      FROM grid g LEFT JOIN pairs p ON p.jaccard >= g.t
      GROUP BY g.t"""))

  // ---- q219: template-hub documents ----------------------------------------
  private val hubTopK = 50

  /** q219: the documents welded into the most near-dup pairs — pair-graph
    * degree ranking, top 50 with source and length. A handful of hub
    * documents (templates, navigation pages, license texts) typically
    * accounts for most of the pair volume, and removing THEM first
    * collapses the q40 mega-components that keep-lowest-id sweeps handle
    * worst; this is the triage list. Deterministic rank tuple (degree,
    * doc_id); degree counting shuffles only ids.
    *
    * Distributed shape: pair table → union of both endpoints → one
    * id-keyed count → TakeOrdered(50) → broadcast join back to the docs
    * scan for metadata. */
  val templateHubs: Q = Q(
    "q219_template_hubs",
    (s, dir) => {
      val pairs = ngramJaccard.run(s, dir)
      val deg = pairs.select(col("doc_a").as("doc_id"))
        .unionAll(pairs.select(col("doc_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
        .orderBy(col("degree").desc, col("doc_id").asc)
        .limit(hubTopK)
      broadcast(deg).join(
          Tables.documents(s, dir).select("doc_id", "source", "n_chars"), "doc_id")
        .select("doc_id", "degree", "source", "n_chars")
    },
    Some(s"""WITH pairs AS (
        ${ngramJaccard.oracle.get}
      ), deg AS (
        SELECT doc_id, count(1) AS degree FROM (
          SELECT doc_a AS doc_id FROM pairs
          UNION ALL SELECT doc_b AS doc_id FROM pairs
        ) GROUP BY doc_id
        ORDER BY degree DESC, doc_id ASC LIMIT $hubTopK
      )
      SELECT d.doc_id, d.degree, x.source, x.n_chars
      FROM deg d JOIN documents x ON d.doc_id = x.doc_id"""))

  // ---- q221: dedup method agreement (Cohen's kappa) ------------------------
  /** q221: chance-corrected agreement between two dedup stacks' doc-level
    * drop decisions — Cohen's kappa between the exact n-gram Jaccard sweep
    * (q14) and the MinHash-LSH sweep (q15), both under the keep-lowest-id
    * rule (a doc is dropped iff it appears as the larger id of any pair,
    * q163's definition). q163 counts each method's drops side by side;
    * kappa is the missing pairwise number — raw agreement is inflated by
    * the ~never-dropped majority, and kappa is what tells a pipeline owner
    * whether the cheap method is a safe substitute for the exact one.
    *
    * FP/overflow shape: the 2×2 contingency is exact BIGINT; kappa's
    * closed form κ = (N·(n11+n00) − pe)/(N² − pe) with
    * pe = mA·mB + (N−mA)(N−mB) needs N²-sized products, so the products
    * are computed in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — neither
    * wraps below 10^19 docs — with ONE final double division.
    *
    * Distributed shape: both pair frames already exist (PlanCache); the
    * drop sets are distinct projections of doc_b; the contingency is one
    * aggregate over documents left-joined to two broadcast-sized drop
    * sets. Output is a single row. */
  val methodKappa: Q = Q(
    "q221_dedup_method_kappa",
    (s, dir) => {
      val dropsA = ngramJaccard.run(s, dir).select(col("doc_b").as("doc_id"))
        .distinct().withColumn("fa", lit(1L))
      val dropsB = minhashLsh.run(s, dir).select(col("doc_b").as("doc_id"))
        .distinct().withColumn("fb", lit(1L))
      val f = Tables.documents(s, dir).select("doc_id")
        .join(dropsA, Seq("doc_id"), "left")
        .join(dropsB, Seq("doc_id"), "left")
        .na.fill(0L, Seq("fa", "fb"))
      val c = f.agg(count(lit(1)).as("n_docs"),
        sum("fa").as("dropped_a"), sum("fb").as("dropped_b"),
        sum(col("fa") * col("fb")).as("both_dropped"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      c.select(col("n_docs"), col("dropped_a"), col("dropped_b"),
          col("both_dropped"),
          (col("dropped_a") - col("both_dropped")).as("only_a"),
          (col("dropped_b") - col("both_dropped")).as("only_b"),
          (col("n_docs") - col("dropped_a") - col("dropped_b")
            + col("both_dropped")).as("neither"))
        .withColumn("agree_frac",
          (col("both_dropped") + col("neither")).cast("double")
            / col("n_docs").cast("double"))
        .withColumn("pe_num",
          dec(col("dropped_a")) * dec(col("dropped_b"))
            + dec(col("n_docs") - col("dropped_a"))
            * dec(col("n_docs") - col("dropped_b")))
        .withColumn("kappa",
          when(dec(col("n_docs")) * dec(col("n_docs")) > col("pe_num"),
            (dec(col("n_docs")) * dec(col("both_dropped") + col("neither"))
              - col("pe_num")).cast("double")
              / (dec(col("n_docs")) * dec(col("n_docs"))
                - col("pe_num")).cast("double")))
        .drop("pe_num")
    },
    Some(s"""WITH pa AS (
        SELECT DISTINCT doc_b AS doc_id FROM (${ngramJaccard.oracle.get})
      ), pb AS (
        SELECT DISTINCT doc_b AS doc_id FROM (${minhashLsh.oracle.get})
      ), f AS (
        SELECT d.doc_id,
               CASE WHEN pa.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fa,
               CASE WHEN pb.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fb
        FROM documents d
        LEFT JOIN pa ON d.doc_id = pa.doc_id
        LEFT JOIN pb ON d.doc_id = pb.doc_id
      ), c AS (
        SELECT CAST(count(1) AS BIGINT) AS n,
               CAST(SUM(fa) AS BIGINT) AS m_a,
               CAST(SUM(fb) AS BIGINT) AS m_b,
               CAST(SUM(fa * fb) AS BIGINT) AS n11
        FROM f
      )
      SELECT n AS n_docs, m_a AS dropped_a, m_b AS dropped_b,
             n11 AS both_dropped,
             m_a - n11 AS only_a, m_b - n11 AS only_b,
             n - m_a - m_b + n11 AS neither,
             CAST(n11 + (n - m_a - m_b + n11) AS DOUBLE)
               / CAST(n AS DOUBLE) AS agree_frac,
             CASE WHEN CAST(n AS HUGEINT) * n
                       > CAST(m_a AS HUGEINT) * m_b
                         + CAST(n - m_a AS HUGEINT) * (n - m_b)
               THEN CAST(CAST(n AS HUGEINT) * (n11 + (n - m_a - m_b + n11))
                           - (CAST(m_a AS HUGEINT) * m_b
                              + CAST(n - m_a AS HUGEINT) * (n - m_b)) AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * n
                           - (CAST(m_a AS HUGEINT) * m_b
                              + CAST(n - m_a AS HUGEINT) * (n - m_b)) AS DOUBLE)
               END AS kappa
      FROM c"""))

  // ---- q228: LSH banding S-curve -------------------------------------------
  /** Closed-form banded-MinHash catch probability 1−(1−s^r)^b at each
    * Jaccard-decile midpoint, computed ONCE here on the driver and embedded
    * as the identical literal in both plans — pow is not cross-engine
    * bit-stable, so neither engine evaluates it. */
  private val sCurveTheory: Seq[(Int, Double, Double)] = (0 until 10).map { k =>
    val mid = (k + 0.5) / 10.0
    (k, mid, 1.0 - math.pow(1.0 - math.pow(mid, perBand), bands))
  }

  /** q228: the measured S-curve of q15's banding (16 minhashes, 4 bands × 4
    * rows) — per exact-Jaccard decile over the shared-shingle pair
    * universe: pair count, how many the band join actually caught, the
    * empirical catch rate, and the textbook 1−(1−s^r)^b value at the
    * bucket midpoint. q144 grades the END of the pipeline (one precision/
    * recall point at the 0.5 threshold); this is the whole dial curve — the
    * evidence for choosing (b, r) that an LSH tuning note cites, and the
    * alarm that fires when the hash family degrades at SOME similarity
    * level (e.g. banding bug catching high-J pairs only).
    *
    * FP shape: exact Jaccard is the same int/int double both engines
    * compute; bucket = FLOOR(j·10) capped at 9 decides identically on
    * identical doubles; catch counting is integers; the empirical rate is
    * one BIGINT/BIGINT division; theory values are embedded literals.
    *
    * Distributed shape: reuses the shared all-shingle posting table for the
    * truth join (the cost q144 already pays) and q15's cached signature
    * table for the candidate set; the grade is one pair-keyed left join +
    * a 10-row aggregate, then the 10-row grid left-joins the aggregate
    * (q218's one-pass zero-tail idiom). */
  val lshSCurve: Q = Q(
    "q228_lsh_s_curve",
    (s, dir) => {
      val ng = ngramRows(s, dir)
      val sizes = ng.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // no broadcast hint on the doc-count-sized frame (see q14's note)
      val ngN = ng.join(sizes, "doc_id")
      // the shared-shingle pair universe with EXACT jaccard, unfiltered —
      // q144's truth join without the ≥0.5 cut (the curve's low buckets
      // are the point; no size-ratio prune, it would bias them)
      val pairs = ngN.as("a").join(ngN.as("b"),
          col("a.ngram") === col("b.ngram") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("common"),
          min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
        .withColumn("jaccard",
          col("common") / (col("na") + col("nb") - col("common")))
        .withColumn("bucket", least(lit(9L), floor(col("jaccard") * 10)))
      val cand = bandRowsOf(corpusSigs(s, dir)).as("a")
        .join(bandRowsOf(corpusSigs(s, dir)).as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_hash") === col("b.band_hash")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct().withColumn("hit", lit(1L))
      val agg = pairs.join(cand, Seq("doc_a", "doc_b"), "left")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"), sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      val grid = s.createDataFrame(
        s.sparkContext.parallelize(sCurveTheory.map { case (k, mid, th) =>
          org.apache.spark.sql.Row(k.toLong, mid, th) }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bucket",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("mid_jaccard",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("theory_catch",
            org.apache.spark.sql.types.DoubleType))))
      grid.join(broadcast(agg), Seq("bucket"), "left")
        .select(col("bucket"), col("mid_jaccard"), col("theory_catch"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_caught"), lit(0L)).as("n_caught"),
          when(coalesce(col("n_pairs"), lit(0L)) > 0,
            col("n_caught").cast("double") / col("n_pairs").cast("double"))
            .as("empirical_catch"))
    },
    Some {
      val gridSql = sCurveTheory.map { case (k, mid, th) =>
        s"($k, ${graft.SqlLit.double(mid)}, ${graft.SqlLit.double(th)})"
      }.mkString(", ")
      s"""WITH $sigCtesSql, cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
      ), tsz AS (
        SELECT doc_id, count(1) AS n FROM ngr GROUP BY doc_id
      ), tpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS common
        FROM ngr a JOIN ngr b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      ), jp AS (
        SELECT p.doc_a, p.doc_b,
               LEAST(9, CAST(FLOOR(p.common / (sa.n + sb.n - p.common) * 10)
                 AS BIGINT)) AS bucket
        FROM tpairs p
        JOIN tsz sa ON p.doc_a = sa.doc_id
        JOIN tsz sb ON p.doc_b = sb.doc_id
      ), agg AS (
        SELECT jp.bucket, CAST(count(1) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_caught
        FROM jp LEFT JOIN cand c
          ON jp.doc_a = c.doc_a AND jp.doc_b = c.doc_b
        GROUP BY jp.bucket
      ), grid(bucket, mid_jaccard, theory_catch) AS (VALUES $gridSql)
      SELECT CAST(g.bucket AS BIGINT) AS bucket, g.mid_jaccard, g.theory_catch,
             CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
             CAST(COALESCE(a.n_caught, 0) AS BIGINT) AS n_caught,
             CASE WHEN COALESCE(a.n_pairs, 0) > 0
                  THEN CAST(a.n_caught AS DOUBLE) / CAST(a.n_pairs AS DOUBLE)
             END AS empirical_catch
      FROM grid g LEFT JOIN agg a ON g.bucket = a.bucket"""
    })

  // ---- q238: winnowing fingerprint overlap ---------------------------------

  /** q238's shape: word k-grams, window of [[winnowW]] consecutive k-gram
    * hashes, hub guard at [[winnowDfCap]] docs per fingerprint. */
  private val winnowK = 3
  private val winnowW = 4
  private val winnowDfCap = 100
  // report floor: one or two shared fingerprints is dominated by chance
  // phrase collisions on this small-vocabulary corpus (sf0.1: 8177 of 8581
  // pairs shared exactly two; at three the 8.5k collapses to the 400 pairs
  // the other miners also see) — the floor is the corpus-noise dial a real
  // deployment tunes, and it keeps the output match-mass-bounded instead of
  // chance-pair-quadratic
  private val winnowMinShared = 3

  /** q238: document-overlap detection via WINNOWING fingerprints (Schleimer,
    * Wilkerson & Aiken, SIGMOD 2003 — the MOSS algorithm): hash every word
    * [[winnowK]]-gram, slide a window of [[winnowW]] consecutive hashes, and
    * select from each window its minimum hash, ties broken RIGHTMOST. The
    * paper's guarantee carries over verbatim: any shared run of at least
    * w + k − 1 = 6 words between two documents shares at least one SELECTED
    * fingerprint, while the expected density of selected positions is only
    * 2/(w+1) of all k-grams — a guaranteed-recall sketch at a fraction of
    * q115's all-windows index cost. Windows shorter than w at a document's
    * head still select their running min (warm-up windows), which only adds
    * fingerprints, so the guarantee is preserved.
    *
    * Rightmost-argmin without a self-join: the windowed aggregate
    * MIN(struct(hash, −pos)) is lexicographic in both engines, so its
    * struct minimum IS (min hash, rightmost position) — one window pass
    * instead of the textbook pointer walk, and identical SQL oracles it.
    *
    * Distributed shape: explode → one per-doc window pass (partitioned by
    * doc, never global) → distinct selected (doc, hash) → group-by-hash
    * pair expansion, hub-capped at [[winnowDfCap]] docs per fingerprint
    * (the q115 boilerplate guard; a 100 TB run tunes the cap, the planted
    * overlaps here sit far below it). Output is pair-mass-bounded:
    * (doc_a, doc_b, shared fingerprint count, each side's fingerprint
    * count, integer containment per mille). */
  val winnowingOverlap: Q = Q(
    "q238_winnowing_overlap",
    (s, dir) => {
      val w = Window.partitionBy("doc_id").orderBy("p")
        .rowsBetween(-(winnowW - 1), Window.currentRow)
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .filter(size(col("words")) >= winnowK)
        .select(col("doc_id"), posexplode(expr(
          s"""transform(sequence(0, size(words) - $winnowK),
              i -> md5(concat('wfp|', words[i], ' ', words[i + 1],
                              ' ', words[i + 2])))""")))
        .toDF("doc_id", "p", "h")
      // The selected-fingerprint table feeds FOUR sites of this plan
      // (per-doc counts, the hub filter, and both sides of the pair
      // expansion); un-shared, each site replayed the whole
      // scan→explode→window→distinct chain — 7 parquet scans / 7 Window
      // passes in the r19 plan audit, none reused (the exchanges sit BELOW
      // the per-site aggregates, so even AQE exchange reuse could not
      // collapse the window re-runs). One bounded materialized copy per
      // (session, dir) — the q111_pre/q14_ngr discipline (guide §2.4):
      // 1 chain + 4 in-memory scans, fingerprint-keyed for staleness.
      val fps = graft.PlanCache.cached(s, "q238_fps", dir,
        s"$dir/documents.parquet") {
        grams
          .withColumn("sel", min(struct(col("h"), (-col("p")).as("np")))
            .over(w))
          .select(col("doc_id"), col("sel.h").as("fp")).distinct()
      }
      val perDoc = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= winnowDfCap).select("fp")
      val pairs = fps.join(keep, Seq("fp"))
        .select(col("fp"), col("doc_id").as("doc_a"))
        .join(fps.join(keep, Seq("fp"))
          .select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= winnowMinShared)
      pairs
        .join(perDoc.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n_fp", "n_fp_a"), Seq("doc_a"))
        .join(perDoc.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n_fp", "n_fp_b"), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          col("n_fp_a"), col("n_fp_b"),
          expr("CAST((n_shared * 1000) div least(n_fp_a, n_fp_b) AS BIGINT)")
            .as("containment_pm"))
    },
    // CTE materialization: the fingerprint-selection CTE feeds both sides
    // of the overlap self-join; un-hinted DuckDB re-executes the selection
    // per side (measured 12.5 s vs 5.5 s at sf0.1, identical rows)
    Some(graft.OracleSql.materializeCtes(s"""WITH docsw AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= $winnowK
      ), positions AS (
        SELECT doc_id, words,
               unnest(range(1, len(words) - ${winnowK - 2})) AS i
        FROM docsw
      ), grams AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
               md5('wfp|' || words[i] || ' ' || words[i + 1]
                   || ' ' || words[i + 2]) AS h
        FROM positions
      ), sel AS (
        SELECT doc_id,
               MIN({'h': h, 'np': -p}) OVER (
                 PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN ${winnowW - 1} PRECEDING AND CURRENT ROW)
                 AS s
        FROM grams
      ), fps AS (
        SELECT DISTINCT doc_id, s['h'] AS fp FROM sel
      ), per_doc AS (
        SELECT doc_id, CAST(count(1) AS BIGINT) AS n_fp
        FROM fps GROUP BY doc_id
      ), keep AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(1) <= $winnowDfCap
      ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(1) AS BIGINT) AS n_shared
        FROM fps a JOIN keep USING (fp) JOIN fps b USING (fp)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(1) >= $winnowMinShared
      )
      SELECT doc_a, doc_b, n_shared, pa.n_fp AS n_fp_a, pb.n_fp AS n_fp_b,
             CAST((n_shared * 1000) // LEAST(pa.n_fp, pb.n_fp) AS BIGINT)
               AS containment_pm
      FROM pairs
      JOIN per_doc pa ON pairs.doc_a = pa.doc_id
      JOIN per_doc pb ON pairs.doc_b = pb.doc_id""")))

  // ---- q245: multi-pass sorted-neighborhood dedup --------------------------
  private val snmW = 4         // window: each doc pairs with the next w-1
  private val snmKeyLen = 12   // blocking-key prefix length (non-space chars)
  private val snmFloorPm = 400 // report floor on verified Jaccard, per mille

  /** Global rank of every doc under `key` (ties by doc_id) WITHOUT a
    * one-task sort: the q100 two-phase shape — bucket by the key's 2-char
    * prefix (bucket order IS key-prefix order, so per-bucket ranks + the
    * broadcast cumulative bucket offsets compose to the exact global rank).
    * At 100 TB substitute repartitionByRange with sampled boundaries for
    * the fixed prefix buckets — same algebra, skew-proof. */
  private def snmRanks(docs: DataFrame, key: Column): DataFrame = {
    val keyed = docs.select(col("doc_id"), key.as("k"))
      .withColumn("bucket", substring(col("k"), 1, 2))
    val offsets = keyed.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(
        sum("bn").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "off")
    keyed.join(broadcast(offsets), Seq("bucket"))
      .withColumn("r", col("off") + row_number().over(
        Window.partitionBy("bucket").orderBy(col("k"), col("doc_id"))))
      .select(col("doc_id"), col("r"))
  }

  /** In-window candidate pairs for one pass: each rank r meets ranks
    * r+1 .. r+w−1 — exactly n·(w−1) candidates, joined on 8-byte integer
    * rank keys (never on text). */
  private def snmPairs(ranks: DataFrame): DataFrame = {
    val probes = ranks.select(col("doc_id").as("da"),
      explode(sequence(col("r") + 1, col("r") + (snmW - 1))).as("pr"))
    probes.join(ranks.select(col("doc_id").as("db"), col("r").as("pr")), Seq("pr"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
  }

  /** q245: the classic SORTED NEIGHBORHOOD method (Hernández & Stolfo,
    * SIGMOD 1995): order the corpus by a cheap blocking key, slide a fixed
    * window of [[snmW]] consecutive docs, verify every in-window pair
    * exactly. Two passes with complementary keys — the first [[snmKeyLen]]
    * and the reversed last [[snmKeyLen]] non-space lowercase chars — the
    * textbook multi-pass variant: a shared body behind a differing prefix
    * sorts far apart in pass 1 but adjacent in pass 2 (`n_passes` reports
    * which passes proposed each surviving pair).
    *
    * Complements the repo's other candidate generators: LSH (q15/q16)
    * trades recall probabilistically and q111's prefix filter needs the
    * similarity threshold up front; SNM's candidate volume is EXACTLY
    * n·(w−1) per pass regardless of data distribution — the one generator
    * whose cost is tunable to a hard budget before verification. Verify is
    * exact 3-shingle Jaccard over the shared posting frame (candidate-
    * bounded; zero-overlap candidates die in the inner join). */
  val sortedNeighborhood: Q = Q(
    "q245_sorted_neighborhood",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val flat = lower(translate(col("text"), " ", ""))
      val k1 = substring(flat, 1, snmKeyLen)
      val k2 = substring(reverse(flat), 1, snmKeyLen)
      val cand = snmPairs(snmRanks(docs, k1)).withColumn("pass", lit(1))
        .union(snmPairs(snmRanks(docs, k2)).withColumn("pass", lit(2)))
        .groupBy("doc_a", "doc_b")
        .agg(countDistinct(col("pass")).as("n_passes"))
      val sh = allShingleRows(s, dir).select("doc_id", "ngram")
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("ngram")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("ngram")), Seq("doc_b", "ngram"))
        .groupBy("doc_a", "doc_b", "n_passes").agg(count(lit(1)).as("inter"))
      // no broadcast hints: `sizes` is doc-count-proportional (q14's note);
      // `inter` is candidate-bounded (n·(w−1) per pass) and both joins key
      // on a doc id, so at scale these are co-keyed shuffle joins and AQE
      // broadcasts the small side at tested sf on its own
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
          Seq("doc_b"))
        .withColumn("j_pm",
          expr("CAST((inter * 1000) div (n_a + n_b - inter) AS BIGINT)"))
        .filter(col("j_pm") >= snmFloorPm)
        .select("doc_a", "doc_b", "n_passes", "inter", "n_a", "n_b", "j_pm")
    },
    Some(s"""WITH base AS (
        SELECT doc_id, text, replace(lower(text), ' ', '') AS flat FROM documents
      ), k1r AS (
        SELECT doc_id, row_number() OVER (
          ORDER BY substring(flat, 1, $snmKeyLen), doc_id) AS r FROM base
      ), k2r AS (
        SELECT doc_id, row_number() OVER (
          ORDER BY substring(reverse(flat), 1, $snmKeyLen), doc_id) AS r FROM base
      ), cand AS (
        SELECT doc_a, doc_b, CAST(count(DISTINCT pass) AS BIGINT) AS n_passes
        FROM (
          SELECT least(a.doc_id, b.doc_id) AS doc_a,
                 greatest(a.doc_id, b.doc_id) AS doc_b, 1 AS pass
          FROM k1r a JOIN k1r b ON b.r > a.r AND b.r <= a.r + ${snmW - 1}
          UNION ALL
          SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id), 2
          FROM k2r a JOIN k2r b ON b.r > a.r AND b.r <= a.r + ${snmW - 1}
        ) GROUP BY doc_a, doc_b
      ), docs AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), ng AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words)-1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS ngram
        FROM docs
      ), sizes AS (
        SELECT doc_id, CAST(count(1) AS BIGINT) AS n FROM ng GROUP BY doc_id
      ), ix AS (
        SELECT c.doc_a, c.doc_b, c.n_passes, CAST(count(1) AS BIGINT) AS inter
        FROM cand c
        JOIN ng a ON a.doc_id = c.doc_a
        JOIN ng b ON b.doc_id = c.doc_b AND b.ngram = a.ngram
        GROUP BY c.doc_a, c.doc_b, c.n_passes
      )
      SELECT i.doc_a, i.doc_b, i.n_passes, i.inter, sa.n AS n_a, sb.n AS n_b,
             CAST((i.inter * 1000) // (sa.n + sb.n - i.inter) AS BIGINT) AS j_pm
      FROM ix i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
      WHERE (i.inter * 1000) // (sa.n + sb.n - i.inter) >= $snmFloorPm"""))

  // ---- q251: MinHash estimator-error audit ---------------------------------
  /** q251: how accurate is the 16-hash MinHash estimate itself? q144 grades
    * the LSH CANDIDATE SET (recall/precision of who collides); this grades
    * the ESTIMATOR (how far agree/16 sits from the true Jaccard) — the
    * number that decides how many hashes a production dedup needs before
    * trusting `est_jaccard ≥ τ` as a verdict rather than a prefilter. Per
    * LSH candidate pair: estimated Jaccard (signature agreement / 16) vs
    * EXACT shingle Jaccard over the identical trigram universe, both
    * quantized to permille in integer space; rolled up per agreement level
    * (the estimator's entire support — at most 17 output rows) as pair
    * count, mean exact Jaccard, mean |error| and max |error|.
    *
    * FP shape: everything integer until two final divisions of exact
    * BIGINTs (j_pm ≤ 1000, counts ≪ 2^40 — both sums < 2^53, so the double
    * casts are value-exact in both engines; the q240 discipline).
    *
    * Distributed shape: candidates from the cached signature table's band
    * self-join (the q15 path — collision-bounded, never all-pairs); exact
    * intersections via two candidate-bounded joins against the shared
    * all-shingle posting table (the q245 verify idiom); the rollup is a
    * ≤17-group aggregate. No doc-count frame carries a broadcast hint. */
  val minhashEstimatorError: Q = Q(
    "q251_minhash_estimator_error",
    (s, dir) => {
      val sigs = corpusSigs(s, dir)
      val bandRows = bandRowsOf(sigs)
      val cand = bandRows.as("a").join(bandRows.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val agreed = cand
        .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"), sigAgreement.as("agree"))
      val sh = ngramRows(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = agreed.select("doc_a", "doc_b")
        .join(sh.select(col("doc_id").as("doc_a"), col("ngram")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("ngram")),
          Seq("doc_b", "ngram"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      // left join + fill 0: a shared band hash implies a shared argmin
      // shingle (md5 collisions aside), but the audit must SHOW inter=0
      // rather than silently drop the pair if that invariant ever breaks
      val per = agreed
        .join(inter, Seq("doc_a", "doc_b"), "left").na.fill(0L, Seq("inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .withColumn("est_pm", expr("CAST((agree * 1000) div 16 AS BIGINT)"))
        .withColumn("j_pm", expr(
          "CAST((inter * 1000) div (na + nb - inter) AS BIGINT)"))
      per.groupBy("agree")
        .agg(count(lit(1)).as("n_pairs"),
          (sum("j_pm").cast("double") / count(lit(1)).cast("double"))
            .as("mean_exact_pm"),
          (sum(abs(col("est_pm") - col("j_pm"))).cast("double")
            / count(lit(1)).cast("double")).as("mean_abs_err_pm"),
          max(abs(col("est_pm") - col("j_pm"))).cast("long")
            .as("max_abs_err_pm"))
    },
    Some {
      s"""WITH $sigCtesSql, cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
      ), agreed AS (
        SELECT c.doc_a, c.doc_b, CAST($agreeSql AS BIGINT) AS agree
        FROM cand c
        JOIN sigs sa ON c.doc_a = sa.doc_id
        JOIN sigs sb ON c.doc_b = sb.doc_id
      ), sz AS (
        SELECT doc_id, CAST(count(1) AS BIGINT) AS n FROM ngr GROUP BY doc_id
      ), ix AS (
        SELECT g.doc_a, g.doc_b, CAST(count(1) AS BIGINT) AS inter
        FROM agreed g
        JOIN ngr pa ON pa.doc_id = g.doc_a
        JOIN ngr pb ON pb.doc_id = g.doc_b AND pb.ngram = pa.ngram
        GROUP BY g.doc_a, g.doc_b
      ), per AS (
        SELECT g.agree,
               CAST((g.agree * 1000) // 16 AS BIGINT) AS est_pm,
               CAST((COALESCE(ix.inter, 0) * 1000)
                 // (za.n + zb.n - COALESCE(ix.inter, 0)) AS BIGINT) AS j_pm
        FROM agreed g
        LEFT JOIN ix ON ix.doc_a = g.doc_a AND ix.doc_b = g.doc_b
        JOIN sz za ON za.doc_id = g.doc_a
        JOIN sz zb ON zb.doc_id = g.doc_b
      )
      SELECT agree, CAST(count(1) AS BIGINT) AS n_pairs,
             CAST(SUM(j_pm) AS DOUBLE) / CAST(count(1) AS DOUBLE)
               AS mean_exact_pm,
             CAST(SUM(ABS(est_pm - j_pm)) AS DOUBLE) / CAST(count(1) AS DOUBLE)
               AS mean_abs_err_pm,
             CAST(MAX(ABS(est_pm - j_pm)) AS BIGINT) AS max_abs_err_pm
      FROM per GROUP BY agree"""
    })

  // ---- q256: unified blocking-quality report --------------------------------
  /** q256: the record-linkage textbook's two blocking metrics — REDUCTION
    * RATIO (how much of the n·(n−1)/2 pair space the generator prunes) and
    * PAIRS COMPLETENESS (what fraction of the true ≥0.5-Jaccard pairs its
    * candidates still contain) — for the repo's three candidate
    * generators side by side: banded MinHash-LSH (q15's collision set),
    * 2-pass sorted neighborhood (q245's window pairs), and the
    * rare-shingle inverted index (q14's collision set). q144 grades LSH
    * alone and q221 grades method AGREEMENT; this is the RR/PC frontier
    * that says which generator buys the most recall per candidate — the
    * number that picks the blocking strategy before a 100 TB run.
    *
    * All metrics are exact integers (permille via integer division; truth
    * from the exact all-shingle Jaccard over the shared posting table).
    * The candidate universe is the shingle-eligible docs (≥3 words) for
    * all three methods — SNM windows over the full corpus, then its pairs
    * are restricted to that universe so the three generators are graded
    * against the identical truth and denominator.
    *
    * Distributed shape: the exact-truth self-join is the one expensive
    * stage, PlanCache-materialized once per (session, dir) — the same
    * maintained-materialization cost q144 already pays, shared across
    * this query's three grades. Everything else is candidate-bounded. */
  val blockingQuality: Q = Q(
    "q256_blocking_quality",
    (s, dir) => {
      val sh = ngramRows(s, dir)
      val eligible = sh.select("doc_id").distinct()
      val truth = graft.PlanCache.cached(s, "q256_truth", dir,
          s"$dir/documents.parquet") {
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val shN = sh.join(sizes, "doc_id")
        shN.as("a").join(shN.as("b"),
            col("a.ngram") === col("b.ngram") && col("a.doc_id") < col("b.doc_id")
              && col("a.n") <= lit(2) * col("b.n")
              && col("b.n") <= lit(2) * col("a.n"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("common"),
            min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
          .filter(col("common") / (col("na") + col("nb") - col("common")) >= 0.5)
          .select("doc_a", "doc_b")
      }
      // method 1: banded-LSH collisions (q15's candidate stage)
      val bandRows = bandRowsOf(corpusSigs(s, dir))
      val lshCand = bandRows.as("a").join(bandRows.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // method 2: 2-pass sorted neighborhood (q245's candidate stage)
      val docs = Tables.documents(s, dir)
      val flat = lower(translate(col("text"), " ", ""))
      val snmCand = snmPairs(snmRanks(docs, substring(flat, 1, snmKeyLen)))
        .union(snmPairs(snmRanks(docs, substring(reverse(flat), 1, snmKeyLen))))
      // method 3: rare-shingle inverted-index collisions (q14's stage)
      val rare = rareShingleRows(s, dir)
      val rareCand = rare.as("a").join(rare.as("b"),
          col("a.ngram") === col("b.ngram") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      def grade(name: String, cand0: DataFrame): DataFrame = {
        val cand = cand0
          .join(eligible.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
          .join(eligible.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
          .distinct()
        // one pass per generator (r17): a left join against the persisted
        // truth carries a hit flag, so n_cand and n_hit come out of ONE
        // aggregate — the former two-agg crossJoin evaluated the whole
        // candidate join twice per method (6 evaluations for 3 grades)
        cand.join(truth.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_cand"),
            coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
          .select(lit(name).as("method"), col("n_cand"), col("n_hit"))
      }
      val universe = eligible.agg(count(lit(1)).as("nu"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      grade("lsh_banded", lshCand)
        .unionByName(grade("snm_2pass", snmCand))
        .unionByName(grade("rare_shingle", rareCand))
        .crossJoin(broadcast(universe)).crossJoin(broadcast(nTruth))
        .select(col("method"), col("n_cand"), col("n_truth"), col("n_hit"),
          expr("""CASE WHEN n_truth = 0 THEN NULL
                  ELSE CAST((n_hit * 1000) div n_truth AS BIGINT) END""")
            .as("pc_pm"),
          expr("""CAST(1000 - (n_cand * 1000) div ((nu * (nu - 1)) div 2)
                  AS BIGINT)""").as("rr_pm"))
    },
    Some {
      s"""WITH $sigCtesSql, sz AS (
        SELECT doc_id, CAST(count(1) AS BIGINT) AS n FROM ngr GROUP BY doc_id
      ), tp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(1) AS BIGINT) AS c
        FROM ngr a JOIN ngr b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ), truth AS (
        SELECT t.doc_a, t.doc_b
        FROM tp t JOIN sz za ON t.doc_a = za.doc_id
        JOIN sz zb ON t.doc_b = zb.doc_id
        WHERE CAST(t.c AS DOUBLE) / CAST(za.n + zb.n - t.c AS DOUBLE) >= 0.5
      ), elig AS (
        SELECT DISTINCT doc_id FROM ngr
      ), lsh_cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
      ), base AS (
        SELECT doc_id, replace(lower(text), ' ', '') AS flat FROM documents
      ), k1r AS (
        SELECT doc_id, row_number() OVER (
          ORDER BY substring(flat, 1, $snmKeyLen), doc_id) AS r FROM base
      ), k2r AS (
        SELECT doc_id, row_number() OVER (
          ORDER BY substring(reverse(flat), 1, $snmKeyLen), doc_id) AS r FROM base
      ), snm_cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
          SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
                 GREATEST(a.doc_id, b.doc_id) AS doc_b
          FROM k1r a JOIN k1r b ON b.r > a.r AND b.r <= a.r + ${snmW - 1}
          UNION ALL
          SELECT LEAST(a.doc_id, b.doc_id), GREATEST(a.doc_id, b.doc_id)
          FROM k2r a JOIN k2r b ON b.r > a.r AND b.r <= a.r + ${snmW - 1}
        ) p
        JOIN elig ea ON p.doc_a = ea.doc_id
        JOIN elig eb ON p.doc_b = eb.doc_id
      ), rare AS (
        SELECT ngram FROM ngr GROUP BY ngram
        HAVING count(1) >= 2 AND count(1) <= $maxDf
      ), rr AS (
        SELECT n.doc_id, n.ngram FROM ngr n JOIN rare USING (ngram)
      ), rare_cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rr a JOIN rr b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
      ), methods AS (
        SELECT 'lsh_banded' AS method, doc_a, doc_b FROM lsh_cand
        UNION ALL SELECT 'snm_2pass', doc_a, doc_b FROM snm_cand
        UNION ALL SELECT 'rare_shingle', doc_a, doc_b FROM rare_cand
      ), grades AS (
        SELECT m.method, CAST(count(1) AS BIGINT) AS n_cand,
               CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hit
        FROM methods m
        LEFT JOIN truth t ON m.doc_a = t.doc_a AND m.doc_b = t.doc_b
        GROUP BY m.method
      ), u AS (
        SELECT CAST(count(1) AS BIGINT) AS nu FROM elig
      ), nt AS (
        SELECT CAST(count(1) AS BIGINT) AS n_truth FROM truth
      )
      SELECT g.method, g.n_cand, nt.n_truth, g.n_hit,
             CASE WHEN nt.n_truth = 0 THEN NULL
                  ELSE CAST((g.n_hit * 1000) // nt.n_truth AS BIGINT) END
               AS pc_pm,
             CAST(1000 - (g.n_cand * 1000) // ((u.nu * (u.nu - 1)) // 2)
               AS BIGINT) AS rr_pm
      FROM grades g CROSS JOIN u CROSS JOIN nt"""
    })

  // ---- q257: SimHash bit-balance audit --------------------------------------
  /** q257: per-bit 1-frequency of the corpus's SimHash signatures — the
    * sketch-health diagnostic for q16. SimHash's collision bound assumes
    * each signature bit is ~balanced over the corpus; a bit pinned near
    * 0‰ or 1000‰ contributes no discrimination, so k biased bits turn the
    * nominal 64-bit / 6-bit-radius guarantee into a (64−k)-bit one and
    * inflate band collisions. One row per bit with its 1-count and the
    * absolute skew from the balanced 500‰ — the table that says whether
    * the token-hash family is mixing before anyone trusts q16's
    * near-dup counts at scale.
    *
    * Reads the cached q16 signature table (band keys are nonnegative
    * 16-bit values, so bit extraction never touches the sign bit) and
    * aggregates 64 × n_docs bits into 64 rows — integer-exact end to end,
    * grouped on a constant-64 key space. */
  val simhashBitBalance: Q = Q(
    "q257_simhash_bit_balance",
    (s, dir) => {
      val bits = simhashSigs(s, dir)
        .select(col("doc_id"), explode(sequence(lit(0), lit(63))).as("bit"),
          col("k0"), col("k1"), col("k2"), col("k3"))
        .withColumn("v", expr(
          """(CASE (bit div 16) WHEN 0 THEN k0 WHEN 1 THEN k1
                              WHEN 2 THEN k2 ELSE k3 END
              div CAST(pow(2, bit % 16) AS BIGINT)) % 2"""))
      bits.groupBy("bit")
        .agg(count(lit(1)).as("n_docs"), sum("v").as("n_ones"))
        .select(col("bit").cast("long").as("bit"), col("n_docs"),
          col("n_ones").cast("long").as("n_ones"),
          expr("CAST((n_ones * 1000) div n_docs AS BIGINT)").as("ones_pm"),
          expr("CAST(abs(n_ones * 2000 - n_docs * 1000) div (2 * n_docs) AS BIGINT)")
            .as("skew_pm"))
    },
    Some {
      s"""WITH $simhashCtesSql, bits AS (
        SELECT s.doc_id, g.b AS bit,
               ((CASE (g.b // 16) WHEN 0 THEN s.k0 WHEN 1 THEN s.k1
                                WHEN 2 THEN s.k2 ELSE s.k3 END
                 // CAST(2 ** (g.b % 16) AS BIGINT)) % 2) AS v
        FROM sig s CROSS JOIN (SELECT unnest(range(0, 64)) AS b) g
      )
      SELECT CAST(bit AS BIGINT) AS bit,
             CAST(count(1) AS BIGINT) AS n_docs,
             CAST(SUM(v) AS BIGINT) AS n_ones,
             CAST((SUM(v) * 1000) // count(1) AS BIGINT) AS ones_pm,
             CAST(ABS(SUM(v) * 2000 - count(1) * 1000) // (2 * count(1))
               AS BIGINT) AS skew_pm
      FROM bits GROUP BY bit"""
    })

  // ---- q259: tf-idf weighted cosine near-dup join ----------------------------
  /** q259's integer idf quantum: weight(t, d) = tf · (Q div df) — the
    * rational-idf discipline (q68/q91: ln() is not cross-engine
    * bit-stable), picked so weights stay in BIGINT headroom. */
  private val tfidfQ = 10000L

  /** q259: WEIGHTED set-similarity join — tf-idf cosine over word vectors,
    * the member of the dedup taxonomy every other operator here skips:
    * q14/q111 score UNWEIGHTED shingle sets (a boilerplate term counts as
    * much as a discriminative one), while tf-idf cosine down-weights
    * corpus-common vocabulary, the standard near-dup score for templated
    * text whose variable parts are the rare terms. τ = 0.9 because word-
    * distribution cosine saturates on a shared-vocabulary corpus (τ=0.5
    * admits ~20% of ALL candidate pairs at sf0.1 — not a dedup verdict;
    * 0.9 marks genuine distribution twins, 1431 pairs at sf0.1). Candidates come from
    * the rare-term inverted index (df ∈ [2, maxDf], the q14 blocking
    * discipline); the cosine is verified over the FULL weighted vectors
    * via candidate-bounded posting joins.
    *
    * FP shape: weights are exact integers (tf · (10000 div df), identical
    * integer division in both engines); dot products and squared norms are
    * computed IN decimal — one operand is cast to DECIMAL(38,0) BEFORE the
    * multiply, so the product never passes through LongType (a Long×Long
    * product wraps silently above 2^63 in non-ANSI Spark while the oracle's
    * HUGEINT does not — the q136/q221 divergence class); sums accumulate in
    * DECIMAL(38,0)/HUGEINT (wt² sums pass 2^63 at ~10^5 terms × tf 10^4).
    * The τ = 0.9 threshold is applied WITHOUT division or sqrt:
    * 100·dot² ≥ 81·na·nb. Scale bound (the q204/q232 class): that squared
    * comparison is exact while 100·dotd² < 10^38 — i.e. dotd < 10^18.5 —
    * beyond which Spark's DECIMAL(38,0) product goes NULL (pair silently
    * dropped) and DuckDB's HUGEINT raises; NOT exact at any scale, exact at
    * every tested sf with ~10^10 headroom (sf0.1 max dotd ~10^8). The
    * display cosine divides the BIGINT-cast values (int64→double is
    * correctly rounded in both engines for the full int64 range — unlike
    * HUGEINT→double — so the one displayed double is bit-identical while
    * the sums fit int64; same-class bound).
    *
    * Distributed shape: one token explode, two keyed aggregates, the
    * rare-posting self-join for candidates (never all-pairs), and two
    * doc-keyed posting joins bounded by the candidate set — q245's verify
    * idiom. No data-sized broadcast. */
  val tfidfCosine: Q = Q(
    "q259_tfidf_cosine",
    (s, dir) => {
      // for sum_prod_long (the exact long-register pair aggregate below)
      graft.functions.VectorFunctions.register(s)
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dft = tok.groupBy("w").agg(count(lit(1)).as("df"))
      // The weighted posting table feeds THREE sites of this plan (both
      // verify legs + the norms aggregate), and each site would otherwise
      // replay the scan→explode→groupBy→df-join chain (r18 plan audit: 21
      // parquet scans / 57 Exchanges in the un-shared plan). One bounded
      // materialized copy per (session, dir) — the q111_pre discipline —
      // turns that into one chain + three in-memory scans; norms rides the
      // same entry so its consumers stop replaying the chain too.
      val wtd = graft.PlanCache.cached(s, "q259_wtd", dir,
        s"$dir/documents.parquet") {
        tok.join(dft, "w")
          .withColumn("wt", col("tf") * expr(s"$tfidfQ div df"))
          .select("doc_id", "w", "wt")
      }
      val norms = graft.PlanCache.cached(s, "q259_norms", dir,
        s"$dir/documents.parquet") {
        wtd.groupBy("doc_id")
          .agg(expr("sum_prod_long(wt, wt)").as("n2"))
      }
      // candidates from the RARE-SHINGLE index (q14's blocking, cached):
      // word-grain rarity does not survive scale on a bounded vocabulary
      // (at 5k docs every word's df exceeds any useful cutoff — measured:
      // zero word-blocked candidates at sf0.1), while trigram shingles
      // stay sparse at every sf. Blocking on shingles + verifying the
      // weighted WORD vectors is the standard split: candidates cheap and
      // high-recall, score exact.
      // the shared collision-pair entry (identical frame to the old inline
      // self-join + distinct — see [[linkageCandidates]])
      val cand = linkageCandidates(s, dir)
      // verify = two candidate-bounded posting joins; the shuffle volume is
      // Σ_pairs terms(doc) by construction — the exact-verify data mass.
      // Measured alternative (r14): one row per pair carrying word→weight
      // MAPS with a row-local zip is hash-identical but 1.8× slower at
      // sf0.1 (map build + non-codegen HOF dominates); the row-join form
      // is the faster plan at every tested sf. The mass is LINEAR in corpus
      // size (measured r15: 58M → 1.76B → 5.79B intermediate rows at
      // 1×/30×/100× sf0.1 — 30.3× and 99.7×, exactly the data ratio) but
      // large in absolute bytes; at production scale this is the stage you
      // provision shuffle for.
      // The verify intermediate (Σ_pairs terms(doc_a) rows — 58M at sf0.1)
      // dominates this query when it has to CROSS A SHUFFLE to meet the
      // doc_b posting leg: Catalyst's size estimate for the aggregated
      // posting table is far above reality (116k rows ≈ 5 MB at sf0.1), so
      // it plans a shuffle join and the whole intermediate is hashed by
      // (doc_b, w). Size-guarding the posting/norm legs (broadcast iff a
      // counted probe proves them small — the SizeGuard discipline from the
      // eval-gram family; shuffled join above the cap, so at 100 TB this is
      // the IDENTICAL plan as before) lets the intermediate flow through
      // two broadcast hash joins and collapse map-side in the pair
      // aggregate: the only corpus-scale shuffle left below the cap is the
      // ≤|cand| pair rows into the final groupBy. Guide §3.1/§2.4.
      // keySide is applied ONCE per input frame at the call site below: the
      // hint rides the frame per the keySide contract, so both posting legs
      // share one limit-bounded counted probe
      def verifySlice(candSlice: DataFrame, wtdIn: DataFrame,
          normsIn: DataFrame): DataFrame = {
        val dots = candSlice
          .join(wtdIn.select(col("doc_id").as("doc_a"), col("w"), col("wt").as("wa")),
            Seq("doc_a"))
          .join(wtdIn.select(col("doc_id").as("doc_b"), col("w"), col("wt").as("wb")),
            Seq("doc_b", "w"))
          .groupBy("doc_a", "doc_b")
          // Σ wa·wb via [[graft.functions.SumProdLong]] (VERDICT r18 #6):
          // same DECIMAL(38,0) result as sum(CAST(wa AS DECIMAL(38,0))*wb)
          // — SumProdLongSpec proves equality across both overflow
          // boundaries — but the 25M-row update path runs in a LONG
          // register (long mult + guarded add) instead of per-row 128-bit
          // decimal multiply-adds, escaping to decimal exactly when needed
          .agg(count(lit(1)).as("n_shared"),
            expr("sum_prod_long(wa, wb)").as("dotd"))
        dots
          .join(normsIn.select(col("doc_id").as("doc_a"), col("n2").as("nad")), Seq("doc_a"))
          .join(normsIn.select(col("doc_id").as("doc_b"), col("n2").as("nbd")), Seq("doc_b"))
          .filter(col("dotd") > 0 &&
            col("dotd") * col("dotd") * lit(100) >= col("nad") * col("nbd") * lit(81))
          .select(col("doc_a"), col("doc_b"), col("n_shared"),
            col("dotd").cast("long").as("dot"),
            col("nad").cast("long").as("na"),
            col("nbd").cast("long").as("nb"))
          .withColumn("cos", col("dot").cast("double") /
            sqrt(col("na").cast("double") * col("nb").cast("double")))
      }
      verifySlice(cand, SizeGuard.keySide(wtd), SizeGuard.keySide(norms))
    },
    Some(s"""WITH tok AS (
        SELECT doc_id, w, CAST(count(1) AS BIGINT) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ) GROUP BY doc_id, w
      ), dft AS (
        SELECT w, CAST(count(1) AS BIGINT) AS df FROM tok GROUP BY w
      ), wtd AS (
        SELECT t.doc_id, t.w, t.tf * ($tfidfQ // d.df) AS wt
        FROM tok t JOIN dft d ON t.w = d.w
      ), norms AS (
        SELECT doc_id, SUM(CAST(wt AS HUGEINT) * wt) AS n2
        FROM wtd GROUP BY doc_id
      ), docs3 AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), ng AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words)-1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS ngram
        FROM docs3
      ), rdf AS (
        SELECT ngram FROM ng GROUP BY ngram
        HAVING count(1) >= 2 AND count(1) <= $maxDf
      ), rr AS (
        SELECT n.doc_id, n.ngram FROM ng n JOIN rdf USING (ngram)
      ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rr a JOIN rr b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
      ), dots AS (
        SELECT c.doc_a, c.doc_b, CAST(count(1) AS BIGINT) AS n_shared,
               SUM(CAST(pa.wt AS HUGEINT) * pb.wt) AS dotd
        FROM cand c
        JOIN wtd pa ON pa.doc_id = c.doc_a
        JOIN wtd pb ON pb.doc_id = c.doc_b AND pb.w = pa.w
        GROUP BY c.doc_a, c.doc_b
      )
      SELECT d.doc_a, d.doc_b, d.n_shared,
             CAST(d.dotd AS BIGINT) AS dot,
             CAST(na.n2 AS BIGINT) AS na,
             CAST(nb.n2 AS BIGINT) AS nb,
             CAST(CAST(d.dotd AS BIGINT) AS DOUBLE)
               / sqrt(CAST(CAST(na.n2 AS BIGINT) AS DOUBLE)
                    * CAST(CAST(nb.n2 AS BIGINT) AS DOUBLE)) AS cos
      FROM dots d
      JOIN norms na ON d.doc_a = na.doc_id
      JOIN norms nb ON d.doc_b = nb.doc_id
      WHERE d.dotd > 0 AND 100 * d.dotd * d.dotd >= 81 * na.n2 * nb.n2"""))

  // ---- q262: Fellegi–Sunter record-linkage scoring ---------------------------
  /** Likelihood-ratio decision thresholds: ratio ≥ 1000 → link,
    * ratio ≤ 1/1000 → nonlink, in between → the clerical-review band. */
  private val fsLambda = 1000L
  /** m/u probabilities are held in exact parts-per-million, clamped to
    * [1, 999999] so neither a factor nor its complement is ever zero (the
    * standard ε-floor; documented, identical in both engines). */
  private val fsPpm = 1000000L

  /** q262: FELLEGI–SUNTER probabilistic record linkage (JASA 1969) — the
    * DECISION MODEL half of the record-linkage textbook, next to q256's
    * blocking-quality metrics (candidate generation) and q221's method
    * agreement: score every blocked candidate pair by the likelihood ratio
    * Λ = Π_k (γ_k ? m_k/u_k : (1−m_k)/(1−u_k)) over four cheap field
    * agreements (lang, source, ⌊n_chars/100⌋ length bucket, first token)
    * and classify link / possible / nonlink at λ = ±10³ — the triage layer
    * that says which candidates deserve the expensive text verify, priced
    * entirely from metadata.
    *
    * Parameters are ESTIMATED, not assumed, and the estimation is inside
    * the oracle gate: m_k = P(agree | match) from the q14 exact near-dup
    * pairs (the labeled matches the corpus already has — the supervised
    * variant of the classic EM fit), u_k = P(agree | random pair) from the
    * marginal value frequencies, Σ_v c_v(c_v−1) / n(n−1) — both as exact
    * ppm integers via DECIMAL(38,0)/HUGEINT cross-multiplied division (one
    * operand cast BEFORE the multiply, the q259 lesson). The four-factor
    * products stay ≤ 10^24 < 10^38, exact in both engines; the verdict
    * comparisons are integer cross-multiplies (num ≥ λ·den). `is_dup`
    * joins the truth back on, so the output is its own confusion table.
    *
    * Distributed shape: candidates are the PlanCache'd rare-shingle
    * collision pairs (q259's blocking — never all-pairs); fields ride two
    * candidate-bounded doc joins; the 9 estimated scalars are
    * dimension-sized 1-row aggregates crossJoined as broadcast scalars.
    * At 100 TB nothing here is data-proportional except the candidate set
    * itself. */
  /** The batch rare-shingle collision-pair set — THE candidate universe of
    * the whole linkage/verify family (q259's cosine verify, q262's FS
    * scoring, q272's EM patterns all open with exactly this frame), written
    * out three times per suite pass as an inline self-join + distinct over
    * the q14_ngr entry (~0.4 s each at sf0.1). One bounded materialized
    * copy per (session, dir) — |cand| pair rows (1.13 M × two BIGINTs at
    * sf0.1), duplicate-mass-bounded, never all-pairs (guide §2.4). Also the
    * subject of R19OpsSpec's m ⊆ cand subset proof. */
  private[graft] def linkageCandidates(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(s, "linkage_cand", dir, s"$dir/documents.parquet") {
      candidatesFrom(rareShingleRows(s, dir))
    }

  /** The collision-pair generator over a (ngram, doc_id) blocking index —
    * q262's candidate stage, shared with the streaming registry tail
    * (q268): pairs sharing ≥ 1 indexed shingle, deduplicated. */
  private[graft] def candidatesFrom(rareIdx: DataFrame): DataFrame =
    rareIdx.as("a").join(rareIdx.as("b"),
        col("a.ngram") === col("b.ngram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Per-doc comparison fields for the linkage decision models (q262's FS
    * scoring, q272's EM fit, q268's streamed registry tail): lang, source,
    * a 100-char length bucket, and the first token. */
  private[graft] def linkFieldsOf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      col("source"), expr("n_chars div 100").as("len_b"),
      split(col("text"), " ").getItem(0).as("tok1"))

  /** Candidate pairs decorated with the four 0/1 field-agreement flags —
    * two candidate-bounded doc joins, shared by q262 and q272. */
  private[graft] def agreementFlagsOf(cand: DataFrame,
      fields: DataFrame): DataFrame =
    cand
      .join(fields.select(col("doc_id").as("doc_a"), col("lang").as("la"),
        col("source").as("sa"), col("len_b").as("ba"), col("tok1").as("ta")), Seq("doc_a"))
      .join(fields.select(col("doc_id").as("doc_b"), col("lang").as("lb"),
        col("source").as("sb"), col("len_b").as("bb"), col("tok1").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("la") === col("lb")).cast("long").as("a_lang"),
        (col("sa") === col("sb")).cast("long").as("a_source"),
        (col("ba") === col("bb")).cast("long").as("a_len"),
        (col("ta") === col("tb")).cast("long").as("a_tok"))

  /** q262's scoring stages GIVEN a candidate frame — shared verbatim by the
    * streaming variant (q268), whose candidates come from the incrementally
    * maintained shingle registry instead of the batch blocker. Everything
    * from field agreement through m/u estimation to the λ verdict lives
    * here, so batch and streaming provably score identically.
    *
    * Precondition: every q14 match pair (m) is a pair of `cand`. The m-side
    * agreement flags are computed over m directly, which equals the
    * `m ⋈ cand` restriction only when m ⊆ cand. Both candidate frames in use
    * hold it by construction — [[linkageCandidates]] and q268's
    * [[graft.streaming.StreamingSessions.registryCandidates]] re-derive the
    * q14_ngr rare index q14 mines its pairs from — and R19OpsSpec checks it
    * for both with a left-anti join. */
  private[graft] def fsScoreOf(s: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
      val fields = linkFieldsOf(s, dir)
      val withFields = agreementFlagsOf(cand, fields)
      // matches: q14's exact rare-shingle Jaccard ≥ 0.5 pairs (PlanCache'd)
      val m = ngramJaccard.run(s, dir).select("doc_a", "doc_b")
      // m ⊆ cand BY CONSTRUCTION: q14's pairs are mined from the SAME
      // q14_ngr rare index as candidatesFrom (same self-join condition
      // a.doc_id < b.doc_id, plus filters that only REMOVE pairs), so the
      // old `m ⋈ withFields` inner join selected exactly m's rows — and
      // re-derived the whole 10⁶-pair candidate chain a second time to do
      // it (the plan's second scan→explode→self-join replay, guide §2.4).
      // Computing the four flags directly over the ≤|m| matched pairs is
      // row-identical (same `fields`, same flag expressions) and two
      // broadcast-sized joins instead of a corpus chain. R19OpsSpec pins
      // the subset property; the oracle gate re-proves the estimates.
      val mFlags = agreementFlagsOf(m, fields)
      def ppm(agreeName: String, totalName: String) =
        greatest(least(
          expr(s"CAST(coalesce($agreeName, 0) AS DECIMAL(38,0)) * $fsPpm" +
            s" div greatest($totalName, 1)"),
          lit(fsPpm - 1)), lit(1L))
      val mStats = mFlags.agg(count(lit(1)).as("t"),
          sum("a_lang").as("c_lang"), sum("a_source").as("c_source"),
          sum("a_len").as("c_len"), sum("a_tok").as("c_tok"))
        .select(Seq("lang", "source", "len", "tok").map(f =>
          ppm(s"c_$f", "t").as(s"m_$f")): _*)
      // u_k: agreement odds of a uniform random ordered pair — Σ c_v(c_v−1)
      // over the field's value histogram, against n(n−1) (both in
      // DECIMAL(38,0) before the multiply: n² overflows Long at ~3e9 docs).
      // ONE pass over `fields` for all four histograms (guide §2.2/§2.4):
      // the old form ran four separate groupBy aggregations — four document
      // scans and four shuffles — crossJoined pairwise. Exploding each doc
      // to four (field, value) rows keys every histogram in one aggregate;
      // values are cast to string (injective for BIGINT len_b, identity for
      // the rest; the per-field groupings — null groups included — are
      // unchanged) and the four u_k land in one conditional-aggregation
      // pivot. Empty-corpus edge: the old per-field global agg produced
      // s=n=NULL → least/greatest skip nulls → u = fsPpm−1; coalesce
      // replicates that here (no histogram rows → max() is NULL).
      val fv = fields.select(explode(array(
          struct(lit("lang").as("f"), col("lang").cast("string").as("v")),
          struct(lit("source").as("f"), col("source").cast("string").as("v")),
          struct(lit("len").as("f"), col("len_b").cast("string").as("v")),
          struct(lit("tok").as("f"), col("tok1").cast("string").as("v")))).as("x"))
        .select(col("x.f").as("f"), col("x.v").as("v"))
      val uRows = fv.groupBy("f", "v").agg(count(lit(1)).as("c"))
        .groupBy("f")
        .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")).as("s"),
          sum("c").as("n"))
        .select(col("f"), greatest(least(
          expr(s"CAST(s * $fsPpm div greatest(CAST(n AS DECIMAL(38,0)) * (n - 1), 1) AS BIGINT)"),
          lit(fsPpm - 1)), lit(1L)).as("u"))
      val uCols = Seq("lang", "source", "len", "tok").map(f =>
        coalesce(max(when(col("f") === f, col("u"))), lit(fsPpm - 1))
          .as(s"u_$f"))
      val uStats = uRows.agg(uCols.head, uCols.tail: _*)
      val scored = withFields
        .crossJoin(broadcast(mStats))
        .crossJoin(broadcast(uStats))
      def factor(flag: String, p: String) =
        when(col(flag) === 1L, col(p)).otherwise(lit(fsPpm) - col(p))
      val num = Seq("lang", "source", "len", "tok").map(f =>
        factor(s"a_$f", s"m_$f")).reduce((x, y) => x.cast("decimal(38,0)") * y)
      val den = Seq("lang", "source", "len", "tok").map(f =>
        factor(s"a_$f", s"u_$f")).reduce((x, y) => x.cast("decimal(38,0)") * y)
      scored
        .withColumn("num", num.cast("decimal(38,0)"))
        .withColumn("den", den.cast("decimal(38,0)"))
        .withColumn("verdict",
          when(col("num") >= col("den") * fsLambda, "link")
            .when(col("num") * fsLambda <= col("den"), "nonlink")
            .otherwise("possible"))
        .join(m.withColumn("is_dup", lit(1L)), Seq("doc_a", "doc_b"), "left")
        .withColumn("is_dup", coalesce(col("is_dup"), lit(0L)))
        .select(col("doc_a"), col("doc_b"), col("a_lang"), col("a_source"),
          col("a_len"), col("a_tok"), col("verdict"), col("is_dup"),
          col("m_lang"), col("m_source"), col("m_len"), col("m_tok"),
          col("u_lang"), col("u_source"), col("u_len"), col("u_tok"))
  }

  /** The shared oracle CTE chain for the linkage candidate set and its four
    * agreement flags (docs3 → ng → rdf → rr → cand → fields → wf) — the SQL
    * mirror of [[candidatesFrom]] ∘ [[agreementFlagsOf]], used verbatim by
    * q262 and q272 so both models score the identical comparison space. */
  /** The rare-shingle posting-index oracle chain alone (docs3 → ng → rdf →
    * rr) — the SQL mirror of [[rareShingleRows]], shared by [[fsWfCtes]]
    * and q275's coverage greedy. */
  private def rareIdxCtes: String = s"""docs3 AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), ng AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words)-1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS ngram
        FROM docs3
      ), rdf AS (
        SELECT ngram FROM ng GROUP BY ngram
        HAVING count(1) >= 2 AND count(1) <= $maxDf
      ), rr AS (
        SELECT n.doc_id, n.ngram FROM ng n JOIN rdf USING (ngram)
      )"""

  private def fsWfCtes: String = s"""$rareIdxCtes, cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rr a JOIN rr b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
      ), fields AS (
        SELECT doc_id, lang, source, n_chars // 100 AS len_b,
               string_split(text, ' ')[1] AS tok1
        FROM documents
      ), wf AS (
        SELECT c.doc_a, c.doc_b,
               CAST(fa.lang = fb.lang AS BIGINT) AS a_lang,
               CAST(fa.source = fb.source AS BIGINT) AS a_source,
               CAST(fa.len_b = fb.len_b AS BIGINT) AS a_len,
               CAST(fa.tok1 = fb.tok1 AS BIGINT) AS a_tok
        FROM cand c
        JOIN fields fa ON fa.doc_id = c.doc_a
        JOIN fields fb ON fb.doc_id = c.doc_b
      )"""

  val fsLinkage: Q = Q(
    "q262_fs_linkage",
    (s, dir) => fsScoreOf(s, dir, linkageCandidates(s, dir)),
    Some(s"""WITH $fsWfCtes, sz AS (
        SELECT doc_id, CAST(count(1) AS BIGINT) AS n FROM rr GROUP BY doc_id
      ), jpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(1) AS BIGINT) AS common
        FROM rr a JOIN rr b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      ), matches AS (
        SELECT p.doc_a, p.doc_b
        FROM jpairs p
        JOIN sz za ON p.doc_a = za.doc_id
        JOIN sz zb ON p.doc_b = zb.doc_id
        WHERE p.common / (za.n + zb.n - p.common) >= 0.5
      ), mstats AS (
        SELECT
          GREATEST(1, LEAST(${fsPpm - 1},
            CAST(CAST(COALESCE(SUM(a_lang), 0) AS HUGEINT) * $fsPpm
              // GREATEST(count(1), 1) AS BIGINT))) AS m_lang,
          GREATEST(1, LEAST(${fsPpm - 1},
            CAST(CAST(COALESCE(SUM(a_source), 0) AS HUGEINT) * $fsPpm
              // GREATEST(count(1), 1) AS BIGINT))) AS m_source,
          GREATEST(1, LEAST(${fsPpm - 1},
            CAST(CAST(COALESCE(SUM(a_len), 0) AS HUGEINT) * $fsPpm
              // GREATEST(count(1), 1) AS BIGINT))) AS m_len,
          GREATEST(1, LEAST(${fsPpm - 1},
            CAST(CAST(COALESCE(SUM(a_tok), 0) AS HUGEINT) * $fsPpm
              // GREATEST(count(1), 1) AS BIGINT))) AS m_tok
        FROM matches JOIN wf USING (doc_a, doc_b)
      ), u_lang AS (
        SELECT GREATEST(1, LEAST(${fsPpm - 1},
          CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) * $fsPpm
            // GREATEST(SUM(c) * (SUM(c) - 1), 1) AS BIGINT))) AS u_lang
        FROM (SELECT CAST(count(1) AS BIGINT) AS c FROM fields GROUP BY lang)
      ), u_source AS (
        SELECT GREATEST(1, LEAST(${fsPpm - 1},
          CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) * $fsPpm
            // GREATEST(SUM(c) * (SUM(c) - 1), 1) AS BIGINT))) AS u_source
        FROM (SELECT CAST(count(1) AS BIGINT) AS c FROM fields GROUP BY source)
      ), u_len AS (
        SELECT GREATEST(1, LEAST(${fsPpm - 1},
          CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) * $fsPpm
            // GREATEST(SUM(c) * (SUM(c) - 1), 1) AS BIGINT))) AS u_len
        FROM (SELECT CAST(count(1) AS BIGINT) AS c FROM fields GROUP BY len_b)
      ), u_tok AS (
        SELECT GREATEST(1, LEAST(${fsPpm - 1},
          CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) * $fsPpm
            // GREATEST(SUM(c) * (SUM(c) - 1), 1) AS BIGINT))) AS u_tok
        FROM (SELECT CAST(count(1) AS BIGINT) AS c FROM fields GROUP BY tok1)
      ), scored AS (
        SELECT wf.*, m_lang, m_source, m_len, m_tok,
               u_lang, u_source, u_len, u_tok,
               (CASE WHEN a_lang = 1 THEN m_lang ELSE $fsPpm - m_lang END)
                 * CAST(CASE WHEN a_source = 1 THEN m_source ELSE $fsPpm - m_source END AS HUGEINT)
                 * (CASE WHEN a_len = 1 THEN m_len ELSE $fsPpm - m_len END)
                 * (CASE WHEN a_tok = 1 THEN m_tok ELSE $fsPpm - m_tok END) AS num,
               (CASE WHEN a_lang = 1 THEN u_lang ELSE $fsPpm - u_lang END)
                 * CAST(CASE WHEN a_source = 1 THEN u_source ELSE $fsPpm - u_source END AS HUGEINT)
                 * (CASE WHEN a_len = 1 THEN u_len ELSE $fsPpm - u_len END)
                 * (CASE WHEN a_tok = 1 THEN u_tok ELSE $fsPpm - u_tok END) AS den
        FROM wf CROSS JOIN mstats
        CROSS JOIN u_lang CROSS JOIN u_source CROSS JOIN u_len CROSS JOIN u_tok
      )
      SELECT s.doc_a, s.doc_b, a_lang, a_source, a_len, a_tok,
             CASE WHEN num >= den * $fsLambda THEN 'link'
                  WHEN num * $fsLambda <= den THEN 'nonlink'
                  ELSE 'possible' END AS verdict,
             CAST(CASE WHEN m.doc_a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
             m_lang, m_source, m_len, m_tok, u_lang, u_source, u_len, u_tok
      FROM scored s
      LEFT JOIN matches m ON s.doc_a = m.doc_a AND s.doc_b = m.doc_b"""))

  // ---- q272: unsupervised EM fit of the FS parameters -----------------------
  private val emIters = 3
  private val emInitP = 100000L // P(match) prior 0.1 — classic FS/EM start
  private val emInitM = 900000L // P(agree | match) init 0.9
  private val emInitU = 100000L // P(agree | nonmatch) init 0.1
  private val emFields = Seq("lang", "source", "len", "tok")

  /** q272: UNSUPERVISED Fellegi–Sunter parameter estimation via the classic
    * EM fit (Winkler 1988; Dempster–Laird–Rubin) over the 2⁴ field-agreement
    * patterns — the other half of the record-linkage decision model: q262
    * estimates m from pairs a truth set already labels; q272 needs NO labels,
    * recovering (p, m_k, u_k) from the marginal pattern counts alone — the
    * production situation where linkage is deployed precisely because no
    * truth set exists.
    *
    * The E-step posterior w_γ = p·Πm / (p·Πm + (1−p)·Πu) and the M-step
    * reweighted means run entirely in exact ppm integers: every probability
    * is a BIGINT in [1, 10⁶−1] (clamped like q262's ppm estimates, so no
    * factor or denominator can hit zero), the 5-factor products pass through
    * DECIMAL(38,0)/HUGEINT (≤ 10³⁰; ×10⁶ ≤ 10³⁶ < 10³⁸), and each division
    * is a positive integral DIV — quantizing the posterior to ppm once per
    * round, identically in both engines, so three unrolled EM rounds are
    * bit-reproducible cross-engine (the q133 fixed-iteration discipline).
    *
    * Distributed shape: the ONLY data-proportional work is one 16-group
    * aggregation over the candidate agreement flags (map-side combined; the
    * candidates are q259's blocking — never all-pairs). The pattern table is
    * ≤ 16 rows BY CONSTRUCTION (2⁴ flag combinations), PlanCache'd +
    * checkpointed so the three EM rounds — each a crossJoin of 16 rows with
    * a 1-row broadcast parameter frame and a full re-aggregation — never
    * re-touch the corpus. At 100 TB the EM itself costs the same 3×16 rows
    * it costs here; output is ≤ 16 rows. */
  /** The ≤ 2⁴-row agreement-pattern table (n per flag combination) — q272's
    * only data-proportional stage, exposed as a seam so the EM fit below is
    * testable on planted pattern mixes. */
  private[graft] def patternsOf(flags: DataFrame): DataFrame =
    flags.groupBy("a_lang", "a_source", "a_len", "a_tok")
      .agg(count(lit(1)).as("n"))

  /** Three unrolled ppm-integer EM rounds over a pattern table (see
    * [[emLinkage]]) → final per-pattern posterior + fitted parameters. */
  private[graft] def emFitOf(s: SparkSession, pat: DataFrame): DataFrame = {
      def clampPpm(c: Column): Column =
        greatest(least(c, lit(fsPpm - 1)), lit(1L))
      val init = s.range(1).select(
        (lit(emInitP).as("p") +: emFields.flatMap(f =>
          Seq(lit(emInitM).as(s"m_$f"), lit(emInitU).as(s"u_$f")))): _*)
      // E-step columns: the 5-factor match/nonmatch likelihoods and the
      // ppm-quantized posterior w
      def withScores(df: DataFrame): DataFrame = {
        val num = emFields.map(f =>
            when(col(s"a_$f") === 1L, col(s"m_$f"))
              .otherwise(lit(fsPpm) - col(s"m_$f")))
          .foldLeft(col("p").cast("decimal(38,0)"))(
            (x, y) => (x * y).cast("decimal(38,0)"))
        val den0 = emFields.map(f =>
            when(col(s"a_$f") === 1L, col(s"u_$f"))
              .otherwise(lit(fsPpm) - col(s"u_$f")))
          .foldLeft((lit(fsPpm) - col("p")).cast("decimal(38,0)"))(
            (x, y) => (x * y).cast("decimal(38,0)"))
        df.withColumn("num", num).withColumn("den0", den0)
          .withColumn("w",
            expr(s"CAST(num * $fsPpm DIV greatest(num + den0, 1) AS BIGINT)"))
      }
      // M-step: posterior-weighted means back to the 9 ppm parameters
      def mStep(w: DataFrame): DataFrame = {
        val aggs =
          clampPpm(expr("CAST(sum(CAST(n AS DECIMAL(38,0)) * w)" +
            " DIV greatest(sum(n), 1) AS BIGINT)")).as("p") +:
          emFields.flatMap(f => Seq(
            clampPpm(expr(s"CAST(sum(CAST(n AS DECIMAL(38,0)) * w * a_$f)" +
              s" * $fsPpm DIV greatest(sum(CAST(n AS DECIMAL(38,0)) * w), 1)" +
              " AS BIGINT)")).as(s"m_$f"),
            clampPpm(expr(s"CAST(sum(CAST(n AS DECIMAL(38,0)) * ($fsPpm - w)" +
              s" * a_$f) * $fsPpm DIV greatest(sum(CAST(n AS DECIMAL(38,0))" +
              s" * ($fsPpm - w)), 1) AS BIGINT)")).as(s"u_$f")))
        w.agg(aggs.head, aggs.tail: _*)
      }
      val fin = (1 to emIters).foldLeft(init)((p, _) =>
        mStep(withScores(pat.crossJoin(broadcast(p)))))
      val scored = withScores(pat.crossJoin(broadcast(fin)))
      val mnum = emFields.map(f =>
          when(col(s"a_$f") === 1L, col(s"m_$f"))
            .otherwise(lit(fsPpm) - col(s"m_$f")))
        .reduce((x, y) => x.cast("decimal(38,0)") * y)
      val uden = emFields.map(f =>
          when(col(s"a_$f") === 1L, col(s"u_$f"))
            .otherwise(lit(fsPpm) - col(s"u_$f")))
        .reduce((x, y) => x.cast("decimal(38,0)") * y)
      scored
        .withColumn("mnum", mnum.cast("decimal(38,0)"))
        .withColumn("uden", uden.cast("decimal(38,0)"))
        .select(col("a_lang"), col("a_source"), col("a_len"), col("a_tok"),
          col("n"), col("w").as("w_ppm"),
          when(col("mnum") >= col("uden") * fsLambda, "link")
            .when(col("mnum") * fsLambda <= col("uden"), "nonlink")
            .otherwise("possible").as("verdict"),
          col("p").as("p_ppm"),
          col("m_lang"), col("m_source"), col("m_len"), col("m_tok"),
          col("u_lang"), col("u_source"), col("u_len"), col("u_tok"))
  }

  val emLinkage: Q = Q(
    "q272_em_linkage",
    (s, dir) => {
      val flags = agreementFlagsOf(
        linkageCandidates(s, dir), linkFieldsOf(s, dir))
      val pat = graft.PlanCache.cached(s, "q272_pat", dir,
          s"$dir/documents.parquet") {
        graft.Ckpt.eager(patternsOf(flags))
      }
      emFitOf(s, pat)
    },
    Some {
      def numSql(kind: String) =
        s"CAST(${if (kind == "m") "p" else s"$fsPpm - p"} AS HUGEINT)" +
          emFields.map(f =>
            s" * (CASE WHEN a_$f = 1 THEN ${kind}_$f" +
              s" ELSE $fsPpm - ${kind}_$f END)").mkString
      def prodSql(kind: String) = emFields.map(f =>
          s"(CASE WHEN a_$f = 1 THEN ${kind}_$f" +
            s" ELSE $fsPpm - ${kind}_$f END)")
        .reduceLeft((x, y) => s"CAST($x AS HUGEINT) * $y")
      def mU(f: String) =
        s"""
               GREATEST(1, LEAST(${fsPpm - 1},
                 CAST(SUM(CAST(n AS HUGEINT) * w * a_$f) * $fsPpm
                   // GREATEST(SUM(CAST(n AS HUGEINT) * w), 1) AS BIGINT)))
                 AS m_$f,
               GREATEST(1, LEAST(${fsPpm - 1},
                 CAST(SUM(CAST(n AS HUGEINT) * ($fsPpm - w) * a_$f) * $fsPpm
                   // GREATEST(SUM(CAST(n AS HUGEINT) * ($fsPpm - w)), 1)
                   AS BIGINT))) AS u_$f"""
      def round(i: Int, prev: String) =
        s"""w$i AS (
        SELECT pat.*, p,
               ${emFields.map(f => s"m_$f, u_$f").mkString(", ")},
               CAST(${numSql("m")} AS HUGEINT) AS num,
               CAST(${numSql("u")} AS HUGEINT) AS den0
        FROM pat CROSS JOIN $prev
      ), ww$i AS (
        SELECT *, CAST(num * $fsPpm // GREATEST(num + den0, 1) AS BIGINT) AS w
        FROM w$i
      ), p$i AS (
        SELECT GREATEST(1, LEAST(${fsPpm - 1},
                 CAST(SUM(CAST(n AS HUGEINT) * w)
                   // GREATEST(SUM(n), 1) AS BIGINT))) AS p,${emFields.map(mU).mkString(",")}
        FROM ww$i
      )"""
      graft.OracleSql.materializeCtes(s"""WITH $fsWfCtes, pat AS (
        SELECT a_lang, a_source, a_len, a_tok, CAST(count(1) AS BIGINT) AS n
        FROM wf GROUP BY 1, 2, 3, 4
      ), p0 AS (
        SELECT CAST($emInitP AS BIGINT) AS p,
               ${emFields.map(f => s"CAST($emInitM AS BIGINT) AS m_$f," +
                 s" CAST($emInitU AS BIGINT) AS u_$f").mkString(",\n               ")}
      ), ${round(1, "p0")}, ${round(2, "p1")}, ${round(3, "p2")}, wfin AS (
        SELECT pat.*, p,
               ${emFields.map(f => s"m_$f, u_$f").mkString(", ")},
               CAST(${numSql("m")} AS HUGEINT) AS num,
               CAST(${numSql("u")} AS HUGEINT) AS den0,
               CAST(${prodSql("m")} AS HUGEINT) AS mnum,
               CAST(${prodSql("u")} AS HUGEINT) AS uden
        FROM pat CROSS JOIN p3
      )
      SELECT a_lang, a_source, a_len, a_tok, n,
             CAST(num * $fsPpm // GREATEST(num + den0, 1) AS BIGINT) AS w_ppm,
             CASE WHEN mnum >= uden * $fsLambda THEN 'link'
                  WHEN mnum * $fsLambda <= uden THEN 'nonlink'
                  ELSE 'possible' END AS verdict,
             p AS p_ppm,
             m_lang, m_source, m_len, m_tok, u_lang, u_source, u_len, u_tok
      FROM wfin""")
    })

  // ---- q275: greedy max-coverage selection ---------------------------------
  private val mcK = 8

  /** q275: greedy max-coverage selection over the rare-shingle postings —
    * the SUBMODULAR data-selection primitive (Nemhauser–Wolsey–Fisher's
    * (1−1/e)-greedy; the facility-location/coverage objective behind
    * CRAIG-class subset selection): K = 8 rounds, each picking the document
    * covering the most NOT-yet-covered rare shingles (tie → smallest
    * doc_id). q274's k-center picks the SPREAD (metric diversity in
    * embedding space); q275 picks the COVER (combinatorial coverage of the
    * lexical universe) — the two canonical, complementary greedy selectors
    * a curation pipeline runs side by side. Output: the selection order
    * with marginal gains and the running covered count; the gain column is
    * non-increasing — the visible certificate of submodularity.
    *
    * Exactness: everything is set algebra on (ngram, doc_id) postings and
    * BIGINT counts — no floating point anywhere; the (gain DESC, doc_id)
    * argmax is a total order, so the 8 picks are bit-identical
    * cross-engine.
    *
    * Distributed shape (r15 VERDICT #1 rework): the covered-shingle set is,
    * BY CONSTRUCTION, ≤ K·[[RareShingleDocCap]] entries (each pick adds at
    * most the picked doc's budgeted postings — ≤ 1024 shingles at K=8), so
    * it is DRIVER-HELD and pushed into the scan as a NOT-IN-SET literal
    * predicate (Catalyst rewrites the >10-element isin to an O(1)-lookup
    * InSet inside whole-stage codegen) — the former shingle-keyed anti-join
    * + union/distinct/checkpoint cycle collapses away. Each round is then
    * ONE job: scan the (PlanCache-shared, doc-capped) posting index with
    * the two literal filters, a map-side-combined per-doc aggregate whose
    * collect_set (≤ cap entries/doc) hands the winner's still-uncovered
    * shingles back on the SAME TakeOrdered(1) row — no per-round lookup
    * job, no checkpoints. K jobs total. Never all-pairs, never a global
    * sort; at 100 TB the per-round cost is exactly one posting-index scan.
    *
    * Degenerate-case contract (ADVICE r15): when every unpicked doc's rare
    * shingles are already covered (or fewer than K docs carry rare
    * shingles) the round's frame is empty — the loop emits the rounds
    * picked so far instead of throwing, matching the oracle's CTE chain,
    * whose empty pick round yields no row and empties every later round.
    *
    * Oracle-cap dependency (ADVICE r15): the Spark side consumes the
    * per-doc-CAPPED index while [[rareIdxCtes]] is uncapped — equality
    * rests on the standing spec-pinned invariant that the cap never binds
    * (measured max 98 < 128 at every tested sf; [[rareShingleDocAudit]]).
    * A production corpus where the cap binds changes which doc wins a
    * round, not just pair candidates: the greedy then optimizes coverage
    * of the BUDGETED posting universe — the operator's actual contract. */
  val maxCoverSelect: Q = Q(
    "q275_maxcover_select",
    (s, dir) => {
      import s.implicits._
      val idx = rareShingleRows(s, dir)
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      val covered = scala.collection.mutable.HashSet.empty[String]
      var cum = 0L
      var t = 0
      var exhausted = false
      while (t < mcK && !exhausted) {
        val picked = sel.map(_._2)
        val unpicked =
          if (picked.isEmpty) idx
          else idx.filter(!col("doc_id").isin(picked.toSeq: _*))
        val rem =
          if (covered.isEmpty) unpicked
          else unpicked.filter(!col("ngram").isin(covered.toSeq: _*))
        val top = rem.groupBy("doc_id")
          .agg(count(lit(1)).as("gain"), collect_set(col("ngram")).as("uncov"))
          .orderBy(col("gain").desc, col("doc_id").asc)
          .limit(1).collect().headOption
        top match {
          case Some(r) =>
            cum += r.getLong(1)
            sel += ((t.toLong, r.getLong(0), r.getLong(1), cum))
            // the winner's not-yet-covered shingles rode the argmax row;
            // covered_t = ∪ uncovered-at-pick sets ≡ ∪ all shingles of
            // picked docs (anything already covered was in the set)
            covered ++= r.getSeq[String](2)
          case None => exhausted = true
        }
        t += 1
      }
      sel.toSeq.toDF("round", "doc_id", "gain", "covered_cum")
    },
    Some {
      def round(t: Int) = {
        val gainSrc =
          if (t == 0) "rr"
          else s"""(SELECT rr.doc_id, rr.ngram FROM rr
            LEFT JOIN cov${t - 1} c ON rr.ngram = c.ngram
            WHERE c.ngram IS NULL
              AND rr.doc_id NOT IN (SELECT doc_id FROM pk${t - 1}))"""
        val pick = s"""g$t AS (
        SELECT doc_id, CAST(count(1) AS BIGINT) AS gain
        FROM $gainSrc x GROUP BY doc_id
      ), r$t AS (
        SELECT doc_id, gain FROM g$t ORDER BY gain DESC, doc_id LIMIT 1
      ), pk$t AS (
        ${if (t == 0) s"SELECT doc_id FROM r0"
          else s"SELECT doc_id FROM pk${t - 1} UNION SELECT doc_id FROM r$t"}
      )"""
        val cov =
          if (t == mcK - 1) ""
          else if (t == 0) s""", cov0 AS (
        SELECT DISTINCT ngram FROM rr JOIN r0 USING (doc_id)
      )"""
          else s""", cov$t AS (
        SELECT ngram FROM cov${t - 1}
        UNION
        SELECT rr.ngram FROM rr JOIN r$t USING (doc_id)
      )"""
        pick + cov
      }
      graft.OracleSql.materializeCtes(s"""WITH $rareIdxCtes,
      ${(0 until mcK).map(round).mkString(",\n      ")}, sel AS (
        ${(0 until mcK).map(t =>
          s"SELECT $t AS round, doc_id, gain FROM r$t")
          .mkString("\n        UNION ALL ")}
      )
      SELECT CAST(round AS BIGINT) AS round, doc_id, gain,
             CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS covered_cum
      FROM sel""")
    })

  val all: Seq[Q] =
    Seq(exact, ngramJaccard, minhashLsh, simhash, editDistance,
      incrementalDedup, fuzzyDecontaminate, setSimJoin, substringSpans,
      containmentJoin, cdcChunks, lshEval, dedupReport, memorizationSpans,
      thresholdSweep, templateHubs, methodKappa, lshSCurve, winnowingOverlap,
      sortedNeighborhood, minhashEstimatorError, blockingQuality,
      simhashBitBalance, tfidfCosine, fsLinkage, emLinkage, maxCoverSelect,
      exactSubstrSpans, exactSubstrImpact, exactSubstrClean,
      exactSubstrKeepFirst, exactSubstrKeepFirstClean,
      decontamSpans, decontamClean, decontamImpact)
}
