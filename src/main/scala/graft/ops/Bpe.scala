package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Byte-pair-encoding tokenizer, trained on the corpus and applied to it —
  * the tokenizer-construction stage of an LLM data pipeline (Sennrich et al.
  * 2016), reduced to its distributed essence.
  *
  * Training never touches the corpus after ONE full pass: documents collapse
  * to a (word, freq) vocabulary table first, and each of the K merge rounds
  * is a pair-count aggregation over that |V|-row table (map-side combined,
  * wire volume ≤ |distinct adjacent pairs|) followed by a literal string
  * replace — the textbook algorithm's "count pairs over the word vocab"
  * step, shuffled on pair keys instead of iterated in one process. The
  * most-frequent pair is chosen with a total tie-break (freq DESC, pair ASC)
  * so training is deterministic on any cluster geometry.
  *
  * The symbolization is a STRING ENCODING chosen to make greedy left-to-right
  * BPE merging expressible as plain `replace()` in ANY engine: every symbol
  * is wrapped in pipes and concatenated — "low" → `|l||o||w|` — so the merge
  * of pair (a,b) is the literal replacement `|a||b|` → `|ab|`. The wrapping
  * makes partial-symbol matches impossible (a pattern must match both
  * delimiters of both symbols), and because the pattern ends at the second
  * symbol's closing pipe, consecutive occurrences (`|a||b||a||b|`) do not
  * share characters — non-overlapping left-to-right replacement IS greedy
  * BPE application. Symbols are restricted to [a-z0-9] by normalization, so
  * the `|` delimiter and the `#` word separator can never collide with
  * content. The dynamic oracle embeds the learned merges as a chain of
  * `replace()` calls and replays tokenization verbatim in DuckDB —
  * bit-equal by construction, integer token counts throughout.
  */
object Bpe {

  private[graft] val nMerges = 12

  private val merges = graft.Fit[Seq[(String, String)]]("documents.parquet")

  /** lower → non-alphanumeric runs to '#' → strip edge markers. */
  private def normCol(c: Column): Column =
    btrim(regexp_replace(lower(c), "[^a-z0-9]+", "#"), lit("#"))

  /** "low" → "|l||o||w|" (every char pipe-wrapped). */
  private def encodeCol(c: Column): Column = regexp_replace(c, "(.)", "|$1|")

  /** Learn K merges from the corpus vocabulary. Deterministic: pair counts
    * are exact integers; selection totally ordered. Memoized per (dir,
    * corpus fingerprint) — train once, tokenize anywhere. */
  private[graft] def learnMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    merges(s, dir) { _ =>
      val vocab = Tables.documents(s, dir)
        .select(explode(split(normCol(col("text")), "#")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(encodeCol(col("w")).as("enc"), col("freq"))
        .persist()
      try {
        val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
        var cur = vocab
        var exhausted = false
        for (_ <- 1 to nMerges if !exhausted) {
          val top = cur
            .select(col("freq"),
              expr("split(btrim(enc, '|'), '\\\\|\\\\|')").as("a"))
            .withColumn("n", size(col("a")))
            .filter(col("n") >= 2)
            .select(col("freq"), explode(expr(
              "transform(sequence(1, n - 1)," +
                " i -> struct(element_at(a, i) AS p1, element_at(a, i + 1) AS p2))"))
              .as("pr"))
            .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
            .agg(sum("freq").as("f"))
            .orderBy(col("f").desc, col("p1"), col("p2"))
            .limit(1).collect()
          if (top.isEmpty) exhausted = true
          else {
            val (p1, p2) = (top.head.getString(0), top.head.getString(1))
            out += ((p1, p2))
            cur = cur.withColumn("enc",
              expr(s"replace(enc, '|$p1||$p2|', '|$p1$p2|')"))
          }
        }
        out.toSeq
      } finally vocab.unpersist()
    }

  /** q134: tokenize every document with the corpus-trained merges. Output is
    * integer-exact: BPE token count, base symbol count, and one fixed-shape
    * double compression ratio. */
  val bpeTokenize: Q = Q(
    "q134_bpe_tokenize",
    (s, dir) => {
      val ms = learnMerges(s, dir)
      var df = Tables.documents(s, dir)
        .select(col("doc_id"), normCol(col("text")).as("norm"))
        .withColumn("enc", encodeCol(col("norm")))
      for ((a, b) <- ms)
        df = df.withColumn("enc", expr(s"replace(enc, '|$a||$b|', '|$a$b|')"))
      df
        // each symbol carries exactly 2 pipes; '#' separators are symbols too
        .withColumn("n_pipes",
          (length(col("enc")) - length(expr("replace(enc, '|', '')"))).cast("long"))
        .withColumn("n_seps",
          (length(col("enc")) - length(expr("replace(enc, '#', '')"))).cast("long"))
        .withColumn("bpe_tokens", expr("n_pipes div 2 - n_seps"))
        .withColumn("base_symbols",
          length(expr("replace(norm, '#', '')")).cast("long"))
        .select(col("doc_id"), col("bpe_tokens"),
          col("base_symbols"),
          when(col("bpe_tokens") > 0,
            col("base_symbols").cast("double") / col("bpe_tokens").cast("double"))
            .as("compression"))
    },
    None,
    Some(() => merges.forOracle.map(tokenizeOracleSql)))

  /** q134's oracle body for a given merge list — shared with q158, whose
    * oracle embeds the same tokenization as a CTE. */
  private def tokenizeOracleSql(ms: Seq[(String, String)]): String = {
    val enc0 = "regexp_replace(trim(regexp_replace(lower(text), " +
      "'[^a-z0-9]+', '#', 'g'), '#'), '(.)', '|\\1|', 'g')"
    val encK = ms.foldLeft(enc0) { case (e, (a, b)) =>
      s"replace($e, '|$a||$b|', '|$a$b|')"
    }
    s"""WITH t AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', '#', 'g'), '#')
                   AS norm,
                 $encK AS enc
          FROM documents
        ), c AS (
          SELECT doc_id,
                 (length(enc) - length(replace(enc, '|', ''))) // 2
                   - (length(enc) - length(replace(enc, '#', ''))) AS bpe_tokens,
                 length(replace(norm, '#', '')) AS base_symbols
          FROM t)
        SELECT doc_id, CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
               CAST(base_symbols AS BIGINT) AS base_symbols,
               CASE WHEN bpe_tokens > 0
                 THEN CAST(base_symbols AS DOUBLE) / CAST(bpe_tokens AS DOUBLE)
                 ELSE NULL END AS compression
        FROM c"""
  }

  /** q158: tokenizer fertility by language — BPE tokens per whitespace word
    * for each lang, the per-domain efficiency report a tokenizer release
    * ships with (a language whose fertility is far above the corpus mean is
    * being over-fragmented and under-represented per training byte). Sums
    * are exact BIGINTs from q134's per-doc tokenization (plan reused
    * verbatim); fertility and mean compression are single fixed-shape
    * divisions. Distributed shape: q134's scan + one doc-keyed join + a
    * |langs|-row aggregate. */
  val tokenizerFertility: Q = Q(
    "q158_tokenizer_fertility",
    (s, dir) => {
      val toks = bpeTokenize.run(s, dir).select("doc_id", "bpe_tokens", "base_symbols")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("words"))
      toks.join(docs, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("words").as("total_words"),
          sum("bpe_tokens").as("total_bpe_tokens"),
          sum("base_symbols").as("total_base_symbols"))
        .withColumn("fertility",
          col("total_bpe_tokens").cast("double") / col("total_words").cast("double"))
        .withColumn("compression",
          col("total_base_symbols").cast("double") / col("total_bpe_tokens").cast("double"))
    },
    None,
    Some(() => merges.forOracle.map { ms =>
      s"""WITH b AS (${tokenizeOracleSql(ms)})
      SELECT d.lang, count(1) AS n_docs,
             CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS total_words,
             CAST(SUM(b.bpe_tokens) AS BIGINT) AS total_bpe_tokens,
             CAST(SUM(b.base_symbols) AS BIGINT) AS total_base_symbols,
             CAST(SUM(b.bpe_tokens) AS DOUBLE)
               / CAST(SUM(len(string_split(d.text, ' '))) AS DOUBLE) AS fertility,
             CAST(SUM(b.base_symbols) AS DOUBLE)
               / CAST(SUM(b.bpe_tokens) AS DOUBLE) AS compression
      FROM b JOIN documents d ON b.doc_id = d.doc_id
      GROUP BY d.lang"""
    }))

  val all: Seq[Q] = Seq(bpeTokenize, tokenizerFertility)
}
