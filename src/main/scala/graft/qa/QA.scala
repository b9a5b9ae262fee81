package graft.qa

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.lineage.Lineage
import graft.model._
import graft.pipelines.Repo

/** Lineage Q&A layer — corpus build, deterministic embeddings, exact top-k
  * retrieval, candidate extraction, evidence assembly and grounded answering
  * (reference: qa/build_corpus.py, qa/embed_index.py, qa/ask.py). Differences
  * by design:
  *  - lineage_edge docs are actually emitted (reference emits zero — key bug,
  *    build_corpus.py:91-92, SURVEY §4.3.2);
  *  - embeddings are deterministic hashed bag-of-tokens vectors behind the
  *    same (text → float[dim]) interface a remote embedder would implement —
  *    no network in the truth path;
  *  - retrieval is exact brute-force top-k like FAISS IndexFlatL2
  *    (embed_index.py:42 — IndexFlatL2 IS brute force, so parity is exact),
  *    broadcast-query + window, identical to the Similarity operators.
  */
object QA {

  val Dim = 256
  val TopK = 25 // qa/ask.py:32

  /** Acceptance questions (reference README.md:261-271 class). */
  val Questions: Seq[String] = Seq(
    "What is impacted downstream if `amount` changes?",
    "Where does avg_daily_spend come from?",
    "Which scripts reference total_spend?")

  /** The question-independent knowledge base of an sf dir — lineage edges,
    * column graph, corpus and corpus embeddings — each defined once here and
    * held by PlanCache: one bounded persisted copy per (session, sf dir),
    * shared by Ask, Query and the q29/q44 queries and warm across repeated
    * questions. The corpus is built from the cached edges and the
    * embeddings from the cached corpus, so an entry holds the same plan
    * whichever consumer installs it first. */
  object Kb {
    def edges(spark: SparkSession, sfDir: String): Dataset[Edge] = {
      import spark.implicits._
      graft.PlanCache.cached(spark, "qa_edges", sfDir, sfDir) {
        Lineage.edges(spark, Repo.cachedLineage(spark, sfDir)).toDF()
      }.as[Edge]
    }

    def graph(spark: SparkSession, sfDir: String): DataFrame =
      graft.PlanCache.cached(spark, "qa_graph", sfDir, sfDir) {
        Lineage.columnGraph(edges(spark, sfDir))
      }

    def corpus(spark: SparkSession, sfDir: String): DataFrame =
      graft.PlanCache.cached(spark, "qa_corpus", sfDir, sfDir) {
        QA.corpus(spark, Repo.cachedLineage(spark, sfDir), edges(spark, sfDir)).toDF()
      }

    def docVecs(spark: SparkSession, sfDir: String): DataFrame =
      graft.PlanCache.cached(spark, "qa_docvecs", sfDir, sfDir) {
        embed(corpus(spark, sfDir), "text")
      }
  }

  /** Every column an edge names, as source or target — the known-column set
    * candidate extraction filters against, in one job. */
  def knownColumns(edges: Dataset[Edge]): Set[String] =
    edges.select(explode(array(col("srcCol"), col("targetCol")))).distinct()
      .collect().map(_.getString(0)).toSet

  /** Corpus docs with stable sha1 ids (A14; qa/build_corpus.py:50-198). */
  def corpus(spark: SparkSession, lineages: Seq[ScriptLineage],
      edges: Dataset[Edge]): Dataset[CorpusDoc] = {
    import spark.implicits._
    val scriptDocs = lineages.map { sl =>
      val reads = sl.assets.filter(_.direction == "read").map(a => s"- ${a.format} ${a.path}")
      val writes = sl.assets.filter(_.direction == "write").map(a => s"- ${a.df} -> ${a.format} ${a.path}")
      val dfs = sl.dfs.map(d => s"- ${d.name}")
      val text = s"SCRIPT: ${sl.script}\nREADS:\n${reads.mkString("\n")}\n" +
        s"WRITES:\n${writes.mkString("\n")}\nDATAFRAMES:\n${dfs.mkString("\n")}"
      CorpusDoc("", text, "script", sl.script, "", "")
    }
    val derivedDocs = for {
      sl <- lineages; d <- sl.dfs; c <- d.columns
      if c.transformation == "project" || c.transformation == "window"
    } yield CorpusDoc("",
      s"SCRIPT: ${sl.script}\nDATAFRAME: ${d.name}\nDERIVED_COLUMN: ${c.name}\n" +
        s"EXPRESSION: ${c.expression}\nSOURCE_COLUMNS: ${c.sources.mkString("[", ", ", "]")}",
      "derived", sl.script, d.name, c.name)
    val aggDocs = lineages.flatMap(_.aggs).map { a =>
      CorpusDoc("",
        s"SCRIPT: ${a.script}\nDATAFRAME: ${a.df}\nAGGREGATION: ${a.column}\n" +
          s"FUNCTION: ${a.function}\nSOURCE_COLUMNS: ${a.sources.mkString("[", ", ", "]")}\n" +
          s"GROUP_BY: ${a.groupBy.mkString("[", ", ", "]")}",
        "aggregation", a.script, a.df, a.column)
    }
    val joinDocs = lineages.flatMap(_.joins).map { j =>
      CorpusDoc("",
        s"SCRIPT: ${j.script}\nRESULT_DF: ${j.df}\nJOIN: ${j.joinType}\n" +
          s"ON: ${j.condition}\nLEFT: ${j.leftCols.mkString("[", ", ", "]")}\n" +
          s"RIGHT: ${j.rightCols.mkString("[", ", ", "]")}",
        "join", j.script, j.df, "")
    }
    val local = spark.createDataset(scriptDocs ++ derivedDocs ++ aggDocs ++ joinDocs)
    val edgeDocs = edges.select(
      lit("").as("id"),
      concat(lit("SCRIPT: "), col("script"), lit("\nLINEAGE_EDGE: "),
        col("srcDf"), lit("."), col("srcCol"), lit(" -> "),
        col("df"), lit("."), col("targetCol"), lit("\nREASON: "), col("reason")).as("text"),
      lit("lineage_edge").as("docType"),
      col("script"), col("df"), col("targetCol").as("column")).as[CorpusDoc]
    local.unionByName(edgeDocs)
      .withColumn("id", sha1(concat_ws("||", col("docType"), col("script"),
        col("df"), col("column"), col("text"))))
      .as[CorpusDoc]
  }

  /** Deterministic hashed bag-of-tokens embedding (A15 stand-in for the remote
    * Titan embedder): token → xxhash64 bucket, L2-normalized counts. Pure
    * codegen'd HOFs — no UDF, no collect. */
  def embed(docs: DataFrame, textCol: String, dim: Int = Dim): DataFrame = {
    // index snake_case identifiers both whole and as subtokens so questions
    // phrased in words ("avg daily spend") still hit `avg_daily_spend` docs
    val tokens = docs.withColumn("tok",
      explode(split(lower(regexp_replace(
        concat_ws(" ", col(textCol), translate(col(textCol), "_", " ")),
        "[^a-zA-Z0-9_]+", " ")), " ")))
      .filter(col("tok") =!= "")
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(dim)).cast("int"))
    val counts = tokens.groupBy(col("id"), col("bucket")).agg(count(lit(1)).cast("double").as("cnt"))
    counts.groupBy("id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("cnt")))).as("m"))
      .withColumn("vraw", expr(s"transform(sequence(0, ${dim - 1}), i -> coalesce(m[i], 0D))"))
      .withColumn("norm", expr("sqrt(aggregate(vraw, 0D, (acc, x) -> acc + x * x))"))
      .withColumn("v", expr("transform(vraw, x -> x / norm)"))
      .select(col("id"), col("v"))
  }

  /** Exact top-k retrieval by L2 distance over normalized embeddings (A16/A17):
    * broadcast the query vector, one scan, window top-k. */
  def retrieve(spark: SparkSession, docVecs: DataFrame, queryVec: DataFrame,
      k: Int = TopK): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val q = queryVec.select(col("id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("id"))
    docVecs.join(broadcast(q))
      .withColumn("dist", expr("sqrt(vec_l2sq(qv, v))"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("doc_id"), col("rank"), col("dist"))
  }

  /** Candidate column extraction from a question (A20; qa/ask.py:226-244):
    * backticked tokens first, then bare identifier tokens — BOTH filtered to
    * the known-column set, matching the reference (an unknown ticked token
    * must not consume one of the max-3 slots). */
  def candidateColumns(question: String, known: Set[String], max: Int = 3): Seq[String] = {
    val ticked = "`([A-Za-z0-9_]+)`".r.findAllMatchIn(question).map(_.group(1)).toSeq
    val idents = "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(question).toSeq
    (ticked ++ idents).filter(known.contains).distinct.take(max)
  }

  /** Evidence assembly (A23; qa/ask.py:391-450): deterministic sections with
    * the reference's caps (overridable via [[QaConfig]]), one row per
    * evidence line. Each row carries an explicit (sec, ord) position — the
    * section ordinal and the 1-based within-section rank under that
    * section's canonical sort — so consumers (the grounded answerer's
    * take-10, q183's line fold) order by columns instead of relying on
    * collect-order, which Spark does not guarantee across a union. The
    * caps are applied as rank filters over the same sort, identical to the
    * previous orderBy+limit. */
  def evidence(spark: SparkSession, impactCols: DataFrame, impactedScripts: DataFrame,
      gold: DataFrame, hits: DataFrame, corpusDocs: Dataset[CorpusDoc],
      cfg: QaConfig = QaConfig.default): DataFrame = {
    // single-partition windows: every section frame is metadata-scale
    // (display-capped at 80/50/60/25 rows) — the warning is acceptable
    def ranked(df: DataFrame, sec: Int, cap: Int, order: Seq[org.apache.spark.sql.Column],
        section: String, line: org.apache.spark.sql.Column): DataFrame =
      df.withColumn("ord", row_number().over(Window.orderBy(order: _*)).cast("long"))
        .filter(col("ord") <= cap)
        .select(lit(sec).as("sec"), col("ord"), lit(section).as("section"), line.as("line"))
    val impact = ranked(impactCols, 1, cfg.maxImpactShow,
      Seq(col("depth"), col("column")), "IMPACTED_COLUMN",
      concat(col("column"), lit(" (depth "), col("depth"), lit(")")))
    val scripts = ranked(impactedScripts, 2, cfg.maxScriptsShow,
      Seq(col("depth"), col("script")), "IMPACTED_SCRIPT", col("script"))
    val goldLines = ranked(gold, 3, cfg.maxGoldShow,
      Seq(col("path"), col("script")), "GOLD_OUTPUT",
      concat(col("script"), lit(" -> "), col("path")))
    val facts = hits.join(corpusDocs.select(col("id").as("doc_id"), col("text")), "doc_id")
      .select(lit(4).as("sec"), col("rank").as("ord"), lit("FACT").as("section"),
        concat(lit("["), col("rank"), lit("] "), col("text")).as("line"))
    impact.unionByName(scripts).unionByName(goldLines).unionByName(facts)
  }

  /** Grounded answering (A24): pluggable; default is the deterministic offline
    * formatter — answers strictly from evidence or says it cannot
    * (qa/ask.py:82-113 rules, without the network call). */
  trait AnswerClient {
    def answer(question: String, evidenceLines: Seq[(String, String)]): String
  }

  object DeterministicAnswerer extends AnswerClient {
    def answer(question: String, ev: Seq[(String, String)]): String =
      if (ev.isEmpty) "Unknown from available lineage metadata."
      else {
        val bySection = ev.groupBy(_._1)
        val sb = new StringBuilder(s"QUESTION: $question\n")
        for (s <- Seq("IMPACTED_COLUMN", "IMPACTED_SCRIPT", "GOLD_OUTPUT", "FACT")) {
          bySection.get(s).foreach { lines =>
            sb.append(s"$s (${lines.size}):\n")
            lines.take(10).foreach { case (_, l) => sb.append(s"  - $l\n") }
          }
        }
        sb.toString
      }
  }
}
