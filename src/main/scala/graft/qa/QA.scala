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
    * shared by Query, the q29/q44 queries and the retrieval aux dump, and
    * warm across repeated questions. The corpus is built from the cached
    * edges and the embeddings from the cached corpus, so an entry holds the
    * same plan whichever consumer installs it first.
    *
    * [[Kb.snapshot]] collects the same knowledge base into driver values,
    * the reference's in-memory dict graph plus flat index: Ask answers from
    * it with no Spark job. */
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

    /** The knowledge base as driver values:
      *  - `colPairs`: the column graph's distinct (src, dst) pairs, self-loops
      *    dropped, as [[Lineage.columnGraph]] keeps them;
      *  - `scriptsByCol`: each column an edge names, as source or target, to
      *    the sorted scripts of those edges (the A21 seed sets); its keys are
      *    the known-column set;
      *  - `links`: the stitched (fromScript, toScript) pairs;
      *  - `goldWrites`: the (script, path) writes with a `gold` path segment
      *    (A22; qa/ask.py:343-360);
      *  - `texts` and `vecs`: corpus text and embedding by doc id. */
    final case class Snapshot(
        colPairs: Seq[(String, String)],
        scriptsByCol: Map[String, Seq[String]],
        links: Seq[(String, String)],
        goldWrites: Seq[(String, String)],
        texts: Map[String, Seq[String]],
        vecs: IndexedSeq[(String, Array[Double])])

    private val snapshots =
      scala.collection.concurrent.TrieMap.empty[String, (Long, Snapshot)]
    private val snapshotLocks = scala.collection.concurrent.TrieMap.empty[String, Object]
    private val builds = new java.util.concurrent.atomic.AtomicLong

    /** The [[Snapshot]] of `sfDir`, collected once from the frames above
      * and rebuilt when the dir's fingerprint changes — the staleness rule
      * of the `qa_*` entries. Concurrent callers on a cold dir build it
      * once, under that dir's lock. Every collect is bounded
      * ([[Lineage.collectSmall]]): a knowledge base past the bound fails
      * here, naming the dir. */
    def snapshot(spark: SparkSession, sfDir: String): Snapshot = {
      def fresh(fp: Long) = snapshots.get(sfDir).collect { case (`fp`, kb) => kb }
      fresh(graft.ops.Artifacts.fingerprint(spark, sfDir)).getOrElse {
        snapshotLocks.getOrElseUpdate(sfDir, new Object).synchronized {
          val fp = graft.ops.Artifacts.fingerprint(spark, sfDir)
          fresh(fp).getOrElse {
            val kb = buildSnapshot(spark, sfDir)
            builds.incrementAndGet()
            snapshots.put(sfDir, (fp, kb))
            kb
          }
        }
      }
    }

    /** Snapshots built so far in this JVM, and a way to make a dir cold —
      * for tests of the build-once contract. */
    private[graft] def snapshotBuilds: Long = builds.get
    private[graft] def dropSnapshot(sfDir: String): Unit = snapshots.remove(sfDir)

    private def buildSnapshot(spark: SparkSession, sfDir: String): Snapshot = {
      val ls = Repo.cachedLineage(spark, sfDir)
      def rows(df: DataFrame, what: String) = Lineage.collectSmall(df, s"$what of $sfDir").toSeq
      val edgeRows = rows(edges(spark, sfDir).select("srcCol", "targetCol", "script"),
        "the lineage edges").map(r => (r.getString(0), r.getString(1), r.getString(2)))
      val links = rows(Lineage.stitch(spark, ls).select("fromScript", "toScript").distinct(),
        "the stitched links").map(r => (r.getString(0), r.getString(1)))
      val texts = rows(corpus(spark, sfDir).select("id", "text"), "the corpus")
        .groupMap(_.getString(0))(_.getString(1))
      val vecs = rows(docVecs(spark, sfDir), "the corpus embeddings")
        .map(r => (r.getString(0), r.getSeq[Double](1).toArray)).toIndexedSeq
      Snapshot(
        colPairs = edgeRows.collect { case (s, t, _) if s != t => (s, t) }.distinct,
        scriptsByCol = edgeRows.flatMap { case (s, t, sc) => Seq(s -> sc, t -> sc) }
          .groupMap(_._1)(_._2).view.mapValues(_.distinct.sorted).toMap,
        links = links,
        goldWrites = ls.flatMap(_.assets)
          .filter(a => a.direction == "write" && a.path.split("/", -1).contains("gold"))
          .map(a => (a.script, a.path)).distinct,
        texts = texts,
        vecs = vecs)
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

  /** [[embed]] of one text on the driver, bit-identical to it: the same
    * tokens, XXH64 (seed 42) buckets `pmod` `dim`, counts divided by the
    * square root of their sequential sum of squares. None when the text has
    * no token, where [[embed]] emits no row. */
  def embedLocal(text: String, dim: Int = Dim): Option[Array[Double]] = {
    // regexp_replace runs before lower, so lower only ever sees ASCII
    val toks = s"$text ${text.replace('_', ' ')}".replaceAll("[^a-zA-Z0-9_]+", " ")
      .toLowerCase(java.util.Locale.ROOT).split(" ", -1).filter(_.nonEmpty)
    if (toks.isEmpty) None
    else {
      val v = new Array[Double](dim)
      toks.foreach { t =>
        val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
        v(Math.floorMod(h, dim.toLong).toInt) += 1.0
      }
      var ss = 0.0
      v.foreach(x => ss += x * x)
      val norm = math.sqrt(ss)
      Some(v.map(_ / norm))
    }
  }

  /** [[retrieve]] for one query vector on the driver: brute-force L2 over
    * every doc vector (the `vec_l2sq` fold, then `sqrt`), ordered by
    * (dist, id); the first `k` doc ids with their 1-based ranks. */
  def retrieveLocal(docVecs: Seq[(String, Array[Double])], q: Array[Double],
      k: Int = TopK): Seq[(String, Long)] =
    docVecs.map { case (id, v) => (math.sqrt(graft.functions.VectorFunctions.l2sq(q, v)), id) }
      .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String))
      .take(k).zipWithIndex.map { case ((_, id), i) => (id, i + 1L) }

  /** Candidate column extraction from a question (A20; qa/ask.py:226-244):
    * backticked tokens first, then bare identifier tokens — BOTH filtered to
    * the known-column set, matching the reference (an unknown ticked token
    * must not consume one of the max-3 slots). */
  def candidateColumns(question: String, known: Set[String], max: Int = 3): Seq[String] = {
    val ticked = "`([A-Za-z0-9_]+)`".r.findAllMatchIn(question).map(_.group(1)).toSeq
    val idents = "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(question).toSeq
    (ticked ++ idents).filter(known.contains).distinct.take(max)
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
