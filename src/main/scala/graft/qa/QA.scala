package graft.qa

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** The question-independent knowledge base of an sf dir, the reference's
    * in-memory dict graph plus flat index: plain Scala values derived once
    * from [[Repo.cachedLineage]], with no Spark job. Ask and Query answer
    * from its [[Kb.snapshot]]; q28, q29, q44 and the retrieval aux dump read
    * its corpus and vectors as local Datasets. */
  object Kb {

    /** The knowledge base derived from one extraction (`lineages`):
      *  - `edges` and `links`: [[Lineage.edges]] and the distinct
      *    (fromScript, toScript) pairs of [[Lineage.stitch]];
      *  - `colPairs`: the global column graph (A18), the distinct
      *    (srcCol, targetCol) pairs of `edges`, self-loops dropped. It is
      *    name-level: same-named columns alias across scripts, as in the
      *    reference (qa/ask.py:185-200, SURVEY §4.3.5). Every column closure
      *    walks it with [[Lineage.driverBfsSeq]];
      *  - `scriptsByCol`: each column an edge names, as source or target, to
      *    the sorted scripts of those edges (the A21 seed sets); its keys are
      *    the known-column set;
      *  - `goldWrites`: the (script, path) writes with a `gold` path segment
      *    (A22; qa/ask.py:343-360);
      *  - `docs`, `texts` and `vecs`: the corpus, its texts by doc id and one
      *    [[embedLocal]] vector per distinct doc id. */
    final class Snapshot private[Kb] (private[Kb] val lineages: Seq[ScriptLineage]) {
      val edges: Seq[Edge] = Lineage.edges(lineages)
      val links: Seq[(String, String)] =
        Lineage.stitch(lineages).map(l => (l.fromScript, l.toScript)).distinct
      val colPairs: Seq[(String, String)] =
        edges.collect { case e if e.srcCol != e.targetCol => (e.srcCol, e.targetCol) }.distinct
      val scriptsByCol: Map[String, Seq[String]] =
        edges.flatMap(e => Seq(e.srcCol -> e.script, e.targetCol -> e.script))
          .groupMap(_._1)(_._2).view.mapValues(_.distinct.sorted).toMap
      val goldWrites: Seq[(String, String)] = lineages.flatMap(_.assets)
        .filter(a => a.direction == "write" && a.path.split("/", -1).contains("gold"))
        .map(a => (a.script, a.path)).distinct
      val docs: Seq[CorpusDoc] = QA.corpus(lineages, edges)
      val texts: Map[String, Seq[String]] = docs.groupMap(_.id)(_.text)
      val vecs: IndexedSeq[(String, Array[Double])] = docs.distinctBy(_.id)
        .flatMap(d => embedLocal(d.text).map(d.id -> _)).toIndexedSeq
    }

    private val snapshots = scala.collection.concurrent.TrieMap.empty[String, Snapshot]
    private val snapshotLocks = scala.collection.concurrent.TrieMap.empty[String, Object]
    private val builds = new java.util.concurrent.atomic.AtomicLong

    /** The [[Snapshot]] of `sfDir`, derived once from the dir's
      * [[Repo.cachedLineage]] and again only if that extraction is replaced.
      * Concurrent callers on a cold dir build it once, under that dir's
      * lock. */
    def snapshot(spark: SparkSession, sfDir: String): Snapshot = {
      val ls = Repo.cachedLineage(spark, sfDir)
      def fresh = snapshots.get(sfDir).filter(_.lineages eq ls)
      fresh.getOrElse {
        snapshotLocks.getOrElseUpdate(sfDir, new Object).synchronized {
          fresh.getOrElse {
            val kb = new Snapshot(ls)
            builds.incrementAndGet()
            snapshots.put(sfDir, kb)
            kb
          }
        }
      }
    }

    /** Snapshots built so far in this JVM, and a way to make a dir cold —
      * for tests of the build-once contract. */
    private[graft] def snapshotBuilds: Long = builds.get
    private[graft] def dropSnapshot(sfDir: String): Unit = snapshots.remove(sfDir)

    /** The snapshot's corpus as a local Dataset, [[CorpusDoc]]'s columns. */
    def corpus(spark: SparkSession, sfDir: String): DataFrame =
      spark.createDataFrame(snapshot(spark, sfDir).docs)

    /** The snapshot's doc vectors as a local (id, v) Dataset, the shape
      * [[embed]] gives. */
    def docVecs(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      snapshot(spark, sfDir).vecs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
    }
  }

  /** Corpus docs (A14; qa/build_corpus.py:50-198): script, derived-column,
    * aggregation and join cards from the extraction, then one card per
    * canonical edge. A doc's id is the lowercase SHA-1 hex of the UTF-8
    * bytes of `docType||script||df||column||text`, which Spark's
    * `sha1(concat_ws("||", …))` gives too. */
  def corpus(lineages: Seq[ScriptLineage], edges: Seq[Edge]): Seq[CorpusDoc] = {
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
    val edgeDocs = edges.map { e =>
      CorpusDoc("",
        s"SCRIPT: ${e.script}\nLINEAGE_EDGE: ${e.srcDf}.${e.srcCol} -> ${e.df}.${e.targetCol}\n" +
          s"REASON: ${e.reason}",
        "lineage_edge", e.script, e.df, e.targetCol)
    }
    (scriptDocs ++ derivedDocs ++ aggDocs ++ joinDocs ++ edgeDocs).map { d =>
      val key = Seq(d.docType, d.script, d.df, d.column, d.text).filter(_ != null).mkString("||")
      val sha = java.security.MessageDigest.getInstance("SHA-1")
        .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.copy(id = sha.map(b => f"$b%02x").mkString)
    }
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
