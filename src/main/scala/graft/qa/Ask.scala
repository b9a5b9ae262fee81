package graft.qa

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lineage.Lineage
import graft.model.ScriptLineage
import graft.pipelines.Repo

/** Hybrid lineage Q&A — the reference's `qa/ask.py` entry point end-to-end:
  * candidate-column extraction → downstream column closure → script BFS →
  * gold outputs → vector retrieval → capped evidence → grounded answer.
  * Deterministic offline answerer by default; plug an LLM via QA.AnswerClient
  * without touching the truth path.
  *
  * One-shot: sbt "runMain graft.qa.Ask <sfDir> <question...>"
  * REPL (qa/ask.py:377-388,476-519 / qa/query.py:424-474 — multiline
  * questions, blank line submits, debug counters):
  *   sbt "runMain graft.qa.Ask --repl <sfDir>"
  * query.py-shaped hybrid evidence + system-role prompt (graft.qa.Query):
  *   sbt "runMain graft.qa.Ask --hybrid [--repl] <sfDir> [question...]"
  */
object Ask {

  final case class Result(answer: String, evidence: Seq[(String, String)],
      candidates: Seq[String])

  /** Evidence DataFrame + extracted candidates + a cleanup that unpersists
    * the per-QUESTION cache once the evidence has been materialized. The
    * question-independent frames come from the knowledge base ([[QA.Kb]]).
    * The question-dependent work (impact closure, script BFS, gold outputs,
    * retrieval hits) still runs per question; only the hits frame is
    * persisted, and the returned cleanup releases it. */
  private[graft] def evidenceFrameManaged(spark: SparkSession, sfDir: String,
      question: String, cfg: QaConfig = QaConfig.default)
      : (DataFrame, Seq[String], () => Unit) = {
    import spark.implicits._
    val ls: Seq[ScriptLineage] = Repo.cachedLineage(spark, sfDir)
    val edges = QA.Kb.edges(spark, sfDir)
    // ONE bounded read of the column-edge table replaces the per-question
    // known-columns / impact-closure / seed-script jobs: column lineage is
    // repo METADATA (O(scripts × columns), the sha1-pinned q25 table), so at
    // any plausible repo size the full edge list fits on the driver and the
    // BFS/set work is instant Scala. A repo that outgrows the read falls
    // back to the distributed frames.
    val (cands, impact, seeds) =
      Lineage.collectIfSmall(edges.select("srcCol", "targetCol", "script")) match {
        case Some(rows) =>
          val cands = QA.candidateColumns(question,
            rows.iterator.flatMap(r => Seq(r.getString(0), r.getString(1))).toSet,
            cfg.maxImpactCols)
          // columnGraph's closure-relevant content is the (src, dst) pairs
          // minus self-loops; min-depth merge across candidates mirrors the
          // frame-side groupBy(column).min(depth)
          val pairs = rows.iterator.map(r => (r.getString(0), r.getString(1)))
            .filter(p => p._1 != p._2).toSeq.distinct
          val merged = cands.flatMap(c =>
              Lineage.driverBfsSeq(pairs, Seq(c), includeSeeds = false, limit = 2000))
            .groupBy(_._1).map { case (c, ds) => (c, ds.map(_._2).min) }.toSeq
          val seeds = cands.flatMap { c =>
            rows.iterator.filter(r => r.getString(0) == c || r.getString(1) == c)
              .map(_.getString(2)).toSeq.distinct.sorted
          }.distinct
          (cands, Lineage.localDepthFrame(spark, merged, "column"), seeds)
        case None =>
          val cands = QA.candidateColumns(question, QA.knownColumns(edges),
            cfg.maxImpactCols)
          val impact = cands
            .map(Lineage.downstreamClosure(spark, Lineage.columnGraph(edges), _))
            .reduceOption(_ unionByName _)
            .getOrElse(Seq.empty[(String, Int)].toDF("column", "depth"))
            .groupBy("column").agg(min("depth").as("depth"))
          (cands, impact, cands.flatMap(Lineage.seedScriptsForColumn(edges, _)).distinct)
      }
    val links = Lineage.stitch(spark, ls)
    val scripts = Lineage.downstreamScripts(spark, links, seeds)
    val gold = Lineage.goldOutputs(spark, ls, scripts)
    val docs = QA.Kb.corpus(spark, sfDir)
    val hits = QA.retrieve(spark, QA.Kb.docVecs(spark, sfDir),
      QA.embed(Seq(("question", question)).toDF("id", "text"), "text"),
      k = cfg.topK).cache()
    val cleanup = () => { hits.unpersist(); () }
    (QA.evidence(spark, impact, scripts, gold, hits,
      docs.as[graft.model.CorpusDoc], cfg), cands, cleanup)
  }

  def ask(spark: SparkSession, sfDir: String, question: String,
      answerer: QA.AnswerClient = QA.DeterministicAnswerer,
      cfg: QaConfig = QaConfig.default): Result = {
    val (ev, cands, cleanup) = evidenceFrameManaged(spark, sfDir, question, cfg)
    val evidence = try ev.orderBy("sec", "ord").collect()
      .map(r => (r.getAs[String]("section"), r.getAs[String]("line"))).toSeq
      finally cleanup()
    Result(answerer.answer(question, evidence), evidence, cands)
  }

  /** Answer one question in the selected mode and print the reference's
    * ANSWER + debug-counter block (ask.py:377-388 / query.py:460-470). */
  private def answerOnce(spark: SparkSession, sfDir: String, question: String,
      hybrid: Boolean, cfg: QaConfig = QaConfig.default): Unit =
    if (hybrid) {
      val h = Query.hybridEvidence(spark, sfDir, question, cfg)
      println("\nANSWER:\n")
      println(Query.answer(question, h))
      println("\n--- Debug ---")
      println(s"candidate_cols: ${h.candidates.mkString("[", ", ", "]")}")
      println(s"retrieved_docs: ${h.retrievedDocs}")
      println("-------------\n")
    } else {
      val r = ask(spark, sfDir, question, cfg.answerClient, cfg)
      println("\nANSWER:\n")
      println(r.answer)
      println("\n--- Debug ---")
      println(s"candidate_cols: ${r.candidates.mkString("[", ", ", "]")}")
      println(s"evidence_lines: ${r.evidence.size}")
      println("-------------\n")
    }

  /** Interactive loop: multiline question buffered until a blank line
    * submits it; EOF or Ctrl+C exits (ask.py:476-519, query.py:424-474). */
  def repl(spark: SparkSession, sfDir: String, hybrid: Boolean,
      cfg: QaConfig = QaConfig.default): Unit = {
    println(if (hybrid) "\nLineage Q&A ready (HYBRID always)."
      else "\nLineage Q&A ready.")
    println("Paste multi-line questions. Press ENTER twice to submit. Ctrl+C to exit.\n")
    var buf = Vector.empty[String]
    var line: String = null
    while ({ line = scala.io.StdIn.readLine(); line != null }) {
      if (line.trim.isEmpty && buf.nonEmpty) {
        val question = buf.mkString("\n").trim
        buf = Vector.empty
        answerOnce(spark, sfDir, question, hybrid, cfg)
        println("Ask a lineage question (end with a blank line):")
      } else if (line.trim.nonEmpty) buf :+= line
    }
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val rest = args.filterNot(_.startsWith("--"))
    // `--config=<path>`: JSON config analog of the reference's config.json
    // (ask.py CFG_PATH); without it, reference defaults apply
    val cfg = flags.collectFirst { case f if f.startsWith("--config=") =>
      QaConfig.load(f.stripPrefix("--config="))
    }.getOrElse(QaConfig.default)
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val question = if (rest.length > 1) rest.drop(1).mkString(" ")
      else "What is impacted downstream if `amount` changes?"
    val spark = graft.Harness.session()
    if (flags.contains("--repl")) repl(spark, sfDir, flags.contains("--hybrid"), cfg)
    else answerOnce(spark, sfDir, question, flags.contains("--hybrid"), cfg)
    spark.stop()
  }
}
