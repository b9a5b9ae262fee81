package graft.qa

import org.apache.spark.sql.SparkSession

import graft.lineage.Lineage

/** Hybrid lineage Q&A — the reference's `qa/ask.py` entry point end-to-end:
  * candidate-column extraction → downstream column closure → script BFS →
  * gold outputs → vector retrieval → capped evidence → grounded answer.
  * Deterministic offline answerer by default; plug an LLM via QA.AnswerClient
  * without touching the truth path.
  *
  * A question runs no Spark job once its dir's lineage is extracted: every
  * step walks the driver-resident [[QA.Kb.snapshot]], as the reference walks
  * its in-memory dict graph and flat index. The snapshot is derived in plain
  * Scala from [[graft.pipelines.Repo.cachedLineage]] on the first question
  * about a dir.
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

  /** Answer `question` from the knowledge-base snapshot of `sfDir`. The
    * evidence (A23; qa/ask.py:391-450) is four sections in fixed order, each
    * sorted by its canonical key and cut at its [[QaConfig]] cap:
    * IMPACTED_COLUMN by (depth, column), the min depth over the candidates'
    * closures (A19, 2000 nodes each); IMPACTED_SCRIPT by (depth, script),
    * the closure of the candidates' scripts over the stitched links (A21,
    * seeds at depth 0); GOLD_OUTPUT by (path, script), the gold writes of
    * every impacted script, before the script cap (A22); FACT by rank, the
    * top-k docs by L2 distance (A16/A17). */
  def ask(spark: SparkSession, sfDir: String, question: String,
      answerer: QA.AnswerClient = QA.DeterministicAnswerer,
      cfg: QaConfig = QaConfig.default): Result = {
    val kb = QA.Kb.snapshot(spark, sfDir)
    val cands = QA.candidateColumns(question, kb.scriptsByCol.keySet, cfg.maxImpactCols)
    val impact = cands
      .flatMap(c => Lineage.driverBfsSeq(kb.colPairs, Seq(c), includeSeeds = false, limit = 2000))
      .groupMapReduce(_._1)(_._2)(math.min).toSeq
    val scripts = Lineage.driverBfsSeq(kb.links,
      cands.flatMap(kb.scriptsByCol.getOrElse(_, Nil)).distinct, includeSeeds = true)
    val impacted = scripts.map(_._1).toSet
    val hits = QA.embedLocal(question).toSeq.flatMap(QA.retrieveLocal(kb.vecs, _, cfg.topK))
    val evidence =
      impact.sortBy { case (c, d) => (d, c) }.take(cfg.maxImpactShow)
        .map { case (c, d) => "IMPACTED_COLUMN" -> s"$c (depth $d)" } ++
      scripts.sortBy { case (sc, d) => (d, sc) }.take(cfg.maxScriptsShow)
        .map { case (sc, _) => "IMPACTED_SCRIPT" -> sc } ++
      kb.goldWrites.filter(w => impacted(w._1)).sortBy { case (sc, p) => (p, sc) }
        .take(cfg.maxGoldShow).map { case (sc, p) => "GOLD_OUTPUT" -> s"$sc -> $p" } ++
      hits.flatMap { case (id, rank) =>
        kb.texts.getOrElse(id, Nil).map(t => "FACT" -> s"[$rank] $t") }
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
