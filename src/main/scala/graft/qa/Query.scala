package graft.qa

import org.apache.spark.sql.SparkSession

import graft.lineage.Lineage

/** The reference's third Q&A entry point, `qa/query.py` — the "HYBRID always"
  * variant. Differs from ask.py (graft.qa.Ask) in three observable ways, all
  * re-expressed here:
  *
  *  - evidence format (query.py:214-258): a "DETERMINISTIC IMPACT (GRAPH
  *    TRAVERSAL)" section per candidate column (impacted list capped at 60
  *    with a "... (N more)" marker, direct 1-hop edges with joined reasons
  *    capped at 15) followed by "RETRIEVED LINEAGE FACTS (FAISS TOP-K)" as
  *    numbered `NN. doc_id :: text` lines with whitespace collapsed;
  *  - prompt shape (query.py:39-78): a system-role message carrying the
  *    grounding rules plus a user message, with top-level temperature /
  *    max_tokens — rendered by [[renderRequest]]; the network call itself
  *    stays behind QA.AnswerClient, out of the truth path;
  *  - REPL contract (query.py:424-474): multiline questions submitted by a
  *    blank line, with candidate_cols / retrieved_docs debug counters —
  *    implemented in graft.qa.Ask's --repl mode on top of this evidence.
  *
  * It answers from the same driver-resident knowledge base as Ask
  * ([[QA.Kb.snapshot]]): the column closure by [[Lineage.driverBfsSeq]],
  * the 1-hop reasons from the snapshot's edges, retrieval by
  * [[QA.embedLocal]] / [[QA.retrieveLocal]]. A question runs no Spark job.
  */
object Query {

  final case class Hybrid(evidenceText: String, candidates: Seq[String],
      retrievedDocs: Long)

  /** System prompt carried in the system-role message (query.py:47-55). */
  val SystemPrompt: String =
    "You are a metadata lineage Q&A assistant. " +
      "Answer strictly using the provided EVIDENCE. " +
      "If a detail is not in EVIDENCE, say 'Unknown from available lineage metadata.' " +
      "Prefer bullet lists. Be precise and cite script/dataframe/column names exactly as shown."

  /** Build the query.py-shaped evidence for one question. */
  def hybridEvidence(spark: SparkSession, sfDir: String, question: String,
      cfg: QaConfig = QaConfig.default): Hybrid = {
    val kb = QA.Kb.snapshot(spark, sfDir)
    val cands = QA.candidateColumns(question, kb.scriptsByCol.keySet, cfg.maxImpactCols)

    val parts = Seq.newBuilder[String]
    parts += "=== DETERMINISTIC IMPACT (GRAPH TRAVERSAL) ==="
    if (cands.isEmpty)
      parts += "No explicit column found in question to run impact traversal."
    else cands.foreach { c =>
      parts += s"Start column: $c"
      val impacted = Lineage.driverBfsSeq(kb.colPairs, Seq(c), includeSeeds = false, limit = 2000)
        .sortBy { case (k, d) => (d, k) }.map(_._1)
      if (impacted.isEmpty)
        parts += "  No downstream impacted columns found from available lineage."
      else {
        parts += "  Downstream impacted columns:"
        impacted.take(60).foreach(x => parts += s"   - $x")
        if (impacted.size > 60) parts += s"   - ... (${impacted.size - 60} more)"
        parts += "  Direct (1-hop) edges with reasons:"
        kb.edges.filter(e => e.srcCol == c && e.targetCol != c)
          .groupMap(_.targetCol)(e => s"${e.script}: ${e.srcDf}.${e.srcCol} -> " +
            s"${e.df}.${e.targetCol} (${e.reason})")
          .toSeq.sortBy(_._1).take(15)
          .foreach { case (dst, why) => parts += s"   - $c -> $dst: ${why.distinct.sorted.mkString("; ")}" }
      }
    }

    parts += "\n=== RETRIEVED LINEAGE FACTS (FAISS TOP-K) ==="
    val hits = QA.embedLocal(question).toSeq.flatMap(QA.retrieveLocal(kb.vecs, _, cfg.topK))
      .flatMap { case (id, rank) => kb.texts.getOrElse(id, Nil).map((rank, id, _)) }
    hits.foreach { case (rank, id, text) =>
      val collapsed = text.trim.split("\\s+").mkString(" ")
      parts += f"$rank%02d. $id :: $collapsed"
    }
    Hybrid(parts.result().mkString("\n"), cands, hits.size.toLong)
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The exact request body shape query.py:41-66 sends to the chat model:
    * system-role message + user message, top-level temperature/max_tokens.
    * Rendered here so the prompt contract is testable offline; a live
    * AnswerClient would post this verbatim. */
  def renderRequest(question: String, evidence: String,
      temperature: Double = 0.1, maxTokens: Int = 800): String = {
    val user = s"QUESTION:\n$question\n\nEVIDENCE:\n$evidence\n"
    s"""{"messages":[{"role":"system","content":[{"text":"${jsonEscape(SystemPrompt)}"}]},""" +
      s"""{"role":"user","content":[{"text":"${jsonEscape(user)}"}]}],""" +
      s""""temperature":$temperature,"max_tokens":$maxTokens}"""
  }

  /** Deterministic offline answer over the hybrid evidence: grounded lines
    * only, or the abstention sentence — the same contract the system prompt
    * imposes on a live model. */
  def answer(question: String, h: Hybrid): String =
    if (h.candidates.isEmpty && h.retrievedDocs == 0L)
      "Unknown from available lineage metadata."
    else s"QUESTION: $question\n${h.evidenceText}"
}
