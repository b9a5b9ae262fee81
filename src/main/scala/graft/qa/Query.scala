package graft.qa

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

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
  * All graph/retrieval work runs on the knowledge-base frames ([[QA.Kb]]):
  * closures are adaptive — a driver BFS over a metadata-sized edge list, a
  * frontier-join loop past it; retrieval is broadcast-query window top-k;
  * only the final capped formatting is driver-side. (Ask answers from the
  * driver-resident snapshot of the same knowledge base instead.)
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
    import spark.implicits._
    // all question-independent frames come from the knowledge base
    // (QA.Kb); nothing per-question is cached
    val cands = QA.candidateColumns(question,
      QA.knownColumns(QA.Kb.edges(spark, sfDir)), cfg.maxImpactCols)
    val graph = QA.Kb.graph(spark, sfDir)
    val docs = QA.Kb.corpus(spark, sfDir)

    val parts = Seq.newBuilder[String]
    parts += "=== DETERMINISTIC IMPACT (GRAPH TRAVERSAL) ==="
    if (cands.isEmpty)
      parts += "No explicit column found in question to run impact traversal."
    else cands.foreach { c =>
      parts += s"Start column: $c"
      val impacted = Lineage.downstreamClosure(spark, graph, c)
        .orderBy(col("depth"), col("column"))
        .collect().map(_.getString(0)).toSeq
      if (impacted.isEmpty)
        parts += "  No downstream impacted columns found from available lineage."
      else {
        parts += "  Downstream impacted columns:"
        impacted.take(60).foreach(x => parts += s"   - $x")
        if (impacted.size > 60) parts += s"   - ... (${impacted.size - 60} more)"
        parts += "  Direct (1-hop) edges with reasons:"
        graph.filter(col("src") === c)
          .groupBy(col("dst"))
          .agg(array_join(sort_array(collect_set(col("reason"))), "; ").as("why"))
          .orderBy(col("dst")).limit(15)
          .collect()
          .foreach(r => parts += s"   - $c -> ${r.getString(0)}: ${r.getString(1)}")
      }
    }

    parts += "\n=== RETRIEVED LINEAGE FACTS (FAISS TOP-K) ==="
    val hits = QA.retrieve(spark, QA.Kb.docVecs(spark, sfDir),
      QA.embed(Seq(("question", question)).toDF("id", "text"), "text"),
      k = cfg.topK)
      .join(docs.select(col("id").as("doc_id"), col("text")), "doc_id")
      .orderBy(col("rank"))
      .select(col("rank"), col("doc_id"), col("text"))
      .collect()
    hits.foreach { r =>
      val collapsed = r.getString(2).trim.split("\\s+").mkString(" ")
      parts += f"${r.getLong(0)}%02d. ${r.getString(1)} :: $collapsed"
    }
    Hybrid(parts.result().mkString("\n"), cands, hits.length.toLong)
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
