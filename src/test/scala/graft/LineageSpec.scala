package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lineage.Lineage
import graft.pipelines.Repo
import graft.qa.QA
import graft.render.Mermaid

class LineageSpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val lineages = Repo.lineage(spark, sfDir)
  lazy val edges = Lineage.edges(spark, lineages)

  /** The reference's stitched graph topology — same 11 writer→reader links as
    * /root/reference/outputs/repo_graph.json:1-59 (script names sans .py,
    * asset paths sans bucket prefix). */
  val goldenLinks = Set(
    ("script_01_bronze_ingest_orders", "script_03_fact_orders_enriched", "bronze/orders"),
    ("script_02_dim_customer_latest", "script_03_fact_orders_enriched", "silver/dim_customer"),
    ("script_03_fact_orders_enriched", "script_05_sales_margin_rank", "gold/fact_orders_enriched"),
    ("script_04_dim_product_sql_cte", "script_05_sales_margin_rank", "silver/dim_product"),
    ("script_03_fact_orders_enriched", "script_07_fraud_scoring", "gold/fact_orders_enriched"),
    ("script_06_web_sessionization", "script_07_fraud_scoring", "gold/web_sessions"),
    ("script_02_dim_customer_latest", "script_08_delta_merge_scd1_customer", "silver/dim_customer"),
    ("script_03_fact_orders_enriched", "script_10_mart_customer_value", "gold/fact_orders_enriched"),
    ("script_07_fraud_scoring", "script_10_mart_customer_value", "gold/fact_orders_risk_scored"),
    ("script_02_dim_customer_latest", "script_10_mart_customer_value", "silver/dim_customer"),
    ("script_a_customer_agg", "script_b_join_products", "curated/customer_agg"))

  test("stitching reproduces the reference's 11 cross-script links exactly") {
    val links = Lineage.stitch(spark, lineages).collect()
      .map(l => (l.fromScript, l.toScript, l.asset)).toSet
    assert(links === goldenLinks)
  }

  test("every script extracts dfs, and sinks/sources are classified") {
    assert(lineages.size === 12)
    lineages.foreach { sl =>
      assert(sl.dfs.nonEmpty, s"${sl.script} has no df nodes")
      assert(sl.dfs.count(_.kind == "sink") === 1, s"${sl.script} sink count")
      assert(sl.dfs.exists(_.kind == "source"), s"${sl.script} has no source")
      assert(sl.assets.exists(_.direction == "read"), s"${sl.script} has no reads")
      assert(sl.assets.count(_.direction == "write") === 1)
    }
  }

  test("plan-based provenance: script_03 rolling sum derives from bronze amount") {
    val e = edges.filter(col("script") === "script_03_fact_orders_enriched"
      && col("targetCol") === "rolling_7_sum").collect()
    assert(e.nonEmpty, "no rolling_7_sum edge")
    assert(e.exists(_.srcCol == "amount"), s"sources: ${e.map(x => x.srcDf + "." + x.srcCol).mkString(",")}")
  }

  test("aggregations are captured deterministically (no LLM)") {
    val aggs = lineages.flatMap(_.aggs)
    assert(aggs.exists(a => a.script == "script_a_customer_agg" && a.function == "sum"
      && a.groupBy.contains("l_suppkey")))
    assert(aggs.exists(a => a.script == "script_06_web_sessionization" && a.function == "count"))
  }

  test("joins capture type and keys through aliases (exprId-exact)") {
    val joins = lineages.flatMap(_.joins)
    val j3 = joins.filter(_.script == "script_03_fact_orders_enriched")
    assert(j3.exists(j => j.joinType.contains("left") && j.leftCols.contains("o_custkey")
      && j.rightCols.contains("customer_id")), j3.toString)
  }

  test("column impact closure: bronze amount reaches mart avg_daily_spend") {
    val closure = Lineage.driverBfsSeq(QA.Kb.snapshot(spark, sfDir).colPairs,
      Seq("amount"), includeSeeds = false, limit = 2000).map(_._1).toSet
    assert(closure.contains("rolling_7_sum"))
    assert(closure.contains("daily_spend"))
    assert(closure.contains("avg_daily_spend"))
    assert(closure.contains("total_spend"))
  }

  test("script BFS + gold outputs for amount") {
    val ev = graft.qa.Ask.ask(spark, sfDir, "What is impacted downstream if `amount` changes?")
      .evidence
    val names = ev.collect { case ("IMPACTED_SCRIPT", l) => l }.toSet
    assert(names.contains("script_10_mart_customer_value"))
    val gold = ev.collect { case ("GOLD_OUTPUT", l) => l.split(" -> ", 2)(1) }.toSet
    assert(gold.contains("gold/mart_customer_value"))
    assert(gold.contains("gold/fact_orders_enriched"))
  }

  /** The corpus as a frame, for the Spark-side embedding and retrieval. */
  private lazy val corpusDocs = QA.corpus(lineages, Lineage.edges(lineages))
  private lazy val corpusFrame = spark.createDataFrame(corpusDocs)

  test("corpus has all five doc types incl. lineage_edge (reference emits 0)") {
    val types = corpusDocs.groupMapReduce(_.docType)(_ => 1L)(_ + _)
    assert(types.keySet === Set("script", "derived", "aggregation", "join", "lineage_edge"))
    assert(types("script") === 12)
    assert(types("lineage_edge") > 0)
    // ids are stable and unique, and equal Spark's sha1 of the same key
    assert(corpusDocs.map(_.id).distinct.size === corpusDocs.size)
    val viaSpark = corpusFrame.select(sha1(concat_ws("||", col("docType"), col("script"),
      col("df"), col("column"), col("text")))).collect().map(_.getString(0)).toSeq
    assert(viaSpark === corpusDocs.map(_.id))
  }

  test("retrieval returns top-25 ranked docs for a question") {
    val docs = corpusFrame
    val vecs = QA.embed(docs, "text")
    import spark.implicits._
    val qv = QA.embed(Seq(("q", "where does avg_daily_spend come from")).toDF("id", "text"), "text")
    val hits = QA.retrieve(spark, vecs, qv)
    assert(hits.count() === 25)
    val top = hits.orderBy("rank").join(docs.select(col("id").as("doc_id"), col("text")), "doc_id")
      .limit(5).collect().map(_.getAs[String]("text"))
    assert(top.exists(_.contains("avg_daily_spend")), top.mkString("\n---\n"))
  }

  /** Every text the local embedding must match: the acceptance questions,
    * each of their three templates over every lineage column (the
    * benchmark's question stream), one with underscores and non-ASCII text,
    * one with no token at all, and every corpus doc text (the knowledge
    * base's doc vectors). */
  private val NoTokenQuestion = "¿¡ — … ?!"
  private lazy val embedQuestions: Seq[String] = {
    val cols = edges.toDF().select("srcCol", "targetCol").collect()
      .flatMap(r => Seq(r.getString(0), r.getString(1)))
      .filter(_.matches("[A-Za-z_][A-Za-z0-9_]*")).distinct.sorted.toSeq
    val templates = QA.Questions.zip(Seq("`amount`", "avg_daily_spend", "total_spend"))
    QA.Questions ++
      cols.flatMap(c => templates.map { case (q, t) =>
        q.replace(t, if (t.startsWith("`")) s"`$c`" else c) }) ++
      Seq("Où va `total_spend` — straße_Ümlaut naïve_col 日本語 ∑x²?", NoTokenQuestion) ++
      corpusDocs.map(_.text)
  }
  /** QA.embed of [[embedQuestions]], by question index. */
  private lazy val sparkQuestionVecs: Map[Int, Array[Double]] = {
    import spark.implicits._
    QA.embed(embedQuestions.zipWithIndex.map { case (q, i) => (s"$i", q) }
      .toDF("id", "text"), "text").collect()
      .map(r => r.getString(0).toInt -> r.getSeq[Double](1).toArray).toMap
  }

  test("the driver-side question embedding is bit-identical to QA.embed") {
    assert(embedQuestions.size > 3 * 50, embedQuestions.size)
    def bits(v: Array[Double]) = v.map(java.lang.Double.doubleToRawLongBits).toSeq
    embedQuestions.zipWithIndex.foreach { case (q, i) =>
      assert(QA.embedLocal(q).map(bits) === sparkQuestionVecs.get(i).map(bits), q)
    }
    // no token, no vector on either side, so no FACT lines
    assert(QA.embedLocal(NoTokenQuestion).isEmpty)
    assert(!graft.qa.Ask.ask(spark, sfDir, NoTokenQuestion).evidence.exists(_._1 == "FACT"))
  }

  test("the driver-side top-k equals QA.retrieve's (doc_id, rank) for k = 25 and 6") {
    import spark.implicits._
    val docVecs = QA.embed(corpusFrame, "text")
    val local = QA.Kb.snapshot(spark, sfDir).vecs
    val qs = sparkQuestionVecs.toSeq.map { case (i, v) => (s"$i", v.toSeq) }
    for (k <- Seq(25, 6)) {
      val viaSpark = QA.retrieve(spark, docVecs, qs.toDF("id", "v"), k).collect()
        .groupMap(_.getString(0))(r => (r.getString(1), r.getLong(2)))
        .view.mapValues(_.sortBy(_._2).toSeq).toMap
      assert(viaSpark.size === qs.size)
      qs.foreach { case (i, v) =>
        assert(QA.retrieveLocal(local, v.toArray, k) === viaSpark(i),
          s"k=$k: ${embedQuestions(i.toInt)}")
      }
    }
  }

  test("a warm Ask.ask fires no Spark job") {
    val q = QA.Questions.head
    graft.qa.Ask.ask(spark, sfDir, q) // warms the extraction and the snapshot
    val (warm, warmJobs) = jobsFiredBy(graft.qa.Ask.ask(spark, sfDir, q))
    assert(warmJobs === 0)
    assert(warm.evidence.exists(_._1 == "FACT") && warm.evidence.exists(_._1 == "IMPACTED_COLUMN"))
    // a cold snapshot over a warm extraction is derived on the driver too
    QA.Kb.dropSnapshot(sfDir)
    val (cold, coldJobs) = jobsFiredBy(graft.qa.Ask.ask(spark, sfDir, q))
    assert(coldJobs === 0)
    assert(cold === warm)
  }

  test("a warm Repo.lineage fires no Spark job") {
    val before = Repo.lineage(spark, sfDir) // warms the Tables catalog
    val (after, jobs) = jobsFiredBy(Repo.lineage(spark, sfDir))
    assert(jobs === 0)
    assert(after === before)
  }

  /** [[Repo.stageLineage]] applied stage by stage on the calling thread:
    * what the stage-parallel [[Repo.lineage]] must reproduce. */
  private lazy val serialLineage = {
    val dir = Repo.materialize(spark, sfDir)
    Repo.stages.map(Repo.stageLineage(spark, sfDir, dir, _))
  }

  test("stage-parallel Repo.lineage equals the serial per-stage extraction, in stage order") {
    val parallel = Repo.lineage(spark, sfDir)
    assert(parallel.map(_.script) === Repo.stages.map(_.script))
    assert(parallel.map(graft.extract.ReferenceJson.render)
      === serialLineage.map(graft.extract.ReferenceJson.render))
    assert(parallel === serialLineage)
  }

  test("a cold Repo.lineage's jobs on the pool count in the caller's job group") {
    // a new session has a cold Tables memo, so its reads infer schemas; the
    // caller thread only materializes (a fresh marker, no job), so every
    // counted job ran on a pool thread that inherited the caller's group
    val warm = Repo.lineage(spark, sfDir)
    val (cold, jobs) = jobsFiredBy(Repo.lineage(spark.newSession(), sfDir))
    assert(jobs > 0)
    assert(cold === warm)
  }

  test("two concurrent Repo.lineage callers on the shared session agree with the serial result") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    val expected = serialLineage
    val pool = Executors.newFixedThreadPool(2)
    try {
      val start = new CountDownLatch(1)
      val fs = (1 to 2).map(_ => pool.submit(new Callable[Seq[graft.model.ScriptLineage]] {
        def call() = { start.await(); Repo.lineage(spark, sfDir) }
      }))
      start.countDown()
      fs.foreach(f => assert(f.get(5, TimeUnit.MINUTES) === expected))
    } finally pool.shutdown()
  }

  test("four concurrent asks on a cold dir build one snapshot and agree") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      QA.Kb.dropSnapshot(sfDir)
      val before = QA.Kb.snapshotBuilds
      val start = new java.util.concurrent.CountDownLatch(1)
      val fs = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[graft.qa.Ask.Result] {
        def call() = { start.await(); graft.qa.Ask.ask(spark, sfDir, QA.Questions(1)) }
      }))
      start.countDown()
      val rs = fs.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      assert(QA.Kb.snapshotBuilds - before === 1)
      assert(rs.distinct.size === 1)
      assert(rs.head.evidence.nonEmpty)
    } finally pool.shutdown()
  }

  test("candidate extraction: known backticks first, then known identifiers, max 3") {
    val known = Set("amount", "total_spend", "margin", "net_spend")
    assert(QA.candidateColumns("impact of `net_spend` on amount and margin?", known)
      === Seq("net_spend", "amount", "margin"))
    // an unknown ticked token must not consume a slot (qa/ask.py:230-231)
    assert(QA.candidateColumns("`bogus_col` vs amount, total_spend, margin",
      Set("amount", "total_spend", "margin"))
      === Seq("amount", "total_spend", "margin"))
    assert(QA.candidateColumns("nothing relevant here", known) === Seq.empty)
  }

  test("deterministic answerer grounds in evidence or abstains") {
    assert(QA.DeterministicAnswerer.answer("q", Seq.empty)
      === "Unknown from available lineage metadata.")
    val a = QA.DeterministicAnswerer.answer("q",
      Seq(("IMPACTED_COLUMN", "total_spend (depth 2)"), ("FACT", "[1] SCRIPT: x")))
    assert(a.contains("total_spend") && a.contains("FACT"))
  }

  test("reference-schema JSON render is valid and has the contract keys") {
    val json = graft.extract.ReferenceJson.render(lineages.head)
    // driver-side sanity: must parse as JSON with the reference's keys
    for (key <- Seq("script_name", "dataframes", "df_name", "derived_from",
        "expression", "transformation", "assets", "reads", "writes")) {
      assert(json.contains("\"" + key + "\""), s"missing $key")
    }
  }

  test("query.py hybrid variant: evidence sections, prompt shape, grounded answer") {
    val h = graft.qa.Query.hybridEvidence(spark, sfDir,
      "What is impacted downstream if `amount` changes?")
    // query.py:214-258 evidence shape: both section headers, per-candidate
    // traversal block, numbered FAISS facts with collapsed whitespace
    assert(h.candidates === Seq("amount"))
    assert(h.evidenceText.contains("=== DETERMINISTIC IMPACT (GRAPH TRAVERSAL) ==="))
    assert(h.evidenceText.contains("=== RETRIEVED LINEAGE FACTS (FAISS TOP-K) ==="))
    assert(h.evidenceText.contains("Start column: amount"))
    assert(h.evidenceText.contains("Direct (1-hop) edges with reasons:"))
    assert(h.retrievedDocs === graft.qa.QA.TopK.toLong)
    assert(h.evidenceText.linesIterator.exists(_.matches("""01\. [0-9a-f]{40} :: .*""")))
    // query.py:41-66 request shape: system-role grounding prompt + user
    // message, top-level temperature / max_tokens
    val req = graft.qa.Query.renderRequest("q?", h.evidenceText)
    assert(req.contains("\"role\":\"system\""))
    assert(req.contains("\"role\":\"user\""))
    assert(req.contains("metadata lineage Q&A assistant"))
    assert(req.contains("\"temperature\":0.1"))
    assert(req.contains("\"max_tokens\":800"))
    // grounded answer or abstention
    val ans = graft.qa.Query.answer("q?", h)
    assert(ans.contains("DETERMINISTIC IMPACT"))
    val none = graft.qa.Query.Hybrid("", Seq.empty, 0L)
    assert(graft.qa.Query.answer("q?", none)
      === "Unknown from available lineage metadata.")
  }

  test("mermaid render emits overview + per-script graphs") {
    val links = Lineage.stitch(spark, lineages).collect().toSeq
    val html = Mermaid.html(lineages, links, edges.collect().toSeq)
    assert(html.contains("flowchart LR"))
    assert(html.contains("script_10_mart_customer_value"))
    assert(Mermaid.safeId("a.b c/d") === "a_b_c_d")
  }

  test("QA config file: ask.py key fallbacks, required region, caps applied") {
    import graft.qa.{Ask, QaConfig}
    // the shipped example parses and reproduces reference defaults
    val example = QaConfig.load("/root/repo/config.example.json")
    assert(example.region === Some("us-east-1"))
    assert(example.embedModelId === "amazon.titan-embed-text-v2:0")
    assert(example.llmModelId === "amazon.nova-lite-v1:0")
    assert(example.topK === 25 && example.maxGoldShow === 60)
    // missing region raises, like ask.py's load_cfg
    val noRegion = java.nio.file.Files.createTempFile("graft_cfg", ".json")
    java.nio.file.Files.write(noRegion, """{"model_id":"x"}""".getBytes("UTF-8"))
    assertThrows[RuntimeException](QaConfig.load(noRegion.toString))
    // an unknown answerer fails at load, not mid-question
    val badAns = java.nio.file.Files.createTempFile("graft_cfg", ".json")
    java.nio.file.Files.write(badAns,
      """{"region":"us-east-1","answerer":"nova-live"}""".getBytes("UTF-8"))
    assertThrows[RuntimeException](QaConfig.load(badAns.toString))
    // a tightened config drives Ask end-to-end and its caps bind: top_k 6
    // FACT lines, max one impacted column traversed
    val tight = java.nio.file.Files.createTempFile("graft_cfg", ".json")
    java.nio.file.Files.write(tight,
      """{"aws_region":"us-east-1","top_k":6,"max_impact_cols":1,
         "max_scripts_show":2}""".getBytes("UTF-8"))
    val cfg = QaConfig.load(tight.toString)
    val r = Ask.ask(spark, sfDir,
      "Where does `avg_daily_spend` come from and what depends on `amount`?",
      cfg.answerClient, cfg)
    assert(r.candidates.size === 1) // max_impact_cols bound the extraction
    val sections = r.evidence.groupBy(_._1).view.mapValues(_.size).toMap
    assert(sections.getOrElse("FACT", 0) === 6)
    assert(sections.getOrElse("IMPACTED_SCRIPT", 0) <= 2)
    assert(r.answer.nonEmpty)
  }

  /** Canonical content digest of a whole result: every column rendered to a
    * string, rows fully ordered, sha1 over the joined text — so ANY semantic
    * drift in the rows-only lineage queries (not just count/topology changes)
    * fails loudly against the pinned literal. */
  private def contentSha1(df: org.apache.spark.sql.DataFrame): String = {
    val canon = df.collect()
      .map(_.toSeq.map(v => if (v == null) " " else v.toString).mkString(""))
      .sorted
      .mkString("\n")
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(canon.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("golden content hashes: q25 edges / q26 links / q28 corpus are byte-stable") {
    // Pinned from the reference-matching build (round 5; q28 re-pinned round
    // 9 when the events ingest conversion — embedded verbatim in the corpus
    // docs' EXPRESSION lines — changed from timestamp_micros(ts div 1000) to
    // cast(ts as timestamp) for the timestamp[us] testdata layout). These
    // outputs are derived purely from the staged DAG + Catalyst plans, so
    // they are data-scale-independent; a legitimate semantic change must
    // re-pin.
    val q25 = SparkEntry.queries("q25_lineage_edges")(spark, sfDir)
    val q26 = SparkEntry.queries("q26_repo_links")(spark, sfDir)
    val q28 = SparkEntry.queries("q28_corpus_docs")(spark, sfDir)
    assert(q25.count() === 130L)
    assert(q26.count() === 11L)
    assert(q28.count() === 226L)
    assert(Seq(contentSha1(q25), contentSha1(q26), contentSha1(q28)) === Seq(
      "3943a0530249bbd6f156462a6c540e56a38d297d", // q25: 130 column edges
      "fda313574b642b485a7ff9442c2c2a04bb8be805", // q26: the 11 stitched links
      "e1202f337a6e016a5acabf6546febb38c7f4b3eb")) // q28: 226 corpus docs
    // Query.hybridEvidence's text for the three acceptance questions, pinned
    // from the Spark frame pipeline the driver-side snapshot replaced
    val hybrid = QA.Questions.map { q =>
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(graft.qa.Query.hybridEvidence(spark, sfDir, q).evidenceText.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    assert(hybrid === Seq(
      "96d5ecbc622556c9a1cfddd6b7b2d07ea74f713a",
      "d074732774bd24ebad4a7bf8ec0b6c6da1057f6a",
      "337c49e74252e96adaf03847dd28c261683655f4"))
  }
}
