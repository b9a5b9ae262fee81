package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.WriteCapture
import graft.lineage.Lineage
import graft.ops.Skew

/** Cluster-infrastructure mechanics: runtime write capture, skew salting,
  * driver/distributed closure equivalence, bucketed shuffle-free joins, and
  * source scans that keep shared decisions in one module. */
class InfraSpec extends AnyFunSuite {
  import SparkTestSession._

  test("QueryExecutionListener captures physical write paths at runtime") {
    val cap = WriteCapture.install(spark)
    try {
      val out = "/root/repo/target/graft_writecap/demo"
      Tables.region(spark, sfDir).write.mode("overwrite").parquet(out)
      assert(cap.await(1), "no write captured within timeout")
      val paths = cap.captured.map(_._2)
      assert(paths.exists(_.contains("graft_writecap/demo")), paths.mkString(","))
      assert(cap.captured.exists(_._1 == "parquet"))
    } finally WriteCapture.uninstall(spark, cap)
  }

  test("salted join is semantically identical to the plain join") {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    val plain = li.join(p, li("l_partkey") === p("p_partkey"), "inner")
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"))
    val salted = Skew.saltedJoin(li, p, li("l_partkey"), p("p_partkey"), "inner", salt = 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"))
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0)
    assert(plain.except(salted).count() === 0)
  }

  test("salted left-outer join preserves unmatched left rows exactly once") {
    import spark.implicits._
    val left = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
      .toDF("k", "lval")
    val right = Seq((1L, "x"), (2L, "y"), (9L, "z")).toDF("rk", "rval")
    val plain = left.join(right, left("k") === right("rk"), "left_outer")
      .select(col("k"), col("lval"), col("rval"))
    val salted = Skew.saltedJoin(left, right, left("k"), right("rk"),
        "left_outer", salt = 4)
      .select(col("k"), col("lval"), col("rval"))
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0)
    assert(plain.except(salted).count() === 0)
  }

  test("salted join rejects right/full outer (right rows would duplicate)") {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer")) {
      val e = intercept[IllegalArgumentException] {
        Skew.saltedJoin(li, p, li("l_partkey"), p("p_partkey"), jt)
      }
      assert(e.getMessage.contains("saltedJoin does not support"), jt)
    }
  }

  test("driver-BFS closure: min-depth, cap fill and (depth, key) frame order") {
    // the closure's frame form (q27's) on one input: driverBfsSeq's pairs
    // through localDepthFrame, which must hold them sorted by (depth, key)
    def closure(edges: Seq[(String, String)], seeds: Seq[String],
        includeSeeds: Boolean, limit: Long, maxDepth: Int, key: String) = {
      val frame = Lineage.localDepthFrame(spark,
        Lineage.driverBfsSeq(edges, seeds, includeSeeds, limit, maxDepth), key)
      val what = s"seeds=$seeds includeSeeds=$includeSeeds limit=$limit"
      assert(frame.columns.toSeq === Seq(key, "depth"), what)
      val rows = frame.collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(rows === rows.sortBy { case (k, d) => (d, k) },
        s"rows not sorted by (depth, $key): $what")
      rows
    }
    // a diamond + chain + an overflowing level to exercise min-depth AND the
    // complete-levels-then-alphabetical-fill cap
    val edges = (0 until 6).map(i => (s"c$i", s"c${i + 1}")) ++
      Seq(("c1", "c4"), ("c2", "b1"), ("c2", "b2"), ("c2", "b3"), ("c2", "a1"))
    val uncapped = closure(edges, Seq("c0"), includeSeeds = false, 2000L, 20, "column")
    assert(uncapped === Seq("c1" -> 1, "c2" -> 2, "c4" -> 2, "a1" -> 3, "b1" -> 3,
      "b2" -> 3, "b3" -> 3, "c3" -> 3, "c5" -> 3, "c6" -> 4))
    // cap 6 counts the seed: levels 1-2 complete, then level 3 filled
    // alphabetically up to six nodes in all
    val capped = closure(edges, Seq("c0"), includeSeeds = false, 6L, 20, "column")
    assert(capped === Seq("c1" -> 1, "c2" -> 2, "c4" -> 2, "a1" -> 3, "b1" -> 3))
    // the script-closure shape (Ask's A21 walk): several seeds, one
    // reachable from another and one repeated, seeds kept at depth 0, no cap
    val multi = closure(edges, Seq("c3", "c1", "zz", "c1"), includeSeeds = true,
      Long.MaxValue, 20, "script")
    assert(multi === Seq("c1" -> 0, "c3" -> 0, "zz" -> 0, "c2" -> 1, "c4" -> 1,
      "a1" -> 2, "b1" -> 2, "b2" -> 2, "b3" -> 2, "c5" -> 2, "c6" -> 3))
    // a chain with a shortcut (c3 -> x1 -> c7): c7 and everything past it
    // take the shorter path's depth
    val chain = (0 until 10).map(i => (s"c$i", s"c${i + 1}")) ++
      Seq(("c3", "x1"), ("x1", "c7"))
    val viaShortcut = closure(chain, Seq("c0"), includeSeeds = false, 2000L, 30, "column")
    assert(viaShortcut.toMap === Map("c1" -> 1, "c2" -> 2, "c3" -> 3, "c4" -> 4,
      "x1" -> 4, "c5" -> 5, "c7" -> 5, "c6" -> 6, "c8" -> 6, "c9" -> 7, "c10" -> 8))
  }

  test("per-row operators compile to zero-shuffle plans") {
    // these claims back VERDICT/COVERAGE: narrow per-row codegen'd ops must
    // not introduce an Exchange — a regression here is a 100 TB scale bug
    for (q <- Seq("q20_text_quality", "q21_text_langid", "q22_token_count",
        "q23_doc_fingerprint", "q41_repetition_score", "q24_multimodal_decode",
        "q47_multimodal_frames", "q48_train_split")) {
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$q plan gained a shuffle:\n$plan")
    }
  }

  test("dimension joins broadcast instead of shuffling the fact side") {
    for (q <- Seq("q03_fact_enriched", "q05_sales_margin_rank", "q12_join_products")) {
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$q lost its broadcast join")
      assert(!plan.contains("SortMergeJoin"), s"$q fell back to SMJ:\n$plan")
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS p_bucketed")
    for (t <- Seq("li_bucketed", "p_bucketed")) {
      val loc = new org.apache.hadoop.fs.Path(wh, t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    Tables.lineitem(spark, sfDir).write
      .bucketBy(4, "l_partkey").sortBy("l_partkey").saveAsTable("li_bucketed")
    Tables.part(spark, sfDir).write
      .bucketBy(4, "p_partkey").sortBy("p_partkey").saveAsTable("p_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_bucketed").join(spark.table("p_bucketed"),
        col("l_partkey") === col("p_partkey"))
      j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("persistent RDDs are stable across two consecutive full-suite passes") {
    // The checkpoint-lifecycle contract (round-7 audit): every eager
    // localCheckpoint barrier is released after its terminal action, so a
    // second full pass over all registered queries must not grow the set of
    // persisted RDDs. The bounded PlanCache / lineage-repo entries persist BY
    // DESIGN — they must be exactly as resident after pass 2 as after pass 1,
    // not duplicated. This is the regression gate for the BENCH_r06-style
    // blowup (accumulated barrier blocks under a memory-pressured driver).
    // The two passes are the shared tier-1 fixture (FullSuitePasses).
    val passes = FullSuitePasses.passes
    val after1 = passes.persistentAfter1
    val after2 = passes.persistentAfter2
    // ≤, not ==: Spark's ContextCleaner asynchronously unpersists RDDs whose
    // references were garbage-collected (e.g. internals of earlier tests),
    // so the count may legitimately SHRINK between passes.
    // Growth is the leak signature this gates — the pre-round-7 code added
    // dozens of never-released checkpoint RDDs per pass.
    assert(after2 <= after1,
      s"persistent RDD count grew across full-suite passes: $after1 -> $after2 " +
        "(a localCheckpoint/persist site is missing managed release)")
  }

  test("round-10 operators keep their claimed plan shapes") {
    // q187's ALL row must come from the SAME scan as the bucket rows (the
    // ROLLUP single-pass claim): exactly one parquet scan in the plan
    val p187 = SparkEntry.queries("q187_padding_waste")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p187.split("Scan parquet", -1).length - 1 === 1,
      s"q187 scans the table more than once:\n$p187")
    // q186 runs its windows over the value HISTOGRAM, never a per-document
    // sort: the scan must read only (source, n_chars) and the plan must
    // aggregate before windowing (no Window directly over the scan)
    val q186 = SparkEntry.queries("q186_trimmed_mean")(spark, sfDir)
    val p186f = q186.queryExecution.executedPlan.toString
    assert(p186f.contains("Window"), "q186 lost its window stage")
    val schema186 = q186.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(schema186.contains("source") && schema186.contains("n_chars")
      && !schema186.contains("text"), "q186 scan reads more than 2 columns")
    // q188 must not materialize empty minutes: no generator/sequence
    // explode anywhere in its plan
    val p188 = SparkEntry.queries("q188_fano_burstiness")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p188.contains("Generate"), s"q188 materializes minutes:\n$p188")
  }

  test("aux dump contract: the schemas and row identities the oracles assume") {
    // The three aux_* dumps are the ORACLE INPUTS for eight gates (q25/q26/
    // q28/q29/q30/q44/q183/q184): a silent schema or row drift would fail
    // those queries with a confusing DuckDB error far from its cause. Pin
    // the contract here so a deliberate change fails ONE pointed message
    // (VERDICT r13 directive #4). The counts are the sf0.01 identities the
    // driver's CORRECTNESS artifact records (130/204/232); the dumps are
    // metadata-scale (derived from the pipeline scripts, not the tables),
    // asserted here at sf0.01 — the driver's correctness sf.
    val out = "/root/repo/target/graft_aux_contract"
    ops.LineageQueries.dumpRetrievalAux(spark, "/root/testdata/sf0.01", out)
    def shape(name: String) = spark.read.parquet(s"$out/$name")
    val planCols = shape("aux_plan_cols")
    assert(planCols.schema.map(f => f.name -> f.dataType.simpleString) === Seq(
      "script" -> "string", "df_ord" -> "int", "df" -> "string",
      "col_ord" -> "int", "col" -> "string", "src_ord" -> "int",
      "source" -> "string", "transformation" -> "string"))
    assert(planCols.count() === 130)
    val parts = shape("aux_corpus_parts")
    assert(parts.schema.map(f => f.name -> f.dataType.simpleString) === (Seq(
      "kind", "script", "df", "name", "direction", "format", "path",
      "expression", "fn", "sources", "group_by", "condition", "left_cols",
      "right_cols").map(_ -> "string") :+ ("ord" -> "int")))
    assert(parts.count() === 204)
    val vecs = shape("aux_qa_vectors")
    assert(vecs.schema.map(f => f.name -> f.dataType.simpleString) === Seq(
      "id" -> "string", "v_csv" -> "string"))
    assert(vecs.count() === 232)
    // identities the retrieval oracles join on: unique ids, the three named
    // question vectors present, one fixed embedding dimension throughout
    assert(vecs.count() === vecs.select("id").distinct().count())
    for (q <- Seq("question::q29", "question::q44", "question::q30"))
      assert(vecs.filter(col("id") === q).count() === 1, s"missing $q")
    val dims = vecs.select(size(split(col("v_csv"), ",")).as("d"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(dims.size === 1, s"mixed vector dims: $dims")
  }

  test("README's registered-query count matches SparkEntry.queries.size") {
    // VERDICT r13 nit: the README literal drifted (said 260 when the
    // registry held 259). Self-maintaining now: this test fails the build
    // whenever a query lands without the README count moving with it.
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val m = "ALL (\\d+) registered queries".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README lost its 'ALL N registered queries' sentence")
    assert(m.get.group(1).toInt === SparkEntry.queries.size,
      s"README says ${m.get.group(1)} but the registry holds " +
        s"${SparkEntry.queries.size} — update README.md's correctness contract")
  }

  test("Harness.select: empty selects every query sorted; an unknown name fails") {
    assert(Harness.select(Nil).map(_._1) === SparkEntry.queries.keys.toSeq.sorted)
    assert(Harness.select(Seq("q02_dim_latest")).map(_._1) === Seq("q02_dim_latest"))
    // a mistyped SPARK_GRAFT_ONLY must fail the run, not dump nothing
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("q02_dim_latest", "q02_dim_lastest")))
    assert(e.getMessage.contains("q02_dim_lastest"), e.getMessage)
  }

  test("every main builds its session through Harness: one SparkSession builder in src/main") {
    // the core-count default and the session confs stay decided in one
    // place; a hand-built session in a main would quietly diverge from it
    import scala.jdk.CollectionConverters._
    val builders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val n = "SparkSession\\.builder".r
          .findAllMatchIn(java.nio.file.Files.readString(p)).size
        if (n > 0) Some(p.getFileName.toString -> n) else None
      }
    assert(builders === Seq("Harness.scala" -> 1), builders.toString)
    // the seven mains; the hand-run sweep and stress harnesses and the
    // session options only they set are gone (GeometrySpec checks the
    // cross-geometry hashes in tier-1)
    assert(filesMatching("""def main\(""") === Seq("Bench.scala", "Explain.scala",
      "PlanGates.scala", "PlanProfile.scala", "Verify.scala",
      "extract/LineageDump.scala", "qa/Ask.scala"))
    assert(filesMatching("verifySlices|driverSliceRows|FpStress|PairSweep|AnnSweep") === Nil)
  }

  /** (path under src/main/scala/graft, text) of every main source. */
  private lazy val sources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
  }

  private def filesMatching(re: String): Seq[String] = sources.collect {
    case (f, text) if re.r.findFirstIn(text).isDefined => f }.sorted

  test("source scan: no qa_* cache entry, no read.parquet in Repo, one closure") {
    // the Q&A knowledge base is plain Scala over the extraction (QA.Kb), so
    // no consumer can install a qa_* frame; Repo reads through the Tables
    // catalog; every closure is Lineage.driverBfsSeq over a driver edge
    // list, with no frame graph or distributed fallback beside it
    assert(filesMatching("""PlanCache\.cached\([^"]*"qa_""") === Nil)
    assert(!sources.toMap.apply("pipelines/Repo.scala").contains("read.parquet"))
    assert(filesMatching("""distributedClosure|collectIfSmall|DriverBfsMaxEdges|""" +
      """downstreamClosure|Lineage\.columnGraph""") === Nil)
  }

  test("source scan: trained models memoize in Fit, no fit table is cached") {
    // every fit-once model goes through graft.Fit: no hand-copied last-dir
    // memo, the oracle's dir pin read in Fit and set in Verify alone, and
    // no PlanCache entry persisting a K-row fit table
    assert(filesMatching("lastByDir") === Nil)
    assert(filesMatching("graft\\.oracle\\.sfdir") === Seq("Fit.scala", "Verify.scala"))
    assert(filesMatching("""props\.get\("graft\.oracle\.sfdir"""") === Seq("Fit.scala"))
    assert(filesMatching("""setProperty\("graft\.oracle\.sfdir"""") === Seq("Verify.scala"))
    assert(filesMatching(
      """PlanCache\.cached\([^"]*s?"(q274_sel|q277_fit|q283_fit|q291_fit)""") === Nil)
  }

  test("source scan: one optimizer rule, no q93 cache entry") {
    // LocalAggregate is the only optimizer extension; q93 aggregates once
    // instead of caching a distinct frame for four consumers
    assert(filesMatching("extraOptimizations") === Seq("LocalAggregate.scala"))
    assert(filesMatching("""PlanCache\.cached\([^"]*"q93_ut""") === Nil)
  }

  test("source scan: no shared or global pool; Repo alone makes a thread pool") {
    // a pooled thread of unknown origin carries neither the caller's job
    // group nor its active session; Repo.lineage's per-call pool is created
    // by the calling thread, so its threads inherit both
    assert(filesMatching("""ExecutionContext\.global|\.par\b|parallelStream""") === Nil)
    assert(filesMatching("newFixedThreadPool") === Seq("pipelines/Repo.scala"))
  }

  test("materializeCtes hints non-recursive CTEs and skips self-referencing ones") {
    val sql = """WITH RECURSIVE base AS (
        SELECT 1 AS x FROM t
      ), walk AS (
        SELECT x FROM base
        UNION ALL
        SELECT w.x + 1 FROM walk w WHERE w.x < 5
      ), agg AS (
        SELECT max(x) AS m FROM walk
      ) SELECT * FROM agg"""
    val out = OracleSql.materializeCtes(sql)
    assert(out.contains("base AS MATERIALIZED ("), out)
    assert(out.contains("agg AS MATERIALIZED ("), out)
    // the self-referencing CTE must stay unhinted: PostgreSQL (whose grammar
    // DuckDB inherits) rejects MATERIALIZED on recursive CTE headers
    assert(out.contains("walk AS (\n"), out)
    assert(!out.contains("walk AS MATERIALIZED"), out)
    // everything else byte-identical (the r14 tuple-append regression class)
    assert(out.replace(" MATERIALIZED (", " (") === sql)
  }
}
