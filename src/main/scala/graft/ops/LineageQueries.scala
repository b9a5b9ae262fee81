package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.lineage.Lineage
import graft.model.ScriptLineage
import graft.pipelines.Repo
import graft.qa.QA

/** The engine's own lineage surface exposed as driver-checkable queries:
  * plan-extracted column edges, stitched repo links, impact closures, corpus,
  * retrieval and evidence. Results derive from Catalyst plans (not
  * SQL-expressible in DuckDB) → rows-only checks, with exact golden assertions
  * in LineageSpec instead — EXCEPT q27, whose closure over the exported q25
  * edge dump is replayed as a DuckDB recursive CTE (dynamic oracle below).
  */
object LineageQueries {

  private def lineages(s: SparkSession, dir: String): Seq[ScriptLineage] =
    Repo.cachedLineage(s, dir)

  /** The outDir dump directory for `name` iff it was produced BY THIS RUN:
    * requires Spark's `_SUCCESS` marker and a marker mtime at or after the
    * run start Verify stamps into `graft.oracle.runstart` — a stale dump
    * left in the same outDir by a prior run must not feed an oracle (it
    * would replay old data against this run's results and still "pass").
    * Missing marker / stamp → None → the query falls back to rows-only. */
  private def freshDump(out: String, name: String): Option[String] = {
    val marker = new java.io.File(s"$out/$name/_SUCCESS")
    val startMs = sys.props.get("graft.oracle.runstart")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    // 2s slack: coarse-mtime filesystems (FAT, some NFS) truncate the marker
    // timestamp below the millisecond run-start stamp and would otherwise
    // silently mark this run's own dump stale. A dump written within 2s
    // BEFORE run start is indistinguishable from this run's — acceptable,
    // since the stale case this guards against is a leftover from a prior
    // round minutes-to-days old, not milliseconds.
    val fresh = marker.isFile && startMs.exists(marker.lastModified() >= _ - 2000)
    if (fresh) Some(new java.io.File(s"$out/$name").getAbsolutePath)
    else {
      if (marker.isFile)
        System.err.println(s"[verify] $name dump is STALE (predates run start)"
          + " — dynamic oracle downgraded to rows-only")
      None
    }
  }

  /** Acceptance questions for the retrieval queries — shared with
    * [[dumpRetrievalAux]] so the oracle scores the exact same query
    * vectors. */
  private val RetrievalQuestion =
    "Where does avg_daily_spend come from and which gold outputs depend on amount?"
  private val SimpleQuestion = "Which scripts write gold outputs?"
  /** q30 scores QA.Questions.head; its vector joins the aux dump so the
    * evidence oracle can re-run the retrieval section. */
  private def EvidenceQuestion: String = QA.Questions.headOption
    .getOrElse(sys.error("no acceptance question configured"))

  /** One flat row of corpus raw material for the q26/q28 dynamic oracles:
    * every field a scalar string (the driver's pandas compare sorts column
    * values, so an array column would crash its rows-only check), `ord`
    * preserving the per-script list order the corpus folds depend on. */
  private final case class AuxPart(
      kind: String, script: String,
      df: String = null, name: String = null,
      direction: String = null, format: String = null, path: String = null,
      expression: String = null, fn: String = null,
      sources: String = null, group_by: String = null,
      condition: String = null, left_cols: String = null,
      right_cols: String = null, ord: Int = 0)

  private def corpusParts(ls: Seq[ScriptLineage]): Seq[AuxPart] = {
    def j(xs: Seq[String]) = xs.mkString(", ")
    ls.flatMap { sl =>
      Seq(AuxPart("script", sl.script)) ++
        sl.assets.zipWithIndex.map { case (a, i) =>
          AuxPart("asset", sl.script, df = a.df, direction = a.direction,
            format = a.format, path = a.path, ord = i)
        } ++
        sl.dfs.zipWithIndex.map { case (d, i) =>
          AuxPart("df", sl.script, name = d.name, ord = i)
        } ++
        (for {
          d <- sl.dfs; c <- d.columns
          if c.transformation == "project" || c.transformation == "window"
        } yield AuxPart("derived", sl.script, df = d.name, name = c.name,
          expression = c.expression, sources = j(c.sources))) ++
        sl.aggs.map(a => AuxPart("agg", a.script, df = a.df, name = a.column,
          fn = a.function, sources = j(a.sources), group_by = j(a.groupBy))) ++
        sl.joins.map(jn => AuxPart("join", jn.script, df = jn.df,
          fn = jn.joinType, condition = jn.condition,
          left_cols = j(jn.leftCols), right_cols = j(jn.rightCols)))
    }
  }

  /** Verify-time aux dumps beside the query dumps:
    *
    *  - `aux_qa_vectors`: the corpus embedding table plus the two question
    *    vectors. The embedding itself is not SQL-expressible (xxhash64
    *    bag-of-tokens), but given the vectors the retrieval RANKING is —
    *    the q29/q44 oracles recompute L2 distances in DuckDB and re-derive
    *    the top-k (reference semantics: qa/ask.py:135-152, qa.py:210-234).
    *    Each vector is serialized as one comma-joined string: Java's
    *    shortest-round-trip double rendering parses back to the identical
    *    bits under DuckDB's correctly-rounded strtod, and a flat string —
    *    unlike the array<double> this replaces — survives the driver's
    *    pandas sort-and-hash compare.
    *  - `aux_corpus_parts`: the raw per-script lineage material
    *    ([[corpusParts]]) from which the q26 oracle re-stitches repo links
    *    (stitch_repo.py:21-28) and the q28 oracle re-folds every corpus doc
    *    (build_corpus.py:50-198) entirely in SQL. */
  def dumpRetrievalAux(s: SparkSession, dir: String, outDir: String): Unit = {
    import s.implicits._
    val ls = lineages(s, dir)
    val qVecs = QA.embed((Seq(
      "question::q29" -> RetrievalQuestion,
      "question::q44" -> SimpleQuestion,
      "question::q30" -> EvidenceQuestion) ++
      QA.Questions.zipWithIndex.map { case (q, i) => s"question::qa$i" -> q })
      .toDF("id", "text"), "text")
    QA.Kb.docVecs(s, dir).select("id", "v").unionByName(qVecs.select("id", "v"))
      .select(col("id"),
        concat_ws(",", expr("transform(v, x -> CAST(x AS STRING))")).as("v_csv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/aux_qa_vectors")
    // explicit Rows + schema rather than the AuxPart product encoder: under
    // sbt's layered classloader Janino cannot resolve the case class's
    // accessor methods in generated code (ERROR CodeGenerator + interpreted
    // fallback on every Verify run) — the row build is driver-side metadata
    // scale, so nothing is lost and the logs stay clean
    val partSchema = org.apache.spark.sql.types.StructType(
      Seq("kind", "script", "df", "name", "direction", "format", "path",
        "expression", "fn", "sources", "group_by", "condition", "left_cols",
        "right_cols").map(f => org.apache.spark.sql.types.StructField(
          f, org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField("ord",
          org.apache.spark.sql.types.IntegerType, nullable = false))
    val partRows = corpusParts(ls).map(p => org.apache.spark.sql.Row(
      p.kind, p.script, p.df, p.name, p.direction, p.format, p.path,
      p.expression, p.fn, p.sources, p.group_by, p.condition, p.left_cols,
      p.right_cols, p.ord))
    s.createDataFrame(s.sparkContext.parallelize(partRows, 1), partSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/aux_corpus_parts")
    // aux_plan_cols (r13, VERDICT r12 directive #3): the RAW plan-walk
    // provenance rows — one row per (df node, column, source) with the
    // walk ordinals — from which the q25 oracle recomposes the canonical
    // edge table entirely in DuckDB (source split at the first '.', then
    // first-occurrence dedup on the 5-part key). This moves A11's edge
    // derivation under the driver's rows+schema+hash gate; the dumped
    // provenance itself stays pinned by LineageSpec's golden assertions.
    val planColSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("script",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("df_ord",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("df",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("col_ord",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("col",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("src_ord",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("transformation",
        org.apache.spark.sql.types.StringType)))
    val planColRows = for {
      sl <- ls
      (d, di) <- sl.dfs.zipWithIndex
      (c, ci) <- d.columns.zipWithIndex
      (src, si) <- c.sources.zipWithIndex
    } yield org.apache.spark.sql.Row(sl.script, di, d.name, ci, c.name, si,
      src, c.transformation)
    s.createDataFrame(s.sparkContext.parallelize(planColRows, 1), planColSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/aux_plan_cols")
  }

  /** DuckDB SQL re-deriving a retrieval top-k from the aux vector dump:
    * L2 by `list_distance` (bit-exact vs vec_l2sq, prototyped), ties broken
    * by doc id (QA.retrieve's window order), metadata joined from the q28
    * dump. */
  private def retrievalOracle(out: String, qid: String, k: Int): String =
    s"""WITH vecs AS (
        SELECT id, list_transform(string_split(v_csv, ','),
                                  x -> CAST(x AS DOUBLE)) AS v
        FROM read_parquet('$out/aux_qa_vectors/*.parquet')
      ), q AS (
        SELECT v AS qv FROM vecs WHERE id = '$qid'
      ), d AS (
        SELECT id, v FROM vecs WHERE id NOT LIKE 'question::%'
      ), ranked AS (
        SELECT d.id AS doc_id, list_distance(q.qv, d.v) AS dist,
               CAST(row_number() OVER (ORDER BY list_distance(q.qv, d.v), d.id)
                 AS BIGINT) AS rank
        FROM d, q
      )
      SELECT r.rank, r.doc_id, r.dist, c."docType", c.script
      FROM ranked r
      JOIN read_parquet('$out/q28_corpus_docs/*.parquet') c ON c.id = r.doc_id
      WHERE r.rank <= $k
      ORDER BY r.rank"""

  /** Shared oracleDyn for q29/q44: claims the oracle only when this run's
    * aux vector dump AND q28 corpus dump both landed (fresh `_SUCCESS`). */
  private def retrievalOracleDyn(qid: String, k: Int): Option[() => Option[String]] =
    Some(() => sys.props.get("graft.oracle.outdir")
      .filter(out => freshDump(out, "aux_qa_vectors").isDefined &&
        freshDump(out, "q28_corpus_docs").isDefined)
      .map(out => retrievalOracle(out, qid, k)))

  /** q25: the canonical edge table itself. The plan walk that produces the
    * provenance rows is not SQL-expressible, but the DERIVATION from those
    * rows to edges is — the dynamic oracle recomposes all 130 edges in
    * DuckDB from the aux_plan_cols dump: split each source at its FIRST
    * '.' into (srcDf, srcCol) (no dot → unqualified column, srcDf=''),
    * then keep the first occurrence in walk order per
    * (script, df, targetCol, srcDf, srcCol) — exactly Lineage.edges. The
    * dumped provenance rows stay under LineageSpec's golden pins, so a
    * silent drift in EITHER the walk (spec) or the edge derivation
    * (this oracle) now fails a hard gate. */
  val lineageEdges: Q = Q(
    "q25_lineage_edges",
    (s, dir) => Lineage.edges(s, lineages(s, dir)).toDF()
      .orderBy("script", "df", "targetCol", "srcDf", "srcCol"),
    None,
    oracleDyn = Some(() => sys.props.get("graft.oracle.outdir")
      .filter(out => freshDump(out, "aux_plan_cols").isDefined)
      .map { out =>
        s"""WITH n AS (
          SELECT script, df, col AS tc,
            CASE WHEN strpos(source, '.') > 0
                 THEN substring(source, 1, strpos(source, '.') - 1)
                 ELSE '' END AS sd,
            CASE WHEN strpos(source, '.') > 0
                 THEN substring(source, strpos(source, '.') + 1,
                                length(source))
                 ELSE source END AS sc,
            transformation AS reason, df_ord, col_ord, src_ord
          FROM read_parquet('$out/aux_plan_cols/*.parquet')
        ), d AS (
          SELECT n.*, row_number() OVER (
            PARTITION BY script, df, tc, sd, sc
            ORDER BY df_ord, col_ord, src_ord) AS rn
          FROM n
        )
        SELECT script, df, tc AS "targetCol", sd AS "srcDf", sc AS "srcCol",
               reason
        FROM d WHERE rn = 1
        ORDER BY script, df, tc, sd, sc"""
      }))

  /** q26's dynamic oracle: DuckDB re-runs the writer→reader stitch
    * (stitch_repo.py:21-28 — trailing-slash normalization, equi-join on the
    * shared asset, self-links dropped, distinct) over the RAW asset rows in
    * the aux parts dump, so the stitch semantics sit under the driver's
    * rows+schema+hash gate rather than only LineageSpec's golden topology. */
  val repoLinks: Q = Q(
    "q26_repo_links",
    (s, dir) => Lineage.stitch(s, lineages(s, dir)).toDF()
      .orderBy("fromScript", "toScript", "asset"),
    None,
    oracleDyn = Some(() => sys.props.get("graft.oracle.outdir")
      .filter(out => freshDump(out, "aux_corpus_parts").isDefined)
      .map { out =>
        s"""WITH a AS (
          SELECT script, direction, regexp_replace(path, '/+$$', '') AS norm
          FROM read_parquet('$out/aux_corpus_parts/*.parquet')
          WHERE kind = 'asset'
        )
        SELECT DISTINCT w.script AS "fromScript", r.script AS "toScript",
               w.norm AS asset
        FROM a w JOIN a r ON w.norm = r.norm
        WHERE w.direction = 'write' AND r.direction = 'read'
          AND w.script <> r.script"""
      }))

  /** Downstream impact of the bronze `amount` column — columns + depth.
    *
    * Unlike the plan-walk extraction itself, the CLOSURE over already-exported
    * edges is SQL-expressible: the dynamic oracle replays the BFS as a DuckDB
    * recursive CTE over the q25 edge dump Verify just wrote (the edge table is
    * itself sha1-pinned in LineageSpec), with min-depth semantics, the
    * maxDepth=20 horizon, and THIS REPO's 2000-node cap semantics — a
    * (depth, name)-ordered row_number ≤ 1999, i.e. complete levels then
    * alphabetical fill, exactly what Lineage.driverBfsSeq applies to the
    * snapshot's column pairs. The reference (qa/ask.py:211-223) instead
    * stops in BFS discovery order, so AT the cap boundary the retained
    * subset can differ (documented at Lineage.driverBfsSeq); below the cap
    * the closures are identical.
    * This puts the BFS semantics under the driver's hard rows+schema+hash
    * gate rather than only the self-refereed suite. */
  val impactClosure: Q = Q(
    "q27_impact_closure",
    (s, dir) => Lineage.localDepthFrame(s, Lineage.driverBfsSeq(
      QA.Kb.snapshot(s, dir).colPairs, Seq("amount"), includeSeeds = false, limit = 2000),
      "column"),
    None,
    oracleDyn = Some(() => sys.props.get("graft.oracle.outdir")
      // only claim the oracle when THIS RUN's edge dump actually landed
      // (fresh _SUCCESS) — a failed q25 dump, or a stale dump from a prior
      // run in the same outDir, falls back to the rows-only check instead
      // of handing the driver SQL over wrong edges
      .filter(out => freshDump(out, "q25_lineage_edges").isDefined)
      .map { out =>
      s"""WITH RECURSIVE e AS (
        SELECT DISTINCT srcCol AS src, targetCol AS dst
        FROM read_parquet('$out/q25_lineage_edges/*.parquet')
        WHERE srcCol <> targetCol
      ), r AS (
        SELECT CAST('amount' AS VARCHAR) AS name, 0 AS depth
        UNION
        SELECT e.dst, r.depth + 1
        FROM r JOIN e ON e.src = r.name
        WHERE r.depth < 20
      ), m AS (
        SELECT name, MIN(depth) AS depth FROM r
        WHERE name <> 'amount' GROUP BY name
      ), capped AS (
        SELECT name, depth,
               row_number() OVER (ORDER BY depth, name) AS rn
        FROM m
      )
      SELECT name AS "column", CAST(depth AS INTEGER) AS depth
      FROM capped WHERE rn <= 1999"""
    }))

  /** q28's dynamic oracle: DuckDB re-FOLDS every corpus doc text from the
    * raw lineage material (build_corpus.py:50-198 semantics — per-script
    * READS/WRITES/DATAFRAMES blocks in list order, derived/agg/join cards,
    * and lineage_edge cards straight from the q25 edge dump), then picks up
    * each doc's sha1 id by LEFT-joining the q28 dump on the FULL content
    * tuple. DuckDB 1.0 has no sha1, so the id derivation itself stays
    * pinned by LineageSpec's golden hash; everything else is two-sided —
    * a doc the fold MISSES leaves the oracle short a row, and a doc the
    * fold OVER-produces surfaces with a loud UNMATCHED_FOLD sentinel id
    * instead of being silently dropped — either way the driver's row/hash
    * compare fails. */
  val corpusDocs: Q = Q(
    "q28_corpus_docs",
    (s, dir) => QA.Kb.corpus(s, dir)
        .select("id", "docType", "script", "df", "column", "text")
        .orderBy("docType", "script", "df", "column", "id"),
    None,
    oracleDyn = Some(() => sys.props.get("graft.oracle.outdir")
      .filter(out => freshDump(out, "aux_corpus_parts").isDefined &&
        freshDump(out, "q25_lineage_edges").isDefined &&
        freshDump(out, "q28_corpus_docs").isDefined)
      .map { out =>
        s"""WITH parts AS (
          SELECT * FROM read_parquet('$out/aux_corpus_parts/*.parquet')
        ), rd AS (
          SELECT script, string_agg('- ' || format || ' ' || path,
                                    chr(10) ORDER BY ord) AS s
          FROM parts WHERE kind = 'asset' AND direction = 'read'
          GROUP BY script
        ), wr AS (
          SELECT script, string_agg('- ' || df || ' -> ' || format || ' ' || path,
                                    chr(10) ORDER BY ord) AS s
          FROM parts WHERE kind = 'asset' AND direction = 'write'
          GROUP BY script
        ), dfl AS (
          SELECT script, string_agg('- ' || name, chr(10) ORDER BY ord) AS s
          FROM parts WHERE kind = 'df' GROUP BY script
        ), script_docs AS (
          SELECT 'script' AS dt, p.script, '' AS df, '' AS col,
                 'SCRIPT: ' || p.script
                   || chr(10) || 'READS:' || chr(10) || coalesce(rd.s, '')
                   || chr(10) || 'WRITES:' || chr(10) || coalesce(wr.s, '')
                   || chr(10) || 'DATAFRAMES:' || chr(10) || coalesce(dfl.s, '')
                   AS text
          FROM (SELECT script FROM parts WHERE kind = 'script') p
          LEFT JOIN rd ON rd.script = p.script
          LEFT JOIN wr ON wr.script = p.script
          LEFT JOIN dfl ON dfl.script = p.script
        ), derived_docs AS (
          SELECT 'derived', script, df, name,
                 'SCRIPT: ' || script || chr(10) || 'DATAFRAME: ' || df
                   || chr(10) || 'DERIVED_COLUMN: ' || name
                   || chr(10) || 'EXPRESSION: ' || expression
                   || chr(10) || 'SOURCE_COLUMNS: [' || sources || ']'
          FROM parts WHERE kind = 'derived'
        ), agg_docs AS (
          SELECT 'aggregation', script, df, name,
                 'SCRIPT: ' || script || chr(10) || 'DATAFRAME: ' || df
                   || chr(10) || 'AGGREGATION: ' || name
                   || chr(10) || 'FUNCTION: ' || fn
                   || chr(10) || 'SOURCE_COLUMNS: [' || sources || ']'
                   || chr(10) || 'GROUP_BY: [' || group_by || ']'
          FROM parts WHERE kind = 'agg'
        ), join_docs AS (
          SELECT 'join', script, df, '',
                 'SCRIPT: ' || script || chr(10) || 'RESULT_DF: ' || df
                   || chr(10) || 'JOIN: ' || fn || chr(10) || 'ON: ' || condition
                   || chr(10) || 'LEFT: [' || left_cols || ']'
                   || chr(10) || 'RIGHT: [' || right_cols || ']'
          FROM parts WHERE kind = 'join'
        ), edge_docs AS (
          SELECT 'lineage_edge', script, df, "targetCol",
                 'SCRIPT: ' || script
                   || chr(10) || 'LINEAGE_EDGE: ' || "srcDf" || '.' || "srcCol"
                   || ' -> ' || df || '.' || "targetCol"
                   || chr(10) || 'REASON: ' || reason
          FROM read_parquet('$out/q25_lineage_edges/*.parquet')
        ), folded AS (
          SELECT * FROM script_docs
          UNION ALL SELECT * FROM derived_docs
          UNION ALL SELECT * FROM agg_docs
          UNION ALL SELECT * FROM join_docs
          UNION ALL SELECT * FROM edge_docs
        )
        SELECT coalesce(q.id, 'UNMATCHED_FOLD:' || f.dt || ':' || f.script)
                 AS id,
               f.dt AS "docType", f.script, f.df, f.col AS "column", f.text
        FROM folded f
        LEFT JOIN read_parquet('$out/q28_corpus_docs/*.parquet') q
          ON q."docType" = f.dt AND q.script = f.script AND q.df = f.df
         AND q."column" = f.col AND q.text = f.text"""
      }))

  /** Hybrid retrieval for a fixed acceptance question (README.md:261-271
    * class): top-25 corpus docs by L2 over hashed embeddings. */
  val qaRetrieval: Q = Q(
    "q29_qa_retrieval",
    (s, dir) => {
      import s.implicits._
      val qVec = QA.embed(Seq(("question", RetrievalQuestion)).toDF("id", "text"), "text")
      QA.retrieve(s, QA.Kb.docVecs(s, dir), qVec)
        .join(QA.Kb.corpus(s, dir)
          .select(col("id").as("doc_id"), col("docType"), col("script")), "doc_id")
        .select("rank", "doc_id", "dist", "docType", "script")
        .orderBy("rank")
    },
    None,
    oracleDyn = retrievalOracleDyn("question::q29", QA.TopK))

  /** Full hybrid Q&A evidence for the acceptance question: deterministic
    * impact sections + retrieval facts (qa/ask.py:391-450).
    *
    * Dynamic oracle: DuckDB re-assembles all four evidence sections from the
    * dumps — candidate-column NER over the question literal (backticked
    * identifiers first, then all identifiers, membership-filtered against
    * the q25 edge columns, first-occurrence order, top-3), the multi-seed
    * min-depth column closure as a seed-carrying recursive CTE over the q25
    * edges, the script BFS (seeds = scripts whose edges touch a candidate,
    * depth 0 included) over links re-stitched from the raw asset dump, the
    * gold-output filter over write assets of ALL impacted scripts
    * (pre-display-cap, as the engine computes it), and the top-25 retrieval
    * facts from the aux vectors joined to the q28 corpus text. Display caps
    * (80/50/60/25) replicate QaConfig.default; the 2000-node closure cap has
    * no SQL replica — it cannot trigger on a metadata-scale graph and its
    * boundary semantics are pinned by LineageSpec instead. */
  val qaEvidence: Q = Q(
    "q30_qa_evidence",
    (s, dir) => {
      import s.implicits._
      graft.qa.Ask.ask(s, dir, EvidenceQuestion).evidence.toDF("section", "line")
    },
    None,
    oracleDyn = Some(() => sys.props.get("graft.oracle.outdir")
      .filter(out => freshDump(out, "aux_corpus_parts").isDefined &&
        freshDump(out, "aux_qa_vectors").isDefined &&
        freshDump(out, "q25_lineage_edges").isDefined &&
        freshDump(out, "q28_corpus_docs").isDefined)
      .map { out =>
        s"SELECT section, line FROM ${evidenceLinesSubquery(out, EvidenceQuestion, "question::q30")} ev"
      }))

  /** Parenthesized DuckDB subquery re-deriving ONE question's capped
    * evidence lines — (sec, ord, section, line), sec = section ordinal,
    * ord = 1-based rank under the section's canonical sort, both matching
    * [[graft.qa.Ask.ask]]'s evidence order — from this run's dumps. Shared by the q30 evidence
    * oracle and the per-question folds of the q183 grounded-answer oracle.
    * `vecId` names the question's embedding row in aux_qa_vectors. */
  private def evidenceLinesSubquery(out: String, question: String,
      vecId: String): String = {
        val cfg = graft.qa.QaConfig.default
        val qLit = question.replace("'", "''")
        s"""(WITH RECURSIVE parts AS (
          SELECT * FROM read_parquet('$out/aux_corpus_parts/*.parquet')
        ), e25 AS (
          SELECT * FROM read_parquet('$out/q25_lineage_edges/*.parquet')
        ), edges AS (
          SELECT DISTINCT "srcCol" AS src, "targetCol" AS dst FROM e25
          WHERE "srcCol" <> "targetCol"
        ), known AS (
          SELECT "srcCol" AS c FROM e25 UNION SELECT "targetCol" FROM e25
        ), tlist AS (
          SELECT list_concat(
            regexp_extract_all('$qLit', '`([A-Za-z0-9_]+)`', 1),
            regexp_extract_all('$qLit', '[A-Za-z_][A-Za-z0-9_]*')) AS l
        ), toks AS (
          SELECT l[i] AS tok, i AS ord
          FROM tlist, unnest(generate_series(1, len(l))) AS u(i)
        ), cands AS (
          SELECT tok AS cand FROM (
            SELECT t.tok, MIN(t.ord) AS o
            FROM toks t JOIN known k ON t.tok = k.c GROUP BY t.tok
          ) ORDER BY o LIMIT ${cfg.maxImpactCols}
        ), r AS (
          SELECT cand AS seed, cand AS name, 0 AS depth FROM cands
          UNION
          SELECT r.seed, e.dst, r.depth + 1
          FROM r JOIN edges e ON e.src = r.name WHERE r.depth < 20
        ), impact AS (
          SELECT name, MIN(depth) AS depth FROM r
          WHERE name <> seed GROUP BY name
        ), impact_lines AS (
          SELECT 1 AS sec,
                 CAST(row_number() OVER (ORDER BY depth, name) AS BIGINT) AS ord,
                 'IMPACTED_COLUMN' AS section,
                 name || ' (depth ' || depth || ')' AS line
          FROM impact QUALIFY ord <= ${cfg.maxImpactShow}
        ), la AS (
          SELECT script, direction, regexp_replace(path, '/+$$', '') AS norm
          FROM parts WHERE kind = 'asset'
        ), links AS (
          SELECT DISTINCT w.script AS src, rr.script AS dst
          FROM la w JOIN la rr ON w.norm = rr.norm
          WHERE w.direction = 'write' AND rr.direction = 'read'
            AND w.script <> rr.script
        ), seedscripts AS (
          SELECT DISTINCT e.script FROM e25 e
          JOIN cands c ON e."srcCol" = c.cand OR e."targetCol" = c.cand
        ), s AS (
          SELECT script, 0 AS depth FROM seedscripts
          UNION
          SELECT l.dst, s.depth + 1
          FROM s JOIN links l ON l.src = s.script WHERE s.depth < 20
        ), simp AS (
          SELECT script, MIN(depth) AS depth FROM s GROUP BY script
        ), script_lines AS (
          SELECT 2 AS sec,
                 CAST(row_number() OVER (ORDER BY depth, script) AS BIGINT) AS ord,
                 'IMPACTED_SCRIPT' AS section, script AS line
          FROM simp QUALIFY ord <= ${cfg.maxScriptsShow}
        ), gold AS (
          SELECT DISTINCT p.script, p.path
          FROM parts p JOIN simp ON p.script = simp.script
          WHERE p.kind = 'asset' AND p.direction = 'write'
            AND list_contains(string_split(p.path, '/'), 'gold')
        ), gold_lines AS (
          SELECT 3 AS sec,
                 CAST(row_number() OVER (ORDER BY path, script) AS BIGINT) AS ord,
                 'GOLD_OUTPUT' AS section, script || ' -> ' || path AS line
          FROM gold QUALIFY ord <= ${cfg.maxGoldShow}
        ), vecs AS (
          SELECT id, list_transform(string_split(v_csv, ','),
                                    x -> CAST(x AS DOUBLE)) AS v
          FROM read_parquet('$out/aux_qa_vectors/*.parquet')
        ), qv AS (
          SELECT v FROM vecs WHERE id = '$vecId'
        ), d AS (
          SELECT id, v FROM vecs WHERE id NOT LIKE 'question::%'
        ), ranked AS (
          SELECT d.id AS doc_id,
                 row_number() OVER (ORDER BY list_distance(qv.v, d.v), d.id)
                   AS rank
          FROM d, qv
        ), fact_lines AS (
          SELECT 4 AS sec, CAST(rk.rank AS BIGINT) AS ord,
                 'FACT' AS section, '[' || rk.rank || '] ' || c.text AS line
          FROM ranked rk
          JOIN read_parquet('$out/q28_corpus_docs/*.parquet') c
            ON c.id = rk.doc_id
          WHERE rk.rank <= ${cfg.topK}
        )
        SELECT sec, ord, section, line FROM impact_lines
        UNION ALL SELECT sec, ord, section, line FROM script_lines
        UNION ALL SELECT sec, ord, section, line FROM gold_lines
        UNION ALL SELECT sec, ord, section, line FROM fact_lines)"""
  }

  /** Retrieval-only variant (the reference's simple `qa.py` mode: TOP_K=6, no
    * deterministic graphs — qa.py:34,208-248). */
  val qaRetrievalSimple: Q = Q(
    "q44_qa_retrieval_simple",
    (s, dir) => {
      import s.implicits._
      val qVec = QA.embed(
        Seq(("question", SimpleQuestion)).toDF("id", "text"), "text")
      QA.retrieve(s, QA.Kb.docVecs(s, dir), qVec, k = 6)
        .join(QA.Kb.corpus(s, dir)
          .select(col("id").as("doc_id"), col("docType"), col("script")), "doc_id")
        .select("rank", "doc_id", "dist", "docType", "script")
        .orderBy("rank")
    },
    None,
    oracleDyn = retrievalOracleDyn("question::q44", 6))

  /** q169: the q27 impact closure computed by Spark 4's native
    * `WITH RECURSIVE` — a second, independent implementation of the
    * closure contract (the driver BFS in q27, recursive SQL over the same
    * snapshot column pairs here), both hash-gated to agree.
    * Spark's recursion is UNION ALL-only, so termination and boundedness
    * come from the depth guard plus a DISTINCT in the recursive arm: each
    * step emits ≤ |columns| rows regardless of path multiplicity (a cycle
    * or diamond re-walks nodes, it cannot explode paths), and MIN(depth)
    * recovers exactly the BFS min-depth semantics. The DuckDB oracle runs
    * the same recursion over THIS run's q25 edge dump. */
  val recursiveClosure: Q = Q(
    "q169_recursive_closure",
    (s, dir) => {
      import s.implicits._
      QA.Kb.snapshot(s, dir).colPairs.toDF("src", "dst")
        .createOrReplaceTempView("graft_col_edges_q169")
      s.sql("""WITH RECURSIVE r AS (
          SELECT CAST('amount' AS STRING) AS name, 0 AS depth
          UNION ALL
          SELECT DISTINCT e.dst, r.depth + 1
          FROM r JOIN graft_col_edges_q169 e ON e.src = r.name
          WHERE r.depth < 20
        )
        SELECT name AS `column`, CAST(MIN(depth) AS INT) AS depth
        FROM r WHERE name <> 'amount' GROUP BY name""")
    },
    None,
    oracleDyn = Some(() => sys.props.get("graft.oracle.outdir")
      .filter(out => freshDump(out, "q25_lineage_edges").isDefined)
      .map { out =>
        s"""WITH RECURSIVE e AS (
          SELECT DISTINCT srcCol AS src, targetCol AS dst
          FROM read_parquet('$out/q25_lineage_edges/*.parquet')
          WHERE srcCol <> targetCol
        ), r AS (
          SELECT CAST('amount' AS VARCHAR) AS name, 0 AS depth
          UNION ALL
          SELECT DISTINCT e.dst, r.depth + 1
          FROM r JOIN e ON e.src = r.name
          WHERE r.depth < 20
        )
        SELECT name AS "column", CAST(MIN(depth) AS INTEGER) AS depth
        FROM r WHERE name <> 'amount' GROUP BY name"""
      }))

  /** q183: the grounded deterministic ANSWERS (A24) for the three README
    * acceptance questions, one row per question with the FULL answer text —
    * the last spec-only §2A surface brought under the driver's hash gate.
    * The Spark side runs the full Ask pipeline (candidate NER → closures →
    * BFS → gold → retrieval → evidence → DeterministicAnswerer fold); the
    * oracle re-derives each question's capped evidence entirely in DuckDB
    * (the q30 subquery, parameterized per question) and re-folds the answer
    * template on top: a QUESTION header, then per non-empty section in
    * fixed order a "SECTION (count):" header plus the first 10 lines as
    * "  - line" (qa/ask.py:82-113 rules, QA.DeterministicAnswerer). The
    * answer is one multi-line string per row (evidence lines may themselves
    * embed newlines — FACT lines carry whole corpus docs — so a
    * line-per-row shape would not round-trip). */
  val groundedAnswers: Q = Q(
    "q183_grounded_answers",
    (s, dir) => {
      import s.implicits._
      QA.Questions.zipWithIndex.map { case (q, i) =>
        (s"qa$i", graft.qa.Ask.ask(s, dir, q).answer)
      }.toDF("question_id", "answer")
    },
    None,
    oracleDyn = Some(() => sys.props.get("graft.oracle.outdir")
      .filter(out => freshDump(out, "aux_corpus_parts").isDefined &&
        freshDump(out, "aux_qa_vectors").isDefined &&
        freshDump(out, "q25_lineage_edges").isDefined &&
        freshDump(out, "q28_corpus_docs").isDefined)
      .map { out =>
        QA.Questions.zipWithIndex.map { case (q, i) =>
          val sub = evidenceLinesSubquery(out, q, s"question::qa$i")
          val qLit = q.replace("'", "''")
          s"""SELECT 'qa$i' AS question_id,
               -- DeterministicAnswerer (QA.scala) returns this literal when a
               -- question yields ZERO evidence rows; without the CASE the
               -- oracle would still emit the bare 'QUESTION: …' header and
               -- hash-diverge on any future evidence-less question
               CASE WHEN (SELECT count(1) FROM $sub e0) = 0
                 THEN 'Unknown from available lineage metadata.'
                 ELSE string_agg(line, chr(10) ORDER BY sec, pos, ord) || chr(10)
               END AS answer
             FROM (
               SELECT 0 AS sec, 0 AS pos, CAST(0 AS BIGINT) AS ord,
                      'QUESTION: $qLit' AS line
               UNION ALL
               SELECT sec, 0 AS pos, CAST(0 AS BIGINT) AS ord,
                      section || ' (' || count(1) || '):' AS line
               FROM $sub ev GROUP BY sec, section
               UNION ALL
               SELECT sec, 1 AS pos, ord, '  - ' || line AS line
               FROM $sub ev2 WHERE ord <= 10
             ) t"""
        }.mkString("\nUNION ALL\n")
      }))

  /** q184: the mermaid lineage DOCUMENT (A13) as (graph_id, line_no, line)
    * rows — the repo overview flowchart plus every per-script column graph,
    * rendered by the same [[graft.render.Mermaid]] templating the HTML CLI
    * ships, with pinned input order (scripts and links sorted; edges sorted
    * by their full tuple) so the fold is deterministic. The oracle re-folds
    * every line in DuckDB from the raw asset dump (node/edge lines per
    * script block, writer→reader dashed links re-derived by the q26 stitch)
    * and the q25 edge dump (per-script `a -->|reason| b` lines), including
    * mermaid's safe_id sanitization (build_html.py:31) as a regexp_replace.
    */
  val mermaidDoc: Q = Q(
    "q184_mermaid_doc",
    (s, dir) => {
      import s.implicits._
      val ls = lineages(s, dir).sortBy(_.script)
      val links = Lineage.stitch(ls).sortBy(l => (l.fromScript, l.toScript, l.asset))
      val edges = Lineage.edges(ls).sortBy(e => (e.srcDf, e.srcCol, e.df, e.targetCol, e.reason))
      val over = graft.render.Mermaid.overview(ls, links)
        .linesIterator.zipWithIndex
        .map { case (l, n) => ("overview", n.toLong, l) }.toSeq
      val per = ls.flatMap { sl =>
        graft.render.Mermaid.columnGraph(sl.script, edges)
          .linesIterator.zipWithIndex
          .map { case (l, n) => (s"script:${sl.script}", n.toLong, l) }
      }
      (over ++ per).toDF("graph_id", "line_no", "line")
    },
    None,
    oracleDyn = Some(() => sys.props.get("graft.oracle.outdir")
      .filter(out => freshDump(out, "aux_corpus_parts").isDefined &&
        freshDump(out, "q25_lineage_edges").isDefined)
      .map { out =>
        s"""WITH parts AS (
          SELECT * FROM read_parquet('$out/aux_corpus_parts/*.parquet')
        ), scripts AS (
          SELECT script, CAST(row_number() OVER (ORDER BY script) AS BIGINT) AS si
          FROM parts WHERE kind = 'script'
        ), assets AS (
          SELECT script, direction, path, ord FROM parts WHERE kind = 'asset'
        ), ov AS (
          SELECT 0 AS blk, CAST(0 AS BIGINT) AS si, CAST(0 AS BIGINT) AS ao,
                 0 AS sub, 'flowchart LR' AS line
          UNION ALL
          SELECT 1, s.si, CAST(-1 AS BIGINT), 0,
                 '  ' || regexp_replace(s.script, '[^A-Za-z0-9_]', '_', 'g')
                   || '["' || s.script || '"]'
          FROM scripts s
          UNION ALL
          SELECT 1, s.si, CAST(a.ord AS BIGINT), 0,
                 '  ' || regexp_replace(a.path, '[^A-Za-z0-9_]', '_', 'g')
                   || '(("' || a.path || '"))'
          FROM assets a JOIN scripts s ON a.script = s.script
          UNION ALL
          SELECT 1, s.si, CAST(a.ord AS BIGINT), 1,
                 CASE WHEN a.direction = 'read'
                   THEN '  ' || regexp_replace(a.path, '[^A-Za-z0-9_]', '_', 'g')
                     || ' --> ' || regexp_replace(a.script, '[^A-Za-z0-9_]', '_', 'g')
                   ELSE '  ' || regexp_replace(a.script, '[^A-Za-z0-9_]', '_', 'g')
                     || ' --> ' || regexp_replace(a.path, '[^A-Za-z0-9_]', '_', 'g')
                 END
          FROM assets a JOIN scripts s ON a.script = s.script
          UNION ALL
          SELECT 2,
                 CAST(row_number() OVER (ORDER BY l.src, l.dst, l.asset) AS BIGINT),
                 CAST(0 AS BIGINT), 0,
                 '  ' || regexp_replace(l.src, '[^A-Za-z0-9_]', '_', 'g')
                   || ' -. ' || l.asset || ' .-> '
                   || regexp_replace(l.dst, '[^A-Za-z0-9_]', '_', 'g')
          FROM (
            SELECT DISTINCT w.script AS src, r.script AS dst, w.norm AS asset
            FROM (SELECT script, direction,
                         regexp_replace(path, '/+$$', '') AS norm FROM assets) w
            JOIN (SELECT script, direction,
                         regexp_replace(path, '/+$$', '') AS norm FROM assets) r
              ON w.norm = r.norm
            WHERE w.direction = 'write' AND r.direction = 'read'
              AND w.script <> r.script
          ) l
        ), overview_rows AS (
          SELECT 'overview' AS graph_id,
                 CAST(row_number() OVER (ORDER BY blk, si, ao, sub) - 1 AS BIGINT)
                   AS line_no, line
          FROM ov
        ), sg AS (
          SELECT s.script, 0 AS sub,
                 '' AS k1, '' AS k2, '' AS k3, '' AS k4, '' AS k5,
                 'flowchart TB' AS line
          FROM scripts s
          UNION ALL
          SELECT e.script, 1,
                 e."srcDf", e."srcCol", e.df, e."targetCol", e.reason,
                 '  ' || regexp_replace(e."srcDf" || '.' || e."srcCol", '[^A-Za-z0-9_]', '_', 'g')
                   || '["' || e."srcDf" || '.' || e."srcCol" || '"]'
                   || ' -->|' || e.reason || '| '
                   || regexp_replace(e.df || '.' || e."targetCol", '[^A-Za-z0-9_]', '_', 'g')
                   || '["' || e.df || '.' || e."targetCol" || '"]'
          FROM read_parquet('$out/q25_lineage_edges/*.parquet') e
        ), script_rows AS (
          SELECT 'script:' || script AS graph_id,
                 CAST(row_number() OVER (PARTITION BY script
                   ORDER BY sub, k1, k2, k3, k4, k5) - 1 AS BIGINT) AS line_no,
                 line
          FROM sg
        )
        SELECT graph_id, line_no, line FROM overview_rows
        UNION ALL SELECT graph_id, line_no, line FROM script_rows"""
      }))

  val all: Seq[Q] = Seq(lineageEdges, repoLinks, impactClosure, corpusDocs,
    qaRetrieval, qaRetrievalSimple, qaEvidence, recursiveClosure,
    groundedAnswers, mermaidDoc)
}
