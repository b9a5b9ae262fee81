package graft.lineage

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._

/** Canonical lineage edges, repo stitching, dependency graphs and BFS closures
  * — the reference's postprocess/stitch/QA-graph layer
  * (lineage_postprocess.py:12-121, stitch_repo.py:4-30, qa/ask.py:167-341).
  * Edges and links are plain Scala over the extracted `Seq[ScriptLineage]`,
  * which already lives on the driver: repo metadata, O(scripts × columns).
  * Their Dataset forms are local relations, so no Spark job runs before a
  * consumer's own action, nor in an exact aggregate over them. The column
  * graph and the closure stay frames: a closure walks the graph on the
  * driver while its edge list fits [[collectIfSmall]]'s bound and as a
  * frontier-join loop past it. Q&A
  * ([[graft.qa.Ask]], [[graft.qa.Query]]) walks the knowledge-base snapshot
  * ([[graft.qa.QA.Kb.snapshot]]) with [[driverBfsSeq]] and runs no job.
  */
object Lineage {

  /** Canonical column edges from extracted lineage (A11). Dedup key mirrors
    * the reference: (df, target, sorted sources) — lineage_postprocess.py:106-118.
    * The FIRST occurrence in plan-walk order wins per
    * (script, df, targetCol, srcDf, srcCol) — "earliest plan node wins", the
    * reference's insertion-order dict behavior — so the q25 DuckDB oracle can
    * recompose the exact rows from the raw plan-node dump. */
  def edges(lineages: Seq[ScriptLineage]): Seq[Edge] =
    (for {
      sl <- lineages
      df <- sl.dfs
      cd <- df.columns
      s <- cd.sources
    } yield {
      val (srcDf, srcCol) = s.span(_ != '.') match {
        case (d, c) if c.nonEmpty => (d, c.drop(1))
        case (c, _) => ("", c)
      }
      Edge(sl.script, df.name, cd.name, srcDf, srcCol, cd.transformation)
    }).distinctBy(e => (e.script, e.df, e.targetCol, e.srcDf, e.srcCol))

  /** [[edges]] as a local Dataset: no Spark job runs before a consumer's own
    * action, and an exact aggregate over it (a `count()`, a content hash)
    * folds on the driver ([[graft.LocalAggregate]]) and runs none. */
  def edges(spark: SparkSession, lineages: Seq[ScriptLineage]): Dataset[Edge] = {
    import spark.implicits._
    spark.createDataset(edges(lineages))
  }

  /** Writer→reader stitching on shared (already-normalized) asset paths (A12):
    * writes matched to reads of the same path, trailing slashes stripped,
    * self-links dropped, distinct — stitch_repo.py:4-30. */
  def stitch(lineages: Seq[ScriptLineage]): Seq[RepoLink] = {
    val assets = lineages.flatMap(_.assets).map(a => a.copy(path = a.path.replaceAll("/+$", "")))
    val readers = assets.filter(_.direction == "read").groupMap(_.path)(_.script)
    assets.filter(_.direction == "write").flatMap { w =>
      readers.getOrElse(w.path, Nil).filter(_ != w.script).map(RepoLink(w.script, _, w.path))
    }.distinct
  }

  /** [[stitch]] as a local Dataset; aggregates over it fold on the driver
    * like those over [[edges]]. */
  def stitch(spark: SparkSession, lineages: Seq[ScriptLineage]): Dataset[RepoLink] = {
    import spark.implicits._
    spark.createDataset(stitch(lineages))
  }

  /** Global column dependency graph (A18): name-level src→dst with reasons —
    * the reference aliases same-named columns across scripts (qa/ask.py:185-200,
    * kept deliberately, SURVEY §4.3.5) — plus the df-qualified pair for
    * precision. */
  def columnGraph(edges: Dataset[Edge]): DataFrame =
    edges.select(
      col("srcCol").as("src"),
      col("targetCol").as("dst"),
      concat_ws("", col("script"), lit(": "), col("srcDf"), lit("."), col("srcCol"),
        lit(" -> "), col("df"), lit("."), col("targetCol"),
        lit(" ("), col("reason"), lit(")")).as("reason"))
      .filter(col("src") =!= col("dst")) // self-loops would never terminate BFS usefully
      .distinct()

  /** Edge-count threshold below which a closure runs as a driver BFS: a
    * column-lineage graph is REPO METADATA — O(scripts × columns), not data
    * volume — so at any plausible repo size the complete edge list fits in
    * driver memory and scheduling a Spark job per BFS level is pure
    * overhead (measured: ~15 tiny jobs to walk a 130-edge graph). The
    * distributed loop below stays the closure's path for graphs that
    * outgrow this. */
  private val DriverBfsMaxEdges = 65536

  /** The one bounded read that decides driver vs distributed for a closure:
    * `df`'s rows when it has at most [[DriverBfsMaxEdges]] of them, None when
    * it outgrows the driver. */
  private def collectIfSmall(df: DataFrame): Option[Array[Row]] = {
    val rows = df.limit(DriverBfsMaxEdges + 1).collect()
    if (rows.length <= DriverBfsMaxEdges) Some(rows) else None
  }

  /** Downstream transitive closure from a start column (A19): BFS with
    * min-depth semantics, capped — qa/ask.py:211-223 (limit 2000). */
  def downstreamClosure(spark: SparkSession, graph: DataFrame, start: String,
      limit: Int = 2000, maxDepth: Int = 20): DataFrame =
    closure(spark, graph.select(col("src"), col("dst")).distinct(), Seq(start),
      includeSeeds = false, limit, maxDepth, "column")

  /** The one closure frame behind A19: (key, depth) rows sorted by
    * (depth, key), seeds at depth 0 when `includeSeeds`. `limit` counts the
    * seeds; a level that overflows it keeps complete levels, then fills
    * alphabetically. The reference (qa/ask.py:211-223) stops in BFS
    * discovery order instead, so at the cap boundary the retained subset
    * can differ; below the cap the closures are identical.
    *
    * Adaptive execution: one bounded read of the (src, dst) `pairs`
    * ([[collectIfSmall]]) decides the path — a complete in-memory edge list
    * runs [[driverBfsSeq]]; a larger graph runs the frontier-join loop
    * ([[distributedClosure]]). Both paths are asserted identical in
    * InfraSpec. */
  private[graft] def closure(spark: SparkSession, pairs: DataFrame, seeds: Seq[String],
      includeSeeds: Boolean, limit: Long, maxDepth: Int, key: String): DataFrame =
    collectIfSmall(pairs) match {
      case Some(rows) => localDepthFrame(spark, driverBfsSeq(
        rows.toSeq.map(r => (r.getString(0), r.getString(1))),
        seeds, includeSeeds, limit, maxDepth), key)
      case None =>
        distributedClosure(spark, pairs, seeds, includeSeeds, limit, maxDepth, key)
    }

  /** The ONE driver-side level-synchronous BFS — [[closure]]'s driver path,
    * qa.Ask's column (A19) and script (A21) closures and qa.Query's column
    * closure all run it, so cap/min-depth semantics cannot drift between
    * them. */
  private[graft] def driverBfsSeq(edges: Seq[(String, String)], seeds: Seq[String],
      includeSeeds: Boolean, limit: Long = Long.MaxValue,
      maxDepth: Int = 20): Seq[(String, Int)] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).distinct }
    val ds = seeds.distinct
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    if (includeSeeds) acc ++= ds.map(_ -> 0)
    var seen = ds.toSet
    var frontier: Seq[String] = ds
    var have = ds.size.toLong
    var depth = 0
    var done = false
    while (!done && depth < maxDepth) {
      depth += 1
      val next = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(seen)
      if (next.isEmpty) done = true
      else if (have + next.size > limit) {
        acc ++= next.sorted.take((limit - have).toInt).map(_ -> depth)
        done = true
      } else {
        acc ++= next.map(_ -> depth)
        seen ++= next
        have += next.size
        frontier = next
      }
    }
    acc.toSeq
  }

  /** (key, depth) pairs → a sorted local relation — the shared scaffolding
    * for every driver-path closure result. */
  private def localDepthFrame(spark: SparkSession,
      pairs: Seq[(String, Int)], keyName: String): DataFrame = {
    val rows = pairs.sortBy { case (k, d) => (d, k) }
      .map { case (k, d) => org.apache.spark.sql.Row(k, d) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(keyName,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("depth",
          org.apache.spark.sql.types.IntegerType))))
  }

  /** Iterative frontier-join closure — [[closure]]'s path for graphs too
    * large to collect. Same loop is checkpoint-per-iteration at scale.
    *
    * Checkpoint lifecycle (round-7 audit): each round's barriers are freed
    * as soon as the next round's barrier is materialized (only the newest
    * frontier/result are live), and since the result is CAPPED at `limit`
    * rows by reference semantics it is collected into a local relation at
    * the end so the final barriers release too — repeated invocations leave
    * zero persisted RDDs behind. */
  private[graft] def distributedClosure(spark: SparkSession, edgePlan: DataFrame,
      seeds: Seq[String], includeSeeds: Boolean, limit: Long, maxDepth: Int,
      key: String): DataFrame = {
    import spark.implicits._
    val edges = edgePlan.cache()
    val ds = seeds.distinct
    var result = ds.map((_, 0)).toDF(key, "depth")
    var frontier = result
    var liveCks = Seq.empty[DataFrame] // barriers the current round still reads
    var depth = 0
    var have = ds.size.toLong // running |result| — avoids a recount job every depth
    var done = false
    try {
      while (!done && depth < maxDepth) {
        depth += 1
        // localCheckpoint truncates the logical plan each iteration — without
        // it the union+anti-join recursion doubles the plan per depth (2^d
        // nodes); on a cluster this is checkpoint()-per-iteration
        val next = graft.Ckpt.eager(frontier.select(col(key).as("fkey"))
          .join(edges.as("e"), col("fkey") === col("e.src"))
          .select(col("e.dst").as(key), lit(depth).as("depth"))
          .distinct()
          .join(result.select(col(key).as("seen")), col(key) === col("seen"), "left_anti"))
        val cnt = next.count()
        if (cnt == 0) { graft.Ckpt.free(next); done = true }
        else if (have + cnt > limit) {
          // truncate the overflowing level to exactly `limit` total nodes,
          // deterministically (ordered by key)
          val capped = graft.Ckpt.eager(result
            .unionByName(next.orderBy(col(key)).limit((limit - have).toInt)))
          graft.Ckpt.free(next)
          liveCks.foreach(graft.Ckpt.free)
          liveCks = Seq(capped)
          result = capped
          done = true
        } else {
          val merged = graft.Ckpt.eager(result.unionByName(next))
          liveCks.foreach(graft.Ckpt.free)
          liveCks = Seq(merged, next)
          result = merged
          have += cnt
          frontier = next
        }
      }
      // the closure is ≤ `limit` rows by construction — collect into a local
      // relation so the last round's barriers release with everything else
      val outPlan = (if (includeSeeds) result else result.filter(col("depth") > 0))
        .orderBy(col("depth"), col(key))
      val rows = outPlan.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), outPlan.schema)
    } finally {
      liveCks.foreach(graft.Ckpt.free)
      edges.unpersist()
    }
  }
}
