package graft.lineage

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.model._

/** Canonical lineage edges, repo stitching and the BFS closure — the
  * reference's postprocess/stitch/QA-graph layer
  * (lineage_postprocess.py:12-121, stitch_repo.py:4-30, qa/ask.py:167-341).
  * Edges and links are plain Scala over the extracted `Seq[ScriptLineage]`,
  * which already lives on the driver: repo metadata, O(scripts × columns).
  * Their Dataset forms are local relations, so no Spark job runs before a
  * consumer's own action, nor in an exact aggregate over them. The column
  * graph is the knowledge-base snapshot's `colPairs`
  * ([[graft.qa.QA.Kb.snapshot]]), and every closure — q27, Ask's column
  * (A19) and script (A21) walks, Query's column walk — is [[driverBfsSeq]]
  * over a driver edge list; none runs a job.
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

  /** The ONE closure: a driver-side level-synchronous BFS over `edges`
    * with min-depth semantics — qa/ask.py:211-223 — returning (key, depth)
    * pairs, seeds at depth 0 when `includeSeeds`. `limit` counts the seeds;
    * a level that overflows it keeps complete levels, then fills
    * alphabetically. The reference stops in BFS discovery order instead,
    * so at the cap boundary the retained subset can differ; below the cap
    * the closures are identical. q27, qa.Ask's column (A19) and script
    * (A21) closures and qa.Query's column closure all run it, so cap and
    * min-depth semantics cannot drift between them. */
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

  /** (key, depth) pairs → a local relation sorted by (depth, key): a
    * closure's frame form (q27). */
  private[graft] def localDepthFrame(spark: SparkSession,
      pairs: Seq[(String, Int)], keyName: String): DataFrame = {
    val rows = pairs.sortBy { case (k, d) => (d, k) }.map { case (k, d) => Row(k, d) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField(keyName, StringType), StructField("depth", IntegerType))))
  }
}
