package graft.extract

import java.nio.file.{Files, Paths}

import graft.lineage.Lineage
import graft.pipelines.Repo
import graft.qa.QA
import graft.render.Mermaid

/** Batch lineage-artifact dump — the reference's chained CLI pipeline
  * (static_extract → enrich → postprocess → stitch → build_html,
  * README.md:183-237) as one Spark job: per-script lineage JSON, canonical
  * edges, stitched repo graph, corpus docs, and the mermaid HTML report.
  *
  * Run: sbt "runMain graft.extract.LineageDump <sfDir> <outDir>"
  */
object LineageDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/root/repo/target/lineage_out")
    val spark = graft.Harness.session()
    import spark.implicits._

    val ls = Repo.lineage(spark, sfDir)
    val edges = Lineage.edges(spark, ls).cache()
    val links = Lineage.stitch(spark, ls).cache()
    val docs = QA.corpus(spark, ls, edges)

    spark.createDataset(ls).coalesce(1).write.mode("overwrite")
      .json(s"$outDir/script_lineage")
    edges.coalesce(1).write.mode("overwrite").json(s"$outDir/edges")
    links.coalesce(1).write.mode("overwrite").json(s"$outDir/repo_graph")
    docs.coalesce(1).write.mode("overwrite").json(s"$outDir/corpus")
    // persisted vector index (id + embedding), the embed_index.py artifact
    QA.embed(docs.toDF(), "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/index")

    val html = Mermaid.html(ls, links.collect().toSeq, edges.collect().toSeq)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/lineage_repo.html"), html)
    // reference-schema per-script JSON (drop-in for tooling against outputs/)
    val refDir = Paths.get(s"$outDir/reference_schema")
    Files.createDirectories(refDir)
    ls.foreach(sl => Files.writeString(
      refDir.resolve(s"${sl.script}.json"), ReferenceJson.render(sl)))
    println(s"lineage artifacts written to $outDir " +
      s"(${ls.size} scripts, ${edges.count()} edges, ${links.count()} links)")
    spark.stop()
  }
}
