package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB hash compare (tools/verify_local.py).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir>. SPARK_GRAFT_ONLY=qA,qB
  * dumps just those queries (plus their oracles) for a fast pre-flight; an
  * unknown name fails the run. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val queries = Harness.select(Harness.only)
    val spark = Harness.session()
    // pin dynamic oracles (q34's centroid literals) to this run's sf dir
    System.setProperty("graft.oracle.sfdir", sfDir)
    // ... and let dump-derived oracles (q27's recursive closure over the q25
    // edge dump, q29/q44's retrieval over the vector dump) point DuckDB at
    // this run's output directory; the run-start stamp lets them verify a
    // dump is from THIS run, not a stale leftover in the same outDir
    System.setProperty("graft.oracle.outdir", new java.io.File(outDir).getAbsolutePath)
    System.setProperty("graft.oracle.runstart", System.currentTimeMillis().toString)
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // aux dump for the dump-derived oracles (q26/q28/q29/q30/q44/q183/q184),
    // on every run, subsets included: it is metadata-sized. After the loop
    // so the q28 metadata dump the oracle joins is already on disk.
    try ops.LineageQueries.dumpRetrievalAux(spark, sfDir, outDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] aux_qa_vectors failed: ${e.getMessage}")
    }
    val names = queries.map(_._1).toSet
    val json = SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
