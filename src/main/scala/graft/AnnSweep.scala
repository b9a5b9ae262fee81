package graft

/** Measurement harness for the ANN recall/cost dials (q19's multi-probe
  * Hamming budget, q34's IVF probe count) — produces the BENCH_NOTES table
  * backing the "documented dial" claim. Not part of the query surface: it
  * drives the SAME plan builders the registered queries use
  * (`Similarity.lshTopK` / `Similarity.ivfTopK`), so the numbers it prints
  * are the numbers the production dials would deliver.
  *
  * Usage: runMain graft.AnnSweep [sfDir]
  * Prints one line per dial setting: recall@5 vs the q18 exact baseline,
  * candidate-pair volume (the scan-cost proxy — re-rank work is linear in
  * it), and warm wall time (second run of each plan).
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()

    val exact = ops.Similarity.knnBruteForce.run(spark, dir)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nExact = exact.size
    println(s"# dir=$dir exact-baseline pairs=$nExact (queries=${exact.map(_._1).size})")

    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / nExact
    }
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    println(f"${"dial"}%-14s ${"recall@5"}%9s ${"scan_cost"}%14s ${"warm_s"}%7s")
    for (h <- 0 to 2) {
      // scan-cost proxy: candidate pairs surviving the band-bucket join
      val nCand = ops.Similarity.lshCandidates(spark, dir, h).count()
      val (r, _) = timed(recallOf(ops.Similarity.lshTopK(spark, dir, h)))
      val (_, t) = timed(ops.Similarity.lshTopK(spark, dir, h).count())
      println(f"lsh H<=$h       $r%9.3f ${nCand + " pairs"}%14s $t%7.2f")
    }
    for (p <- Seq(1, 2, 4, 8, 16)) {
      // scan-cost proxy: fraction of the corpus each query probes
      val (r, _) = timed(recallOf(ops.Similarity.ivfTopK(spark, dir, p)))
      val (_, t) = timed(ops.Similarity.ivfTopK(spark, dir, p).count())
      println(f"ivf probes=$p%-2d  $r%9.3f ${s"$p/${ops.Similarity.IvfIndex.nCells} corpus"}%14s $t%7.2f")
    }
    spark.stop()
  }
}
