package graft.tools

import org.apache.spark.sql.functions._

/** One-shot diagnostic for q259's exact-verify data mass (the stage that
  * overran the sf10 deep rung's local shuffle disk, BENCH_NOTES r14): per
  * corpus, prints the candidate-pair count, the per-doc candidate DEGREE
  * distribution (max / p99 / mean), the per-doc rare-shingle count
  * distribution (the cap knob VERDICT r15 directive #1 asks for), and the
  * verify mass Σ_pairs (|terms(a)| + |terms(b)|) — the exact row count of the
  * two posting joins' shuffle. Measurement, not a registered query: this is
  * what sizes the q259 candidate budget B so the cap provably clears every
  * tested corpus (hashes unchanged) while bounding the pathological case.
  */
object VerifyMass {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    dirs.foreach { dir =>
      val docs = graft.Tables.documents(spark, dir)
      val ng = docs
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))")))
          .as("ngram"))
      val rare = ng.groupBy("ngram").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 50)
      val rr = ng.join(rare, "ngram").persist()
      val perDoc = rr.groupBy("doc_id").agg(count(lit(1)).as("nrare"))
        .agg(max("nrare").as("mx"), expr("percentile_approx(nrare, 0.99)").as("p99"),
          avg("nrare").as("mean"), count(lit(1)).as("docs")).head()
      println(s"[mass] $dir rare-shingles/doc: max=${perDoc.get(0)} p99=${perDoc.get(1)} mean=${perDoc.get(2)} docs=${perDoc.get(3)}")
      val cand = rr.as("a").join(rr.as("b"),
          col("a.ngram") === col("b.ngram") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct().persist()
      val nc = cand.count()
      val deg = cand.select(col("doc_a").as("d")).union(cand.select(col("doc_b").as("d")))
        .groupBy("d").agg(count(lit(1)).as("deg"))
        .agg(max("deg"), expr("percentile_approx(deg, 0.99)"), avg("deg")).head()
      println(s"[mass] $dir candidates=$nc degree: max=${deg.get(0)} p99=${deg.get(1)} mean=${deg.get(2)}")
      val terms = docs.select(col("doc_id"),
        size(array_distinct(split(col("text"), " "))).as("nterms"))
      val mass = cand
        .join(terms.select(col("doc_id").as("doc_a"), col("nterms").as("ta")), Seq("doc_a"))
        .join(terms.select(col("doc_id").as("doc_b"), col("nterms").as("tb")), Seq("doc_b"))
        .agg(sum(col("ta") + col("tb"))).head()
      println(s"[mass] $dir verify mass rows=${mass.get(0)}")
      cand.unpersist(); rr.unpersist()
    }
    spark.stop()
  }
}
