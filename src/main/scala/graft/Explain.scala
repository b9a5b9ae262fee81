package graft

/** Plan inspection utility: prints the formatted physical plan of selected
  * queries (all when no args). Usage: runMain graft.Explain [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val queries = Harness.select(args.toSeq)
    val spark = Harness.session()
    queries.foreach { case (n, fn) =>
      println(s"\n########## $n ##########")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
