package graft

/** Per-query time split — guide §1 "measure first" for the long tail: a
  * registered query's wall clock is (a) the builder call (driver-side Scala,
  * including any collect-driven loops), (b) Catalyst analysis + optimization
  * + physical planning, and (c) execution. Optimizing (c) is pointless for a
  * query whose time is (a)/(b) — this tool says which it is, per query,
  * after the same warmup discipline Bench uses.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.PlanProfile [query ...]
  * Prints: PROF <name> build=<s> plan=<s> exec=<s> total=<s> all=<s,s,s>
  * ext_busy=<cores> (best-of-3 per query; `all` lists the three totals;
  * `plan` forces queryExecution.executedPlan on a fresh frame, so with AQE it
  * covers the INITIAL physical plan — runtime re-optimization still lands in
  * exec, as it does in production.) Every named query runs once, untimed,
  * before any is timed, so naming a query's suite neighbours as well
  * reproduces a warm-suite neighbourhood (PlanCache entries they materialize
  * stay persisted).
  */
object PlanProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = Harness.select(args.toSeq)
    val spark = Harness.session()
    // warmup identical to Bench: one untimed pass + shared-frame rewarm
    queries.foreach { case (_, fn) => fn(spark, sfDir).count() }
    PlanCache.rewarm(spark)
    queries.foreach { case (n, fn) =>
      // isolated readings carry the same load precondition the suite
      // artifact does (VERDICT r15 #2): external busy cores measured
      // immediately before this query's timed passes
      val ext = Bench.externalBusyCores()
      // Time all three phases on ONE frame per iteration (ADVICE r18): the
      // old split subtracted independently sampled best-of-2 timings, each
      // with its own fresh builder call, so cross-run noise could drive a
      // phase negative (silently clamped) and misattribute time between
      // build/plan/exec. Here the subtraction is within one run: t0→t1 the
      // builder, t1→t2 forcing executedPlan on that same frame, t2→t3 the
      // count — then best-of-3 over the (build, plan, exec) triples.
      val triples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
      val totals = triples.map(t => t._1 + t._2 + t._3)
      val best = triples(totals.indexOf(totals.min))
      println(f"PROF $n build=${best._1}%.3f plan=${best._2}%.3f " +
        f"exec=${best._3}%.3f total=${totals.min}%.3f " +
        f"all=${totals.map(t => f"$t%.3f").mkString(",")} ext_busy=$ext%.2f")
    }
    spark.stop()
  }
}
