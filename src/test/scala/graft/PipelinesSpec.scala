package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = Harness.session(4)
  val sfDir = "/root/testdata/sf0.001"
}

/** The tier-1 full-suite passes, run once and shared: PipelinesSpec's gate
  * test reads pass 1 (rows and enforced plan-gate violations per query),
  * InfraSpec's persistent-RDD test reads the persisted-RDD counts after
  * pass 1 and after pass 2. Both passes run back to back, so no other test
  * sits between the two counts. */
object FullSuitePasses {
  import SparkTestSession._

  final case class Passes(pass1: Seq[(String, Long, Seq[String])],
      persistentAfter1: Int, persistentAfter2: Int)

  lazy val passes: Passes = {
    val queries = Harness.select(Nil)
    val pass1 = queries.map { case (name, fn) =>
      val df = fn(spark, sfDir)
      val rows = df.count()
      (name, rows, PlanGates.enforcedViolations(name, df))
    }
    val after1 = spark.sparkContext.getPersistentRDDs.size
    queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() >= 0, s"$name failed")
    }
    Passes(pass1, after1, spark.sparkContext.getPersistentRDDs.size)
  }
}

class PipelinesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every declared query runs, returns rows, and passes the plan gates") {
    // mechanized anti-pattern gates (r13 cartesian; r14 the other two
    // scale-killer shapes, VERDICT r13 directive #1): after execution,
    // every AQE-final physical plan must contain
    //   (1) no CartesianProduct — quadratic by construction (the gate that
    //       caught q149's un-hashable OR-join on its first run);
    //   (2) no Sort fed by a SinglePartition exchange whose input is
    //       fact-proportional — the whole corpus through ONE task (caught
    //       q174's global interleave rank and q180's corpus-wide NTILE on
    //       its first run; both now use q100's two-phase bucket rank);
    //   (3) no explicit broadcast() hint whose build subtree reaches a
    //       fact-table scan unreduced (on the ANALYZED plan — AQE's
    //       size-based auto-broadcasts are self-gating at scale and not
    //       audited), except the documented workload-model broadcasts
    //       in PlanGates.broadcastHintExceptions (the same map the
    //       PlanGateAudit CLI enforces at sf0.01/sf0.1).
    // Deliberate tiny cross joins (threshold grids, 1-row totals, 256-row
    // LUTs) plan as BroadcastNestedLoopJoin and stay allowed.
    val violations = FullSuitePasses.passes.pass1.flatMap {
      case (name, rows, vs) =>
        assert(rows > 0, s"$name returned 0 rows")
        vs.map(v => s"$name: $v")
    }
    assert(violations.isEmpty,
      s"plan-gate violations:\n${violations.mkString("\n")}")
  }

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q02 keeps exactly one row per customer") {
    val df = SparkEntry.queries("q02_dim_latest")(spark, sfDir)
    assert(df.count() === df.select("customer_id").distinct().count())
  }

  test("q06 session gaps within a session never exceed 30 minutes") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q06_sessionization")(spark, sfDir)
    // every session's span is bounded by (events_n - 1) * 30min
    val bad = df.filter(
      (unix_timestamp(col("session_end_ts")) - unix_timestamp(col("session_start_ts")))
        > (col("events_n") - 1) * 1800).count()
    assert(bad === 0)
  }

  test("q08 merge actions partition the keyspace") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q08_scd1_merge")(spark, sfDir)
    val actions = df.groupBy("merge_action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(actions.keySet === Set("updated", "inserted", "unchanged"))
    // inserted = custkeys divisible by 3 (not in target) and even (in updates)
    val c = Tables.customer(spark, sfDir)
    val expectedInserted = c.filter(col("c_custkey") % 3 === 0 && col("c_custkey") % 2 === 0).count()
    assert(actions("inserted") === expectedInserted)
  }
}
