package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Build-time gates for the three physical-plan shapes that are fatal at
  * 100 TB regardless of how fast they run at test sf (VERDICT r13 directive
  * #1 — the CartesianProduct gate caught q149's un-hashable OR-join on its
  * first run; these give the other two scale-killers the same treatment):
  *
  *  1. CartesianProduct — quadratic by construction.
  *  2. A SinglePartition shuffle feeding a Sort with no cardinality reducer
  *     (aggregate / limit / TakeOrdered) in between: the whole dataset
  *     serializes through one task. A global `orderBy` is fine (it plans a
  *     RangePartitioning exchange — parallel); `Window.orderBy` with no
  *     partitionBy is the classic way this shape enters.
  *  3. A BroadcastExchange whose build subtree reaches a FACT-table scan
  *     (documents / lineitem / events / embeddings — the tables that grow
  *     with the corpus) without crossing a cardinality reducer: the build
  *     side is data-proportional and OOMs the driver/executors at scale.
  *     Dimension tables (region/nation/customer/supplier/part) stay
  *     broadcastable — that is what broadcast is FOR.
  *
  * The walk descends through AQE wrappers (AdaptiveSparkPlanExec, query
  * stages, reused exchanges) and — deliberately — through
  * InMemoryTableScanExec into the cached plan, so a PlanCache-persisted
  * frame is audited back to its source scans rather than laundering a
  * data-proportional broadcast behind `.persist()`.
  *
  * "Cardinality reducer" = aggregate, global/local limit, TakeOrdered, or a
  * (semi/anti/inner-equi) join is NOT one: joins do not bound output size in
  * general. Operators with a genuinely bounded frame that still trips a gate
  * must be listed in the spec's documented-exception map with the bound.
  */
object PlanGates {

  /** Fact tables: row counts proportional to corpus size at every sf.
    * `orders` is fact-shaped too but small enough at all published sfs that
    * the reference broadcasts it nowhere; include it — a broadcast of any
    * table that scales with sf is wrong at 100 TB. */
  val factTables: Seq[String] =
    Seq("documents", "lineitem", "events", "embeddings", "orders")

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec        => Seq(q.plan)
    case r: ReusedExchangeExec    => Seq(r.child)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case o                        => o.children
  }

  /** Every node of the AQE-final plan, stages and cached plans included. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(walk)

  /** True when `pred` holds on some node reachable from `p` without
    * crossing a cardinality reducer. */
  private def reachableUnreduced(p: SparkPlan)(pred: SparkPlan => Boolean): Boolean =
    pred(p) || (p match {
      case _: BaseAggregateExec | _: GlobalLimitExec | _: LocalLimitExec |
          _: TakeOrderedAndProjectExec | _: CollectLimitExec => false
      case o => kids(o).exists(reachableUnreduced(_)(pred))
    })

  private def isFactScan(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.exists { path =>
        val s = path.toString
        factTables.exists(t => s.contains("/" + t + ".parquet"))
      }
    case _ => false
  }

  /** The fatal sort shape: Sort fed (unreduced) by a SinglePartition shuffle
    * whose INPUT is itself fact-proportional (a fact scan is reachable below
    * the exchange without crossing a reducer). A one-task sort of a bounded
    * frame — per-source report rows, a threshold grid, any aggregate output —
    * is harmless at every scale and does NOT flag; serializing the corpus
    * through one task does. */
  private def isFatalSinglePartitionSort(s: SortExec): Boolean =
    reachableUnreduced(s.child) {
      case x: ShuffleExchangeLike if x.outputPartitioning == SinglePartition =>
        reachableUnreduced(x.child)(isFactScan)
      case _ => false
    }

  /** Violation strings for one executed (AQE-final) physical plan plus its
    * analyzed logical plan; empty = clean.
    *
    * The broadcast gate deliberately audits EXPLICIT `broadcast()` hints on
    * the analyzed logical plan, not physical BroadcastExchange nodes: at
    * test sf, AQE's size-based auto-broadcast promotes most small joins to
    * broadcast (correct — and self-gating at scale, a 2 TB side never
    * auto-promotes), so physical exchanges say nothing about 100 TB. A HINT
    * forces the broadcast at any scale; a hint whose subtree is
    * fact-proportional is the real defect class (the r13 hand-audit that
    * dropped Dedup's doc-proportional hints, now build-time). The analyzed
    * plan (pre-cache-substitution) keeps hints visible inside PlanCache'd
    * frames. */
  def violations(df: DataFrame): Seq[String] = {
    val nodes = walk(df.queryExecution.executedPlan)
    val cartesian = nodes.collect { case c: CartesianProductExec => c }
      .map(_ => "CartesianProduct: quadratic join shape")
    val spSort = nodes.collect {
      case s: SortExec if isFatalSinglePartitionSort(s) =>
        "SinglePartitionSort: fact-proportional rows serialize through a " +
          "single-partition exchange into a Sort (unpartitioned window / " +
          "one-task global sort)"
    }
    val factBcast = hintViolations(df.queryExecution.analyzed)
    (cartesian ++ spSort ++ factBcast).distinct
  }

  // ---- logical-plan hint gate ----
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, GlobalLimit, LocalLimit, LogicalPlan, ResolvedHint}
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  private def isFactRelation(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation =>
      l.relation match {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths.exists { path =>
            val s = path.toString
            factTables.exists(t => s.contains("/" + t + ".parquet"))
          }
        case _ => false
      }
    case _ => false
  }

  private def reachableUnreducedL(p: LogicalPlan)(pred: LogicalPlan => Boolean): Boolean =
    pred(p) || (p match {
      case _: Aggregate | _: GlobalLimit | _: LocalLimit | _: Deduplicate => false
      case o => o.children.exists(reachableUnreducedL(_)(pred))
    })

  /** Explicit broadcast() hints whose build subtree reaches a fact relation
    * with no aggregation/limit/dedup between relation and hint. */
  def hintViolations(analyzed: LogicalPlan): Seq[String] =
    analyzed.collect {
      case h: ResolvedHint
          if h.hints.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST) &&
            reachableUnreducedL(h.child)(isFactRelation) =>
        "FactBroadcastHint: explicit broadcast() hint on a fact-proportional " +
          "subtree (no aggregation/limit between fact scan and hint)"
    }.distinct

  /** True when the plan contains a join planned as CartesianProductExec —
    * kept for callers that only need the r13 gate. */
  def hasCartesian(df: DataFrame): Boolean =
    walk(df.queryExecution.executedPlan).exists(_.isInstanceOf[CartesianProductExec])

  /** Documented exceptions to the FactBroadcastHint gate ONLY (the cartesian
    * and single-partition-sort gates admit none): every entry is an explicit
    * broadcast() of the QUERY-WORKLOAD MODEL — the vec_id % 50 sample (2% of
    * the embeddings corpus) standing in for the arriving query set of a
    * retrieval service. In production the broadcast side is the query
    * workload (bounded per serving window — q260 serves the same plan per
    * micro-batch), not a corpus fraction; the harness models that workload
    * as a corpus sample because the testdata has no separate query table.
    * Structurally boundable hints (q139's 1-row probe via limit(1), Dedup's
    * top-50-hub / 256-row / 1-row broadcasts behind aggregates or limits)
    * are NOT excepted — the gate proves them. Lives here (not in the spec)
    * so PipelinesSpec and the PlanGateAudit CLI apply the SAME map — an
    * sf0.01/sf0.1 audit run reports true violations, not the known 13. */
  val broadcastHintExceptions: Map[String, String] = Map(
    "q17_dedup_embedding" -> "2% query-sample broadcast (workload model)",
    "q18_knn_bruteforce" -> "2% query-sample broadcast (workload model)",
    "q19_knn_lsh" -> "2% query-sample broadcast, banded ×37 probes",
    "q34_knn_ivf" -> "2% query-sample broadcast (workload model)",
    "q156_pq_adc_topk" -> "2% query-sample broadcast (workload model)",
    "q157_ivfpq_topk" -> "2% query-sample broadcast (workload model)",
    "q159_truncation_recall" -> "2% query-sample broadcast ×3 dim budgets",
    "q195_ann_recall" -> "2% query-sample broadcast (eval of q19)",
    "q222_ann_rank_quality" -> "2% query-sample broadcast (eval of q19)",
    "q224_hard_negatives" -> "2% query-sample broadcast (workload model)",
    "q225_knn_label_noise" -> "2% query-sample broadcast (workload model)",
    "q258_rbo_agreement" -> "2% query-sample broadcast (eval of q18/q19)",
    "q66_range_join" -> ("promo-interval table: 1/400 key sample ×≤4 day " +
      "bins — models an external promotions DIMENSION (at 100 TB the promo " +
      "list is a small side table, not an orders derivative)"))

  /** [[violations]] minus the documented FactBroadcastHint exceptions for
    * `name` — the form both the spec gate and the audit CLI enforce. */
  def enforcedViolations(name: String, df: DataFrame): Seq[String] =
    violations(df).filterNot(v => v.startsWith("FactBroadcastHint") &&
      broadcastHintExceptions.contains(name))
}

/** Dev CLI: run every registered query at a given sf dir and report plan-gate
  * violations — the same checks PipelinesSpec asserts at sf0.001, runnable at
  * sf0.01/sf0.1 where AQE's runtime statistics (auto-broadcast promotion,
  * skew splits) can produce different physical plans than the tiny spec sf.
  * Usage: runMain graft.PlanGateAudit /root/testdata/sf0.01 */
object PlanGateAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val queries = Harness.select(Harness.only)
    val spark = Harness.session()
    var bad = 0
    var excepted = 0
    // SPARK_GRAFT_ONLY (same contract as Verify's): unset = full audit
    queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.count() // finalize AQE
        val all = PlanGates.violations(df)
        val v = PlanGates.enforcedViolations(name, df)
        if (all.size != v.size) { excepted += 1
          println(s"excepted $name: ${PlanGates.broadcastHintExceptions(name)}")
        }
        if (v.nonEmpty) { bad += 1; println(s"VIOLATION $name: ${v.mkString("; ")}") }
      } catch {
        case e: Throwable => bad += 1
          println(s"ERROR $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"audit done: $bad flagged of ${queries.size} " +
      s"($excepted documented workload-model exceptions filtered)")
    spark.stop()
  }
}
