package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.apache.spark.unsafe.Platform

/** One benchmark run: set up once, cold, then a closed single-client loop
  * over the generated op plan for a fixed number of seconds.
  *
  * Every layer is timed from outside, around public calls: the registered
  * query builders (`SparkEntry.queries`), `queryExecution.executedPlan`, the
  * action, `PlanCache.rewarm` / `drainSelfHeals`, `qa.Ask.ask`,
  * `pipelines.Repo.lineage`, `lineage.Lineage.edges` and `stitch`. The timed
  * action materialises every output column through an order-independent
  * xxhash64 sum, which is also the correctness check against `expected`.
  *
  * Arguments are `key=value` pairs; see `run.py`, which generates the plan
  * and the data and turns `out` into the benchmark's result line.
  */
object PerfBench {

  // ---------------------------------------------------------------- config

  /** Plan blocks run during set-up, before the timed loop. */
  val Warmup = 2

  final case class Conf(workload: String, data: String, plan: String,
      seconds: Double, trace: Boolean, cores: Int, work: String,
      expected: String, out: String, record: Boolean, full: Boolean)

  private def parseConf(args: Array[String]): Conf = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    Conf(kv("workload"), kv("data"), kv("plan"), kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("work"),
      kv("expected"), kv("out"), kv.get("record").contains("1"),
      kv.get("full").contains("1"))
  }

  // ------------------------------------------------------------------ ops

  /** One step of the plan: a registered query, a question, or a lineage
    * re-extraction. */
  sealed trait Op { def name: String }
  final case class Query(name: String) extends Op
  final case class AskOp(template: Int, column: String, question: String) extends Op {
    def name = s"ask:$template:$column"
  }
  case object Extract extends Op { val name = "extract" }

  /** Plan file: one pass per line, ops separated by `;`, fields by `,`.
    * Question column indices are taken modulo the lineage column count. */
  private def readPlan(path: String, columns: IndexedSeq[String]): IndexedSeq[Seq[Op]] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toIndexedSeq
      .filter(_.nonEmpty).map(_.split(';').toSeq.map { s =>
        s.split(',') match {
          case Array("query", q) => Query(q)
          case Array("ask", t, c) =>
            val col = columns(Math.floorMod(c.toLong, columns.size.toLong).toInt)
            AskOp(t.toInt, col, question(t.toInt, col))
          case Array("extract") => Extract
          case other => throw new IllegalArgumentException(other.mkString(","))
        }
      })

  /** The three `QA.Questions` templates with their column swapped for `col`. */
  private val templateCols = Seq("`amount`", "avg_daily_spend", "total_spend")
  def question(t: Int, col: String): String = {
    val q = graft.qa.QA.Questions(t)
    val c = templateCols(t)
    q.replace(c, if (c.startsWith("`")) s"`$col`" else col)
  }

  // -------------------------------------------------------------- hashing

  /** (row count, Σ xxhash64(row)) over every column, names sorted — the
    * FpStress content hash. Map columns hash as their sorted entry arrays. */
  def hashFrame(df: DataFrame): DataFrame = {
    val byName = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = byName.map { case (f, i) =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(s"c$i")))
        case _ => col(s"c$i")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    pos.select(h.as("h")).agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
  }

  def hashResult(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0")}"

  /** Same digest for driver-side strings: line count and Σ xxhash64. */
  def hashLines(lines: Seq[String]): String = {
    val s = lines.map { l =>
      val b = l.getBytes(UTF_8)
      BigInt(XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L))
    }.sum
    s"${lines.size}:$s"
  }

  // -------------------------------------------------------------- tracing

  /** Wall-clock milliseconds with sub-ms resolution, on the same epoch
    * as SparkListener event times. */
  private val epochNs0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs(): Double = (System.nanoTime() + epochNs0) / 1e6

  final case class Span(pass: Int, seq: Int, op: String, span: String,
      t0: Double, t1: Double)

  /** Tags the jobs a phase fires with the job group "seq|phase" (seq numbers
    * the op within the run), which the listener reads back from each job's
    * properties. */
  final class Phases(spark: SparkSession) {
    val spans = ArrayBuffer.empty[Span]
    var pass = -1
    var seq = 0
    def apply[T](op: String, phase: String)(body: => T): T = {
      spark.sparkContext.setJobGroup(s"$seq|$phase", op, interruptOnCancel = false)
      val t0 = nowMs()
      try body
      finally {
        spans += Span(pass, seq, op, phase, t0, nowMs())
        spark.sparkContext.clearJobGroup()
      }
    }
  }

  // ------------------------------------------------------------- results

  final case class Done(op: Op, pass: Int, sec: Double, ok: Boolean,
      evidence: Int = 0, planStats: Map[String, Int] = Map.empty)

  // ------------------------------------------------------------------ run

  def main(args: Array[String]): Unit = {
    val conf = parseConf(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val probe0 = System.nanoTime()
    val ext0 = Host.externalBusyCores()
    val (hostLoop0, hostEff0) = Host.calib(conf.cores)
    val probeSec = (System.nanoTime() - probe0) / 1e9
    val expected = readExpected(conf.expected)
    val queries = graft.SparkEntry.queries
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def newSession(): SparkSession =
      SparkSession.builder()
        .master(s"local[${conf.cores}]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", conf.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
        .config("spark.hadoop.hadoop.tmp.dir", s"${conf.work}/tmp")
        .config("graft.artifacts.dir", s"${conf.work}/artifacts")
        .getOrCreate()

    /** Run one op; time it; check its hash. */
    def runOp(spark: SparkSession, ph: Phases, op: Op, pass: Int): Done = {
      val t0 = System.nanoTime()
      def sec = (System.nanoTime() - t0) / 1e9
      try {
        val (hash, evid, stats) = op match {
          case Query(q) =>
            graft.PlanCache.setConsumer(q)
            val df = ph(q, "build")(queries(q)(spark, conf.data))
            val (hf, plan) = ph(q, "plan") {
              val hf = hashFrame(df); (hf, hf.queryExecution.executedPlan) }
            val row = ph(q, "exec")(hf.collect().head)
            (hashResult(row), 0, PlanStats.of(plan))
          case a: AskOp =>
            graft.PlanCache.setConsumer(a.name)
            val r = ph(a.name, "ask")(graft.qa.Ask.ask(spark, conf.data, a.question))
            (hashLines(r.answer +: r.evidence.map { case (s, l) => s"$s\t$l" }),
              r.evidence.size, Map.empty[String, Int])
          case Extract =>
            graft.PlanCache.setConsumer("extract")
            val ls = ph("extract", "lineage.extract")(graft.pipelines.Repo.lineage(spark, conf.data))
            val e = ph("extract", "lineage.edges")(
              hashResult(hashFrame(graft.lineage.Lineage.edges(spark, ls).toDF()).collect().head))
            val s = ph("extract", "lineage.stitch")(
              hashResult(hashFrame(graft.lineage.Lineage.stitch(spark, ls).toDF()).collect().head))
            val j = hashLines(ls.map(graft.extract.ReferenceJson.render))
            (s"$e|$s|$j", 0, Map.empty[String, Int])
        }
        val took = sec
        val key = op match { case a: AskOp => s"ask:${a.question}"; case o => o.name }
        // recording: the setup pass records, the timed passes must agree
        if (conf.record && pass < 0) recorded(key) = hash
        val ref = if (conf.record) recorded.toMap else expected
        val ok = ref.get(key).contains(hash)
        if (!ok) failures(op.name) =
          s"hash $hash, expected ${ref.getOrElse(key, "none recorded")}"
        Done(op, pass, took, ok, evid, stats)
      } catch {
        case e: Throwable =>
          val msg = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
          failures(op.name) = msg
          Done(op, pass, sec, ok = false)
      }
    }

    // ----- set up once, cold: session, artifacts and PlanCache built from
    // empty directories, one warm-up pass. setup_s runs from the JVM start
    // to here, less the host probes above.
    val t0 = nowMs()
    val spark = newSession()
    spark.sparkContext.setLogLevel("ERROR")
    val plan = readPlan(conf.plan,
      if (conf.workload == "lineage_qa") lineageColumns(spark, conf.data) else IndexedSeq.empty)
      .map(p => if (conf.full) p.distinctBy(_.name) else p)
    val setupOpSec = ArrayBuffer.empty[(String, Double)]
    setupOpSec += (("session", (nowMs() - t0) / 1e3))
    // warm-up: the first block cold (every query installs its artifacts),
    // the second one warm, so the timed passes start with compiled code
    val warmup = if (conf.full) 1 else Warmup
    locally {
      val ph = new Phases(spark)
      for (b <- 0 until warmup; op <- plan(b))
        setupOpSec += ((s"$b:${op.name}", runOp(spark, ph, op, -1).sec))
      graft.PlanCache.rewarm(spark)
      graft.PlanCache.drainSelfHeals()
    }
    val setupSec = (nowMs() - jvmStartMs) / 1e3 - probeSec
    val setupFailures = failures.toMap
    failures.clear()

    // ----- timed closed loop
    val tracer = if (conf.trace) Some(new JobTracer) else None
    val ph = new Phases(spark)
    val done = ArrayBuffer.empty[Done]
    val passSec = ArrayBuffer.empty[(Int, Boolean, Double)] // (pass, traced, s)
    val gc, jit = ArrayBuffer.empty[Double]
    var selfHeals = 0
    val steal0 = Host.stealJiffies()
    val loop0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - loop0) / 1e9 < conf.seconds ||
        (conf.trace && passSec.count(_._2) == 0)) {
      // traced runs alternate untraced and traced passes over the same
      // block, so the tracing overhead is measured inside the same run on
      // the same ops
      val traced = tracer.isDefined && i % 2 == 1
      val block = warmup + (if (tracer.isDefined) i / 2 else i)
      if (traced) spark.sparkContext.addSparkListener(tracer.get)
      ph.pass = i
      val gc0 = Host.gcSeconds()
      val jit0 = Host.jitSeconds()
      val p0 = System.nanoTime()
      plan(block % plan.size).foreach { op =>
        ph.seq += 1
        val t0 = nowMs()
        val d = runOp(spark, ph, op, i)
        ph.spans += Span(i, ph.seq, op.name, "op", t0, nowMs())
        done += d
      }
      passSec += ((i, traced, (System.nanoTime() - p0) / 1e9))
      gc += Host.gcSeconds() - gc0
      jit += Host.jitSeconds() - jit0
      selfHeals += graft.PlanCache.drainSelfHeals().size
      if (traced) {
        tracer.get.settle(spark)
        spark.sparkContext.removeSparkListener(tracer.get)
      }
      i += 1
    }
    val loopSec = (System.nanoTime() - loop0) / 1e9
    val stealCores = if (steal0 < 0) -1.0 else (Host.stealJiffies() - steal0) / (100.0 * loopSec)
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
    val rw0 = System.nanoTime()
    val rewarmed = graft.PlanCache.rewarm(spark)
    val rewarmSec = (System.nanoTime() - rw0) / 1e9
    val ext1 = Host.externalBusyCores()
    val (hostLoop1, hostEff1) = Host.calib(conf.cores)
    val (artMb, artFiles) = Host.dirSize(Paths.get(s"${conf.work}/artifacts"))
    val heapMb = Host.heapAfterGcMb()

    // ----- results
    val timed = done.toSeq
    val okOps = timed.filter(_.ok)
    val untracedPasses = passSec.filterNot(_._2).map(_._3).toSeq
    val tracedPasses = passSec.filter(_._2).map(_._3).toSeq
    val tracedIdx = passSec.filter(_._2).map(_._1).toSet
    val tracedSpans = ph.spans.toSeq.filter(s => tracedIdx(s.pass))
    // per-op latency: each distinct op of the untraced passes (a query, one
    // question, a re-extraction) at its median over its repetitions, then
    // quantiles across ops. A query repeats every pass, and a quantile of
    // the raw samples would sit on the boundary between two queries'
    // latencies; a question names a new column each time, so it counts once
    val untracedOk = okOps.filterNot(d => tracedIdx(d.pass))
    val opSec = untracedOk.groupBy(_.op.name).map { case (n, ds) => n -> Stats.median(ds.map(_.sec)) }
    val perOp = opSec.values.toSeq
    val e2e = Map(
      "setup_s" -> setupSec,
      "pass_s" -> Stats.median(untracedPasses),
      "op_p50_s" -> Stats.quantile(perOp, 0.5),
      "op_p90_s" -> Stats.quantile(perOp, 0.9),
      "cache_mb" -> storageMb)
    val asks = okOps.filter(_.op.isInstanceOf[AskOp])
    val extracts = okOps.filter(_.op == Extract)
    val side = Map(
      "ask_p50_s" -> Stats.quantile(asks.map(_.sec), 0.5),
      "ask_p90_s" -> Stats.quantile(asks.map(_.sec), 0.9),
      "extract_p50_s" -> Stats.quantile(extracts.map(_.sec), 0.5),
      "failed_frac" -> (timed.count(!_.ok).toDouble / math.max(1, timed.size)),
      "ext_busy_before" -> ext0, "ext_busy_after" -> ext1, "steal_cores" -> stealCores,
      "loop_before_ms" -> hostLoop0, "loop_after_ms" -> hostLoop1,
      "eff_cores_before" -> hostEff0, "eff_cores_after" -> hostEff1,
      "op_samples" -> untracedOk.size.toDouble, "ops" -> perOp.size.toDouble,
      "loop_jit_s" -> jit.sum)
    val layers = tracer.map { t =>
      Layers.of(conf.cores, tracedSpans, t.jobs,
        timed.filter(d => tracedIdx(d.pass)), tracedIdx.size, gc.toSeq, jit.toSeq,
        passSec.toSeq) ++ Map(
        "plancache.entries" -> rewarmed.size.toDouble,
        "plancache.storage_mb" -> storageMb,
        "plancache.rewarm_s" -> rewarmSec,
        "plancache.selfheals" -> selfHeals.toDouble,
        "artifacts.mb" -> artMb, "artifacts.files" -> artFiles.toDouble,
        "jvm.heap_after_gc_mb" -> heapMb,
        "failed_frac" -> side("failed_frac"),
        "trace.overhead_frac" ->
          (Stats.median(tracedPasses) / Stats.median(untracedPasses) - 1.0))
    }.getOrElse(Map.empty[String, Double])
    tracer.foreach(t => writeSpans(s"${conf.work}/spans.jsonl", tracedSpans, t.jobs))
    if (conf.record) writeExpected(conf.expected, recorded.toSeq)

    val js = new StringBuilder
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => graft.Json.str(k) + ":" + num(v) }.mkString("{", ",", "}")
    def strObj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => graft.Json.str(k) + ":" + graft.Json.str(v) }.mkString("{", ",", "}")
    js ++= s"""{"workload":${graft.Json.str(conf.workload)},"cores":${conf.cores},"""
    js ++= s""""attempted":${timed.size},"failed":${timed.count(!_.ok)},"""
    js ++= s""""setup_failed":${setupFailures.size},"""
    js ++= s""""failures":${strObj(failures)},"setup_failures":${strObj(setupFailures)},"""
    js ++= s""""end_to_end":${obj(e2e)},"side":${obj(side)},"per_layer":${obj(layers)},"""
    js ++= s""""op_sec":${obj(opSec)},"""
    js ++= s""""ops":${timed.map(d => s"[${d.pass},${graft.Json.str(d.op.name)},${num(d.sec)},${d.ok}]").mkString("[", ",", "]")},"""
    js ++= s""""setup_ops":${setupOpSec.map { case (n, t) => s"[${graft.Json.str(n)},${num(t)}]" }.mkString("[", ",", "]")},"""
    js ++= s""""setup_s":${num(setupSec)},"""
    js ++= s""""passes_s":${passSec.map(p => s"[${p._1},${p._2},${num(p._3)}]").mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(conf.out), js.toString)
    spark.stop()
  }

  /** The lineage column names of the materialised repo: every source and
    * target column of `Lineage.edges` that is a plain identifier (the
    * question templates embed it in prose), sorted. */
  private def lineageColumns(spark: SparkSession, data: String): IndexedSeq[String] = {
    val ls = graft.pipelines.Repo.cachedLineage(spark, data)
    graft.lineage.Lineage.edges(spark, ls).toDF().select("srcCol", "targetCol").collect()
      .flatMap(r => Seq(r.getString(0), r.getString(1)))
      .filter(c => c != null && c.matches("[A-Za-z_][A-Za-z0-9_]*"))
      .distinct.sorted.toIndexedSeq
  }

  private def readExpected(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(_.contains('\t')).map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }.toMap

  private def writeExpected(path: String, kv: Seq[(String, String)]): Unit = {
    val merged = (readExpected(path) ++ kv).toSeq.sortBy(_._1)
    Files.writeString(Paths.get(path), merged.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))
  }

  private def writeSpans(path: String, spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"pass":${s.pass},"seq":${s.seq},"op":${graft.Json.str(s.op)},""" +
        s""""span":${graft.Json.str(s.span)},"t0":${s.t0},"t1":${s.t1}}""" + "\n"
    }
    jobs.foreach { j =>
      sb ++= s"""{"seq":${j.seq},"span":"job","phase":${graft.Json.str(j.phase)},""" +
        s""""job":${j.id},"t0":${j.t0},"t1":${j.t1},"stages":${j.stages},""" +
        s""""tasks":${j.tasks},"task_s":${j.taskMs / 1e3}}""" + "\n"
    }
    Files.writeString(Paths.get(path), sb.toString)
  }
}

/** Plan-shape counts of the executed (AQE-final) plan. */
object PlanStats {
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
  import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
    BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(p: SparkPlan): Map[String, Int] = {
    val ns = nodes(p).filterNot(_.isInstanceOf[QueryStageExec])
    Map(
      "nodes" -> ns.size,
      "exchanges" -> ns.count(n => n.isInstanceOf[Exchange] || n.isInstanceOf[ReusedExchangeExec]),
      "broadcast_joins" -> ns.count(n => n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "shuffle_joins" -> ns.count(n => n.isInstanceOf[SortMergeJoinExec] ||
        n.isInstanceOf[ShuffledHashJoinExec]),
      "cached_scans" -> ns.count(_.isInstanceOf[InMemoryTableScanExec]))
  }
}

/** One Spark job as the listener saw it, attributed to an op (its sequence
  * number in the run) and a phase by the job group `seq|phase`. */
final class JobRec(val id: Int, val seq: Int, val phase: String, val t0: Double) {
  var t1 = Double.NaN
  var stages, singleTaskStages, tasks = 0
  var taskMs, cpuNs, gcMs, schedMs, inputB, shufReadB, shufWriteB, spillB, resultB = 0L
}

/** Public-API job tracer: a SparkListener keyed by job group. */
final class JobTracer extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val byJob = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val byStage = scala.collection.mutable.HashMap.empty[Int, JobRec]

  def jobs: Seq[JobRec] = synchronized(byJob.values.filter(_.phase != "none").toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-1|other")
    val Array(seq, phase) = g.split("\\|", 2)
    val j = new JobRec(e.jobId, seq.toInt, phase, e.time.toDouble)
    byJob(e.jobId) = j
    e.stageIds.foreach(s => byStage(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.get(e.jobId).foreach(_.t1 = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    byStage.get(e.stageInfo.stageId).foreach { j =>
      j.stages += 1
      if (e.stageInfo.numTasks == 1) j.singleTaskStages += 1
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      j.inputB += m.inputMetrics.bytesRead
      j.shufReadB += m.shuffleReadMetrics.totalBytesRead
      j.shufWriteB += m.shuffleWriteMetrics.bytesWritten
      j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      j.resultB += m.resultSize
    }
  }

  /** Wait until the listener has seen everything posted so far: events
    * arrive in order, so once a sentinel job's end is seen, every earlier
    * job's events have been processed too. */
  def settle(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("-1|none", "settle", interruptOnCancel = false)
    val id0 = synchronized(if (byJob.isEmpty) -1 else byJob.keys.max)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    def seen = synchronized(byJob.values.exists(j => j.phase == "none" && j.id > id0 && !j.t1.isNaN))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Host readings: external busy cores from /proc/stat (graft.Bench's
  * method), JVM GC and heap, directory sizes. */
object Host {
  private def procStatBusy(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
    } catch { case _: Exception => -1L }

  private def selfJiffies(): Long =
    try {
      val txt = Files.readString(Paths.get("/proc/self/stat"))
      val rest = txt.substring(txt.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong
    } catch { case _: Exception => -1L }

  /** Busy cores outside this JVM over a 250 ms window; −1 if unreadable. */
  def externalBusyCores(ms: Int = 250): Double = {
    val b0 = procStatBusy(); val s0 = selfJiffies()
    if (b0 < 0 || s0 < 0) return -1.0
    val t0 = System.nanoTime()
    Thread.sleep(ms.toLong)
    val dt = (System.nanoTime() - t0) / 1e9
    math.max(0.0, (procStatBusy() - b0 - (selfJiffies() - s0)) / (100.0 * dt))
  }

  /** Milliseconds for a fixed integer loop on one thread (~0.1 s, longer
    * than a host's CPU-quota period, so a cap shows in it). */
  private def loopMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 0L) println(x) // keeps the loop from being optimised away
    (System.nanoTime() - t0) / 1e6
  }

  /** (one-thread loop ms, effective cores): the loop alone, then on `n`
    * threads at once. Effective cores is n × one / slowest. A shared virtual
    * machine can be capped below its nproc by its host, which /proc/stat
    * inside it does not show; this reading does. */
  def calib(n: Int): (Double, Double) = {
    loopMs() // compile the loop before timing it
    val one = loopMs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val fs = (1 to n).map(_ => pool.submit(new java.util.concurrent.Callable[Double] {
        def call(): Double = loopMs() }))
      (one, n * one / fs.map(_.get()).max)
    } finally pool.shutdown()
  }

  /** Jiffies the hypervisor ran something else while this VM had work
    * (the steal column of /proc/stat, all CPUs); −1 if unreadable. */
  def stealJiffies(): Long =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong
    catch { case _: Exception => -1L }

  /** Time the JIT compiler threads have spent compiling, in all. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def heapAfterGcMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  def dirSize(p: Path): (Double, Long) =
    if (!Files.exists(p)) (0.0, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.map(Files.size).sum / 1048576.0, fs.size.toLong)
    }
}

/** Per-layer metrics from the traced passes' spans and jobs, per pass
  * (per ask / per extraction for the qa and lineage layers). */
object Layers {
  import PerfBench.{AskOp, Done, Extract, Span}

  private val execPhases = Set("exec", "ask", "lineage.extract", "lineage.edges", "lineage.stitch")

  /** Union length of [t0, t1] intervals clipped to [a, b]. */
  private def union(iv: Seq[(Double, Double)], a: Double, b: Double): Double = {
    val c = iv.map { case (x, y) => (math.max(x, a), math.min(y, b)) }.filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0.0; var cs = Double.NaN; var ce = Double.NaN
    c.foreach { case (x, y) =>
      if (cs.isNaN) { cs = x; ce = y }
      else if (x <= ce) ce = math.max(ce, y)
      else { total += ce - cs; cs = x; ce = y }
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  def of(cores: Int, spans: Seq[Span], jobs: Seq[JobRec], dones: Seq[Done], passes: Int,
      gc: Seq[Double], jit: Seq[Double], passSec: Seq[(Int, Boolean, Double)]): Map[String, Double] = {
    val p = math.max(1, passes).toDouble
    val jobsOf = jobs.filter(!_.t1.isNaN).groupBy(j => (j.seq, j.phase))
    // (span seconds, in-job seconds) per phase
    val perPhase = spans.filter(_.span != "op").groupBy(_.span).map { case (ph, ss) =>
      val dur = ss.map(s => s.t1 - s.t0).sum / 1e3
      val inJob = ss.map { s =>
        union(jobsOf.getOrElse((s.seq, ph), Nil).map(j => (j.t0, j.t1)), s.t0, s.t1)
      }.sum / 1e3
      ph -> (dur, inJob)
    }
    def dur(ph: String) = perPhase.get(ph).map(_._1).getOrElse(0.0)
    def inJob(ph: String) = perPhase.get(ph).map(_._2).getOrElse(0.0)
    val seqs = spans.map(_.seq).toSet
    val mine = jobs.filter(j => seqs(j.seq))
    def jobsIn(phs: String => Boolean) = mine.filter(j => phs(j.phase))
    val execJobs = jobsIn(execPhases)
    val stages = execJobs.map(_.stages).sum
    val tasks = execJobs.map(_.tasks).sum
    val execSpan = execPhases.toSeq.map(dur).sum
    val execInJob = execPhases.toSeq.map(inJob).sum
    val taskS = execJobs.map(_.taskMs).sum / 1e3
    val planSum = (k: String) => dones.map(_.planStats.getOrElse(k, 0)).sum / p
    val asks = dones.filter(_.op.isInstanceOf[AskOp])
    val nAsk = math.max(1, spans.count(_.span == "ask")).toDouble
    val nExt = math.max(1, spans.count(_.span == "lineage.extract")).toDouble
    val askJobs = jobsIn(_ == "ask")
    val linJobs = jobsIn(_.startsWith("lineage."))
    val mb = 1048576.0
    val passMean = passSec.filter(_._2).map(_._3).sum / p
    Map(
      "build.s" -> dur("build") / p,
      "build.driver_s" -> (dur("build") - inJob("build")) / p,
      "build.jobs" -> jobsIn(_ == "build").size / p,
      "build.job_s" -> inJob("build") / p,
      "plan.s" -> dur("plan") / p,
      "plan.nodes" -> planSum("nodes"),
      "plan.exchanges" -> planSum("exchanges"),
      "plan.broadcast_joins" -> planSum("broadcast_joins"),
      "plan.shuffle_joins" -> planSum("shuffle_joins"),
      "plan.cached_scans" -> planSum("cached_scans"),
      "exec.job_s" -> execInJob / p,
      "exec.gap_s" -> (execSpan - execInJob) / p,
      "exec.jobs" -> execJobs.size / p,
      "exec.stages" -> stages / p,
      "exec.tasks" -> tasks / p,
      "exec.tasks_per_stage" -> (if (stages == 0) 0.0 else tasks.toDouble / stages),
      "exec.single_task_stage_frac" ->
        (if (stages == 0) 0.0 else execJobs.map(_.singleTaskStages).sum.toDouble / stages),
      "exec.task_s" -> taskS / p,
      "exec.task_cpu_s" -> execJobs.map(_.cpuNs).sum / 1e9 / p,
      "exec.core_util" -> (if (execInJob == 0) 0.0 else taskS / (execInJob * cores)),
      "exec.sched_delay_s" -> execJobs.map(_.schedMs).sum / 1e3 / p,
      "exec.input_mb" -> execJobs.map(_.inputB).sum / mb / p,
      "exec.shuffle_read_mb" -> execJobs.map(_.shufReadB).sum / mb / p,
      "exec.shuffle_write_mb" -> execJobs.map(_.shufWriteB).sum / mb / p,
      "exec.spill_mb" -> execJobs.map(_.spillB).sum / mb / p,
      "exec.task_gc_s" -> execJobs.map(_.gcMs).sum / 1e3 / p,
      "exec.result_mb" -> execJobs.map(_.resultB).sum / mb / p,
      "qa.jobs_per_ask" -> askJobs.size / nAsk,
      "qa.tasks_per_ask" -> askJobs.map(_.tasks).sum / nAsk,
      "qa.job_s" -> inJob("ask") / nAsk,
      "qa.driver_s" -> (dur("ask") - inJob("ask")) / nAsk,
      "qa.evidence_lines" -> asks.map(_.evidence).sum / nAsk,
      "lineage.extract_s" -> dur("lineage.extract") / nExt,
      "lineage.edges_s" -> dur("lineage.edges") / nExt,
      "lineage.stitch_s" -> dur("lineage.stitch") / nExt,
      "lineage.jobs" -> linJobs.size / nExt,
      "jvm.gc_s" -> (gc.zip(passSec).filter(_._2._2).map(_._1).sum / p),
      "jvm.jit_s" -> (jit.zip(passSec).filter(_._2._2).map(_._1).sum / p),
      // accounting: the mean traced pass minus build, plan and exec
      "trace.pass_mean_s" -> passMean,
      "trace.remainder_s" -> (passMean - (dur("build") + dur("plan") + execSpan) / p))
  }
}
