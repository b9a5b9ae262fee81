package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Benchmark main (driver contract): times every registered query on
  * SPARK_GRAFT_SF_DIR and prints three JSON lines (`FullLine`,
  * `SummaryLine`, `CompactLine`) from one `Report`. An untimed warmup pass
  * runs first so the timed pass measures steady-state query execution, not
  * JVM/codegen warmup or the one-time lineage-repo materialization.
  *
  * Failure-honest (round-7 directive): a query that throws is reported with
  * `-1` as its seconds entry plus its error in the `errors` object — never
  * as a fast-looking wall time. The line also carries `gc_sec` (GC time
  * during the timed pass) and the end-of-run persisted-RDD/storage totals,
  * so a contended or memory-pressured run (the BENCH_r06 signature) is
  * self-diagnosing from the JSON alone.
  *
  * Round-13 additions (VERDICT r12 directives #1/#7):
  *  - CONFIRM PASS: every query whose timed reading breached its pin is
  *    re-timed ONCE after the suite, and the regressions field emits
  *    `[timed, pin, confirm]`. A confirm inside the 2×-pin band
  *    self-adjudicates the breach as transient (machine contention during
  *    the timed window) IN THE ARTIFACT; a confirm that also breaches is a
  *    real, persistent regression. This retires the r10/r11/r12 pattern of
  *    driver-only contention windows needing a whole later round to refute.
  *  - TIMESTAMPS: per-query wall-clock starts (`t_start`, epoch ms) in the
  *    full line, plus compact `t0` + every-10th-query offsets (`ckpt_sec`)
  *    in the truncation-proof summary line, so a future contention window's
  *    absolute time-of-day is recoverable and can be correlated with
  *    periodic external processes on the machine.
  */
object Bench {

  final case class QResult(name: String, sec: Double, err: Option[String],
      tStartMs: Long = 0L)

  /** Per-checkpoint-block external-load trace (VERDICT r16 #5): the r16
    * probe sampled external busy cores ONCE before the suite, so a
    * transient mid-suite neighbor (the BENCH_r16 q105–q108 window) was
    * invisible to it and only the confirm pass caught the contamination.
    * This trace snapshots /proc/stat + /proc/self/stat at every ckpt_sec
    * boundary (the existing every-10th-query grid) — NO sleeps: each
    * block's own duration is the sampling window — and converts the
    * deltas to external busy cores per block, so a flagged query's
    * artifact entry carries the load it actually ran under. */
  private[graft] final class LoadTrace {
    private val marks =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def mark(): Unit =
      marks += ((System.nanoTime(), procStatBusy(), selfJiffies()))
    /** External busy cores per inter-mark block: busy jiffies minus this
      * JVM's own, over the block's duration (USER_HZ = 100); −1 where /proc
      * was unreadable at either end. */
    def blocks: Seq[Double] =
      marks.toSeq.sliding(2).collect {
        case scala.collection.Seq((t0, b0, s0), (t1, b1, s1)) =>
          val dt = (t1 - t0) / 1e9
          if (b0 < 0 || s0 < 0 || b1 < 0 || s1 < 0 || dt <= 0) -1.0
          else math.max(0.0,
            math.round((b1 - b0 - (s1 - s0)) / (100.0 * dt) * 100) / 100.0)
      }.toSeq
  }

  /** One timed pass over `queries`; a throwing query yields err=Some and is
    * never silently folded into the timings. `consumerPrefix` labels
    * PlanCache self-heal events (""=timed pass, "confirm:"=confirm pass).
    * `trace`, when non-null, is marked at every 10th query boundary plus
    * suite end — the ckpt_sec grid — giving the per-block load readings. */
  private[graft] def runSuite(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      consumerPrefix: String = "", trace: LoadTrace = null): Seq[QResult] = {
    val rs = queries.zipWithIndex.map { case ((name, fn), i) =>
      if (trace != null && i % 10 == 0) trace.mark()
      // label PlanCache self-heal events with the query that paid for them
      // (the q111-q115 forensics: a mid-timed-pass eviction shows up as
      // "entry@query" in the JSON's cache_selfheals, adjudicating the slow
      // reading as a shared-frame rebuild rather than machine contention)
      PlanCache.setConsumer(consumerPrefix + name)
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        QResult(name, (System.nanoTime() - t0) / 1e9, None, wall0)
      } catch {
        case e: Throwable => QResult(name, -1.0,
          Some((e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(200)),
          wall0)
      }
    }
    if (trace != null && queries.nonEmpty) trace.mark()
    rs
  }

  /** Pinned per-query seconds from the previous round's clean run
    * (`bench_pins.json`, flat {"name": sec} plus its `"_sf"` scale tag —
    * committed, regenerated each round from a clean reading).
    * A query is a REGRESSION when it has a pin, runs slower than 2× it, and
    * is slow enough in absolute terms for the ratio to mean anything
    * (>0.5 s — a 0.05→0.12 s jitter is scheduler noise, not a plan change).
    * This is the alarm that would have caught BENCH_r10's q148 3.8× drift
    * at build time instead of judge time. One read returns the tag and the
    * top-level numeric entries; absent/unreadable file → no tag, no pins. */
  private[graft] def readPins(path: String): (Option[String], Map[String, Double]) =
    try {
      val root = readJson(path)
      (Option(root.get("_sf")).filter(_.isTextual).map(_.asText),
        root.properties.asScala.collect {
          case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble
        }.toMap)
    } catch { case _: Exception => (None, Map.empty) }

  private def readText(path: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(path))

  private def readJson(path: String): JsonNode =
    new ObjectMapper().readTree(new java.io.File(path))

  /** A query regresses when its timed reading exceeds 2× its pin PLUS its
    * recorded warm-suite delta (VERDICT r16 #4): queries pinned from
    * ISOLATED quiet readings (q113/q148/q237 at sf0.1, q135 at sf1) run
    * 0.9–1.5 s slower inside a warm 287-query suite — neighbor/GC state
    * the isolated pin deliberately excludes. The delta rides the SAME
    * flat pins file as a "warm:<query>" entry, so the alarm band is
    * 2×(pin + warm) for those queries and 2×pin for everything else —
    * isolated pins stay the sensitive baseline without the permanent
    * in-suite false positive they'd otherwise fire. */
  private[graft] def regressions(results: Seq[QResult],
      pins: Map[String, Double]): Seq[(String, Double, Double)] =
    results.collect {
      case QResult(n, sec, None, _)
        if pins.get(n).exists(p =>
          sec > 2 * (p + pins.getOrElse("warm:" + n, 0.0)) && sec > 0.5) =>
          (n, sec, pins(n))
    }.sortBy(-_._2)

  /** Re-time each breached query once (VERDICT r12 directive #1). The
    * confirm reading runs at suite end on the same warm session: a reading
    * back inside the pin band means the timed breach was a transient window
    * (external contention); a confirm that ALSO breaches is a persistent
    * regression. Failures confirm as −1 (never a fast-looking time). */
  private[graft] def confirmRegs(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      regs: Seq[(String, Double, Double)]): Map[String, Double] = {
    val byName = queries.toMap
    regs.flatMap { case (name, _, _) =>
      byName.get(name).map { fn =>
        val r = runSuite(spark, sfDir, Seq(name -> fn), "confirm:").head
        name -> r.sec
      }
    }.toMap
  }

  /** Confirm-corrected suite total (VERDICT r13 directive #5): the raw
    * total with each breached query's confirm reading substituted for its
    * timed one (failed confirms, −1, never substitute). Round-over-round
    * totals then stay comparable through machine-contention windows without
    * the manual subtraction that previously lived only in prose (r13: 144.4
    * raw vs ~124 corrected). Equal to `value` when no breaches occurred. */
  private[graft] def totalConfirmed(results: Seq[QResult],
      confirm: Map[String, Double]): Double =
    results.filter(_.err.isEmpty)
      .map(r => confirm.get(r.name).filter(_ >= 0).getOrElse(r.sec)).sum

  /** The DuckDB side of the matched pair, parsed from the committed
    * oracle_times.json (VERDICT r17 #3): the oracle suite `_total` and the
    * oracle run's measurement `_meta` (DuckDB version, window timestamp,
    * its own load probes — written by tools/oracle_timing.py r18+), so a
    * future ratio swing is attributable in ONE read of BENCH_r{N} instead
    * of forensics across runs. Absent/old-format file → both None. */
  final case class OracleRef(total: Option[JsonNode] = None,
      meta: Option[JsonNode] = None)

  private[graft] def oracleRef(path: String): OracleRef =
    try {
      val root = readJson(path)
      OracleRef(Option(root.get("_total")).filter(_.isNumber),
        Option(root.get("_meta")).filter(_.isObject))
    } catch { case _: Exception => OracleRef() }

  /** [[oracleRef]] of `path` when it was measured at the run's scale, by
    * the pins' rule: the last path component of its `_meta.sf` must be a
    * path component of `sfDir`. An off-scale, untagged or unreadable file
    * embeds no reference, and one stderr line says why — a sf0.1 oracle
    * total beside a sf0.01 `value` would read as a ratio it is not. */
  private[graft] def oracleRefAt(path: String, sfDir: String): OracleRef = {
    val ref = oracleRef(path)
    val tag = ref.meta.flatMap(m => Option(m.get("sf"))).filter(_.isTextual)
      .flatMap(_.asText.split('/').filter(_.nonEmpty).lastOption)
    if (ref.total.isDefined && tag.exists(t => sfDir.split('/').contains(t))) ref
    else {
      val why = (ref.total, tag) match {
        case (None, _) => s"oracle times '$path' unreadable or missing its \"_total\""
        case (_, None) => s"oracle times '$path' missing its \"_meta.sf\" tag"
        case (_, Some(t)) => s"oracle times measured at '$t' but run dir is '$sfDir'"
      }
      System.err.println(s"[bench] ORACLE REFERENCE OMITTED: $why")
      OracleRef()
    }
  }

  private def r2(x: Double): Double = math.round(x * 100) / 100.0
  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0

  /** Everything one run measured, built once in `main`. `field` renders
    * each contract field exactly once; a printed line is only its ordered
    * key list (`FullLine`, `SummaryLine`, `CompactLine`) through `line`.
    * Numbers render via toString, NOT the f-interpolator: String.format
    * uses the default locale, and a comma-decimal locale would emit `0,123`
    * and break any JSON reader. */
  final case class Report(results: Seq[QResult], sfDir: String,
      regs: Seq[(String, Double, Double)] = Nil,
      confirm: Map[String, Double] = Map.empty,
      gcSec: Double = 0.0, persistentRdds: Int = 0, storageBytes: Long = 0L,
      warmSharedSec: Double = 0.0, rewarmed: Seq[(String, Double)] = Nil,
      selfHeals: Seq[(String, String)] = Nil,
      loadBefore: Double = -1.0, loadAfter: Double = -1.0,
      extBusy: Double = -1.0, extBusyBlocks: Seq[Double] = Nil,
      oracle: OracleRef = OracleRef()) {
    private def ok = results.filter(_.err.isEmpty)
    private def t0 = results.headOption.map(_.tStartMs).getOrElse(0L)

    def field(key: String): String = key match {
      case "metric" => Json.str("total")
      case "unit" => Json.str("sec")
      // `value` sums only the successful timings; failures read −1
      // in `queries` and carry their message in `errors`
      case "value" => ok.map(_.sec).sum.toString
      case "total_confirmed" => totalConfirmed(results, confirm).toString
      case "n_queries" => results.size.toString
      case "failed" => results.count(_.err.isDefined).toString
      case "queries" => Json.obj(results.map(r => r.name -> r.sec))
      case "t_start" => Json.obj(results.map(r => r.name -> r.tStartMs))
      case "errors" =>
        Json.obj(results.collect { case QResult(n, _, Some(e), _) => n -> Json.str(e) })
      case "slowest" => Json.obj(ok.sortBy(-_.sec).take(10).map(r => r.name -> r2(r.sec)))
      case "gc_sec" => r3(gcSec).toString
      case "persistent_rdds" => persistentRdds.toString
      case "storage_bytes" => storageBytes.toString
      // `name:[timed, pin]`, or `[timed, pin, confirm]` when a confirm
      // reading exists — the r13 contract shape
      case "regressions" => Json.obj(regs.map { case (n, sec, pin) =>
        n -> Json.arr((Seq(sec, pin) ++ confirm.get(n)).map(r2)) })
      case "confirmed" =>
        Json.obj(regs.flatMap { case (n, _, _) => confirm.get(n).map(c => n -> r3(c)) })
      case "reg_t_start" =>
        Json.obj(results.filter(r => regs.exists(_._1 == r.name)).map(r => r.name -> r.tStartMs))
      case "warm_shared_sec" => r3(warmSharedSec).toString
      // per-entry rewarm seconds (round-11 directive #7: the cold-entry
      // story belongs in the contract line, not on stderr)
      case "rewarm_sec" => Json.obj(rewarmed.map { case (n, s) => n -> r3(s) })
      case "rewarm_max" =>
        Json.obj(rewarmed.maxByOption(_._2).map { case (n, s) => n -> r3(s) })
      // mid-timed-pass eviction forensics: "entry@consumer" occurrences
      case "cache_selfheals" => Json.arr(selfHeals.map { case (e, c) => Json.str(s"$e@$c") })
      case "t0" => t0.toString
      case "ckpt_sec" =>
        Json.arr(results.grouped(10).map(b => math.round((b.head.tStartMs - t0) / 100.0) / 10.0))
      case "load_before" => loadBefore.toString
      case "load_after" => loadAfter.toString
      case "external_busy_cores" => extBusy.toString
      // per-block load (VERDICT r16 #5): block i covers queries 10i..10i+9
      // of the timed pass, the ckpt_sec grid; `reg_ext_busy` stamps each
      // flagged query with the external busy cores of its own block
      case "ext_busy_blocks" => Json.arr(extBusyBlocks)
      case "reg_ext_busy" =>
        val blockOf = results.map(_.name).zipWithIndex.toMap
        Json.obj(regs.flatMap { case (n, _, _) =>
          blockOf.get(n).flatMap(i => extBusyBlocks.lift(i / 10)).map(n -> _) })
      case "oracle_ref" => oracle.total.fold("{}")(t =>
        Json.obj(("total" -> t) +: oracle.meta.map("meta" -> _).toSeq))
      case "oracle_total" => oracle.total.fold("null")(_.toString)
      case "sf" => Json.str(sfDir)
    }

    def line(keys: Seq[String]): String = Json.obj(keys.map(k => k -> field(k)))
  }

  /** The full contract line. Its `t_start` map (per-query wall-clock
    * start, epoch ms) sits immediately after `queries` so that
    * when a 2000-char tail capture of stdout truncates the line, what is
    * lost is the (reconstructible) head of these two maps, not the
    * forensic fields. `confirmed` holds each breached query's confirm
    * reading (−1 for a failed confirm). */
  private[graft] val FullLine = Seq("metric", "value", "unit",
    "total_confirmed", "queries", "t_start", "errors", "failed", "gc_sec",
    "persistent_rdds", "storage_bytes", "regressions", "warm_shared_sec",
    "rewarm_sec", "cache_selfheals", "load_before", "load_after",
    "external_busy_cores", "ext_busy_blocks", "reg_ext_busy", "oracle_ref",
    "sf", "confirmed")

  /** Trailer printed AFTER the full line. A BENCH artifact keeps only the
    * last ~2000 output characters; with 140+ entries the full
    * `queries` map alone overflows that window and the headline prefix is
    * cut off (BENCH_r07/r08: parsed null). This line carries the headline
    * numbers plus only the slowest queries, sized to survive the tail
    * truncation, with compact timing forensics: `t0` (suite start, epoch
    * ms), `ckpt_sec` (offset of every 10th query's start from t0 — with
    * the per-query durations this localizes any contention window's
    * time-of-day), `reg_t_start` (epoch-ms start of each breached query),
    * and `gc_sec`/`rewarm_max`. */
  private[graft] val SummaryLine = Seq("metric", "value", "unit",
    "total_confirmed", "n_queries", "failed", "gc_sec", "slowest",
    "regressions", "reg_t_start", "cache_selfheals", "t0", "ckpt_sec",
    "rewarm_max", "load_before", "load_after", "external_busy_cores",
    "ext_busy_blocks", "reg_ext_busy", "oracle_ref", "sf")

  /** Ultra-compact FINAL stdout line (VERDICT r18 #2a): r17 lost its whole
    * per-query PERF table because the 2000-char tail window caught only a
    * truncated JSON object. This line repeats ONLY the headline numbers in
    * ≤ ~250 chars, so even a bare tail capture ends with one complete,
    * parseable `{"metric":...}` object. The oracle total only: the full
    * `oracle_ref` with its `_meta` could push past the tail window. */
  private[graft] val CompactLine = Seq("metric", "value", "unit",
    "total_confirmed", "n_queries", "failed", "gc_sec", "oracle_total", "sf")

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** 1-minute loadavg (Linux), −1 when unreadable — the r15 VERDICT #2
    * load precondition: every published bench number carries the machine
    * load OBSERVED AROUND ITS OWN RUN inside the artifact, so a
    * noisy-neighbor window (r15: 4–5 external cores moved the matched
    * pair 1.13×→1.44×) is adjudicable from the JSON alone instead of
    * from after-the-fact prose. */
  private[graft] def loadAvg1(): Double =
    try readText("/proc/loadavg").split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  private def procStatBusy(): Long =
    try {
      val first = readText("/proc/stat").linesIterator.next()
      // cpu user nice system idle iowait irq softirq steal ... — busy is
      // everything except idle(3) and iowait(4)
      val f = first.trim.split("\\s+").drop(1).map(_.toLong)
      f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
    } catch { case _: Exception => -1L }

  private def selfJiffies(): Long =
    try {
      val txt = readText("/proc/self/stat")
      // fields 14/15 (utime/stime) — count from after the parenthesized comm
      val rest = txt.substring(txt.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong
    } catch { case _: Exception => -1L }

  /** Directly MEASURED external load (the BENCH_NOTES r15 forensic probe,
    * mechanized per VERDICT r15 #2): one LoadTrace block over a `ms` sleep.
    * Run it BEFORE the suite (cheap, done while otherwise idle) so the
    * artifact records the noisy-neighbor level that the timings are
    * conditioned on. −1 when /proc is unreadable at either end. */
  private[graft] def externalBusyCores(ms: Int = 500): Double = {
    val trace = new LoadTrace
    trace.mark()
    Thread.sleep(ms.toLong)
    trace.mark()
    trace.blocks.head
  }

  /** The untimed warm-up every timing main runs first: one pass over
    * `queries` (JIT + codegen caches + repo materialization), then every
    * PlanCache shared frame re-materialized on this UNTIMED line — a
    * late-warmup unpersist of an equivalent canonicalized plan can evict a
    * shared entry, and without the rewarm the timed pass's first consumer
    * pays the rebuild (BENCH_r10: q148 7.29 s). Entries that were cold show
    * up as multi-second rewarm times on stderr. Warm-up self-heals are
    * expected (first materializations) and drained, so the timed pass
    * starts from a clean forensic log. Returns the rewarm's per-entry
    * seconds and its total. */
  def warmup(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : (Seq[(String, Double)], Double) = {
    runSuite(spark, sfDir, queries)
    val w0 = System.nanoTime()
    val warmed = PlanCache.rewarm(spark)
    val warmSharedSec = (System.nanoTime() - w0) / 1e9
    warmed.filter(_._2 > 0.2).foreach { case (n, sec) =>
      System.err.println(f"[bench] shared frame '$n' was COLD after warmup: rewarm took $sec%.2f s") }
    PlanCache.drainSelfHeals()
    (warmed, warmSharedSec)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val queries = Harness.select(Nil)
    val (warmed, warmSharedSec) = warmup(spark, sfDir, queries)
    // pins are recorded at ONE scale (the "_sf" tag in the file, e.g.
    // "sf0.1"); a run against any other sf dir skips the alarm — sf1 runs
    // would otherwise flag every data-proportional query against its
    // 10×-smaller pin. The tag must match a PATH COMPONENT exactly (a
    // substring test would let an "sf0.1" pin fire against an sf0.12 dir),
    // and a pins file WITHOUT the tag disables the alarm rather than
    // applying the pins at every scale.
    val pinsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PINS", "bench_pins.json")
    val (pinSf, allPins) = readPins(pinsPath)
    val pins =
      if (pinSf.exists(t => sfDir.split('/').contains(t))) allPins
      else {
        // a silently-disabled alarm is indistinguishable from a clean run;
        // say WHY the pins were skipped so a corrupted/renamed pins file or
        // an off-scale run is visible in the run log (ADVICE r12)
        val why = pinSf match {
          case None => s"pins file '$pinsPath' unreadable or missing its \"_sf\" tag"
          case Some(t) => s"pins tagged '$t' but run dir is '$sfDir'"
        }
        System.err.println(s"[bench] REGRESSION ALARM DISABLED: $why")
        Map.empty[String, Double]
      }
    // load precondition probe (VERDICT r15 #2): measured EXTERNAL busy
    // cores + loadavg, recorded inside the artifact; a matched pair
    // published from a window with external_busy_cores above ~2 must be
    // marked load-contaminated in BENCH_NOTES rather than adjudicated in
    // prose after the fact
    val loadBefore = loadAvg1()
    val extBusy = externalBusyCores()
    if (extBusy > 2.0)
      System.err.println(f"[bench] LOAD PRECONDITION FAILED: $extBusy%.2f " +
        "external busy cores measured before the timed pass; totals from " +
        "this run must be published as load-contaminated")
    val gc0 = gcMillis()
    val trace = new LoadTrace
    val results = runSuite(spark, sfDir, queries, "", trace)
    val gcSec = (gcMillis() - gc0) / 1e3
    val loadAfter = loadAvg1()
    val selfHeals = PlanCache.drainSelfHeals()
    val regs = regressions(results, pins)
    // confirm pass: one re-timing per breached query, so the artifact itself
    // distinguishes "transient window" from "persistent regression"
    val confirm = confirmRegs(spark, sfDir, queries, regs)
    // post-suite actions (storage-info walk, rendering) must not attribute
    // their self-heals to the last confirm query (ADVICE r12)
    PlanCache.setConsumer("post_suite")
    val confirmHeals = PlanCache.drainSelfHeals()
    val storage = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val report = Report(results, sfDir, regs, confirm, gcSec,
      spark.sparkContext.getPersistentRDDs.size, storage, warmSharedSec,
      warmed, selfHeals ++ confirmHeals, loadBefore, loadAfter, extBusy,
      trace.blocks,
      oracleRefAt(sys.env.getOrElse("SPARK_GRAFT_ORACLE_TIMES", "oracle_times.json"), sfDir))
    Seq(FullLine, SummaryLine, CompactLine).foreach(keys => println(report.line(keys)))
    spark.stop()
  }
}
