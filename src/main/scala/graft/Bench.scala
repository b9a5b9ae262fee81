package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): times every registered query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. An untimed warmup pass runs
  * first so the timed pass measures steady-state query execution, not JVM/
  * codegen warmup or the one-time lineage-repo materialization.
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
    /** External busy cores per inter-mark block; −1 where /proc was
      * unreadable at either end. */
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

  private def jstr(s: String): String = Json.str(s)

  /** Pinned per-query seconds from the previous round's clean run
    * (`bench_pins.json`, flat {"name": sec} — committed, regenerated each
    * round from the builder's clean reading). A query is a REGRESSION when
    * it has a pin, runs slower than 2× it, and is slow enough in absolute
    * terms for the ratio to mean anything (>0.5 s — a 0.05→0.12 s jitter is
    * scheduler noise, not a plan change). This is the alarm that would have
    * caught BENCH_r10's q148 3.8× drift at build time instead of judge
    * time. Absent/unreadable file → no check (empty pins). */
  private[graft] def loadPins(path: String): Map[String, Double] = readPins(path)._2

  /** One read of the pins file: its `"_sf"` scale tag and its pins. */
  private[graft] def readPins(path: String): (Option[String], Map[String, Double]) =
    try {
      val txt = readText(path)
      ("\"_sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1)),
        "\"([^\"]+)\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap)
    } catch { case _: Exception => (None, Map.empty) }

  private def readText(path: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(path))

  /** A query regresses when its timed reading exceeds 2× its pin PLUS its
    * recorded warm-suite delta (VERDICT r16 #4): queries pinned from
    * ISOLATED quiet readings (q113/q148/q237 at sf0.1, q135 at sf1) run
    * 0.9–1.5 s slower inside a warm 287-query suite — neighbor/GC state
    * the isolated pin deliberately excludes. The delta rides the SAME
    * flat pins file as a "warm:<query>" entry (the flat regex parser
    * would mis-read a nested map as pins), so the alarm band is
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

  /** The driver-contract JSON line: `queries` maps every query to its
    * seconds (−1 on failure), `errors` maps failed queries to messages,
    * `value` sums only the successful timings. `t_start` maps every query
    * to its wall-clock start (epoch ms). */
  private[graft] def renderJson(results: Seq[QResult], sfDir: String,
      gcSec: Double, persistentRdds: Int, storageBytes: Long,
      regs: Seq[(String, Double, Double)], warmSharedSec: Double,
      rewarmed: Seq[(String, Double)], selfHeals: Seq[(String, String)],
      confirm: Map[String, Double] = Map.empty,
      loadBefore: Double = -1.0, loadAfter: Double = -1.0,
      extBusy: Double = -1.0,
      extBusyBlocks: Seq[Double] = Nil,
      oracleRef: String = "{}"): String = {
    val qs = results.map(r => jstr(r.name) + ":" + r.sec).mkString("{", ",", "}")
    // the full t_start map sits immediately after `queries` so that when the
    // driver's 2000-char tail window truncates the line, what is lost is the
    // (reconstructible) head of these two maps, not the forensic fields
    val ts = results.map(r => jstr(r.name) + ":" + r.tStartMs).mkString("{", ",", "}")
    val errs = results.collect { case QResult(n, _, Some(e), _) => jstr(n) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = results.filter(_.err.isEmpty).map(_.sec).sum
    // NOT the f-interpolator: String.format uses the default locale, and a
    // comma-decimal locale would emit `0,123` and break the driver's
    // json.load; Double.toString is locale-free
    val gc3 = math.round(gcSec * 1000) / 1000.0
    // per-entry rewarm seconds (round-11 directive #7: the cold-entry story
    // belongs in the contract line, not on stderr the harness may drop)
    val rw = rewarmed.map { case (n, sec) =>
      jstr(n) + ":" + math.round(sec * 1000) / 1000.0 }.mkString("{", ",", "}")
    // mid-timed-pass eviction forensics: "entry@consumer" occurrences
    val sh = selfHeals.map { case (e, c) => jstr(s"$e@$c") }.mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""total_confirmed":${totalConfirmed(results, confirm)},""" +
      s""""queries":$qs,""" +
      s""""t_start":$ts,""" +
      s""""errors":$errs,"failed":${results.count(_.err.isDefined)},""" +
      s""""gc_sec":$gc3,"persistent_rdds":$persistentRdds,""" +
      s""""storage_bytes":$storageBytes,""" +
      s""""regressions":${renderRegs(regs, confirm)},""" +
      s""""warm_shared_sec":${math.round(warmSharedSec * 1000) / 1000.0},""" +
      s""""rewarm_sec":$rw,"cache_selfheals":$sh,""" +
      loadProbeJson(loadBefore, loadAfter, extBusy) + "," +
      extBusyJson(results, regs, extBusyBlocks) + "," +
      s""""oracle_ref":$oracleRef,""" +
      s""""sf":${jstr(sfDir)}}"""
  }

  /** Per-block load fields (VERDICT r16 #5): `ext_busy_blocks` aligns with
    * the ckpt_sec grid (block i covers queries 10i..10i+9 of the timed
    * pass), `reg_ext_busy` stamps each REGRESSION-flagged query with the
    * external busy cores measured over its own block — the mechanical
    * attribution that previously needed the confirm pass + prose. */
  private[graft] def extBusyJson(results: Seq[QResult],
      regs: Seq[(String, Double, Double)],
      extBusyBlocks: Seq[Double]): String = {
    val blk = extBusyBlocks.mkString("[", ",", "]")
    val blockOf = results.zipWithIndex.map { case (r, i) => r.name -> i / 10 }.toMap
    val regBusy = regs.flatMap { case (n, _, _) =>
      blockOf.get(n).flatMap(extBusyBlocks.lift).map(b => jstr(n) + ":" + b)
    }.mkString("{", ",", "}")
    s""""ext_busy_blocks":$blk,"reg_ext_busy":$regBusy"""
  }

  /** `name:[timed, pin]` or `name:[timed, pin, confirm]` when a confirm
    * reading exists — the r13 contract shape. */
  private def renderRegs(regs: Seq[(String, Double, Double)],
      confirm: Map[String, Double] = Map.empty): String =
    regs.map { case (n, sec, pin) =>
      val base = math.round(sec * 100) / 100.0 + "," + math.round(pin * 100) / 100.0
      val tail = confirm.get(n).map(c => "," + math.round(c * 100) / 100.0).getOrElse("")
      jstr(n) + ":[" + base + tail + "]"
    }.mkString("{", ",", "}")

  /** Compact trailer printed AFTER the full contract line. The driver's
    * BENCH artifact keeps only the last ~2000 output characters; with 140+
    * entries the full `queries` map alone overflows that window and the
    * headline `"metric"/"value"` prefix is cut off (BENCH_r07/r08: parsed
    * null). This line carries the headline numbers plus only the slowest
    * queries, sized to always survive the tail truncation. Timing forensics
    * ride along compactly: `t0` (suite wall-clock start, epoch ms),
    * `ckpt_sec` (offset of every 10th query's start from t0 — with the
    * per-query durations this localizes any contention window's absolute
    * time-of-day), `reg_t_start` (exact epoch-ms start of each breached
    * query), and `gc_sec`/`rewarm_max` (the two adjudication fields that
    * previously lived only in the truncatable full line). */
  private[graft] def renderSummary(results: Seq[QResult], sfDir: String,
      regs: Seq[(String, Double, Double)],
      selfHeals: Seq[(String, String)] = Nil,
      confirm: Map[String, Double] = Map.empty,
      gcSec: Double = 0.0,
      rewarmed: Seq[(String, Double)] = Nil,
      loadBefore: Double = -1.0, loadAfter: Double = -1.0,
      extBusy: Double = -1.0,
      extBusyBlocks: Seq[Double] = Nil,
      oracleRef: String = "{}"): String = {
    val ok = results.filter(_.err.isEmpty)
    val slow = ok.sortBy(-_.sec).take(10)
      .map(r => jstr(r.name) + ":" + math.round(r.sec * 100) / 100.0)
      .mkString("{", ",", "}")
    val sh = selfHeals.map { case (e, c) => jstr(s"$e@$c") }.mkString("[", ",", "]")
    val t0 = results.headOption.map(_.tStartMs).getOrElse(0L)
    val ckpt = results.zipWithIndex.collect { case (r, i) if i % 10 == 0 =>
      math.round((r.tStartMs - t0) / 100.0) / 10.0 }.mkString("[", ",", "]")
    val regTs = results.filter(r => regs.exists(_._1 == r.name))
      .map(r => jstr(r.name) + ":" + r.tStartMs).mkString("{", ",", "}")
    val rwMax = rewarmed.sortBy(-_._2).headOption
      .map { case (n, s) => "{" + jstr(n) + ":" + math.round(s * 1000) / 1000.0 + "}" }
      .getOrElse("{}")
    s"""{"metric":"total","value":${ok.map(_.sec).sum},"unit":"sec",""" +
      s""""total_confirmed":${totalConfirmed(results, confirm)},""" +
      s""""n_queries":${results.size},"failed":${results.count(_.err.isDefined)},""" +
      s""""gc_sec":${math.round(gcSec * 1000) / 1000.0},""" +
      s""""slowest":$slow,"regressions":${renderRegs(regs, confirm)},""" +
      s""""reg_t_start":$regTs,""" +
      s""""cache_selfheals":$sh,""" +
      s""""t0":$t0,"ckpt_sec":$ckpt,"rewarm_max":$rwMax,""" +
      loadProbeJson(loadBefore, loadAfter, extBusy) + "," +
      extBusyJson(results, regs, extBusyBlocks) + "," +
      s""""oracle_ref":$oracleRef,""" +
      s""""sf":${jstr(sfDir)}}"""
  }

  /** Ultra-compact FINAL stdout line (VERDICT r18 #2a): the r17 round lost
    * its entire per-query PERF table because the driver's 2000-char tail
    * window caught only a truncated JSON object. The full contract line and
    * the ~1–2 KB summary line still print first (the driver parses and
    * merges every JSON line it finds in the full stdout); this line repeats
    * ONLY the headline numbers in ≤ ~250 chars so that even a bare
    * 2000-char tail capture always ends with one complete, parseable
    * `{"metric":...}` object. Additions-only: no field of the existing two
    * lines moved or changed meaning. */
  private[graft] def renderCompact(results: Seq[QResult],
      confirm: Map[String, Double], gcSec: Double, sfDir: String,
      oracleTotal: Option[String]): String = {
    val ok = results.filter(_.err.isEmpty)
    // oracle total only (the full oracle_ref with its _meta block is on the
    // longer lines; embedding it here could push past the tail window)
    val oTot = oracleTotal.getOrElse("null")
    s"""{"metric":"total","value":${ok.map(_.sec).sum},"unit":"sec",""" +
      s""""total_confirmed":${totalConfirmed(results, confirm)},""" +
      s""""n_queries":${results.size},""" +
      s""""failed":${results.count(_.err.isDefined)},""" +
      s""""gc_sec":${math.round(gcSec * 1000) / 1000.0},""" +
      s""""oracle_total":$oTot,""" +
      s""""sf":${jstr(sfDir)}}"""
  }

  /** The DuckDB side of the matched pair, raw-embedded from the committed
    * oracle_times.json (VERDICT r17 #3): the bench artifact itself carries
    * the oracle suite total AND the oracle run's measurement metadata
    * (DuckDB version, window timestamp, its own load probes — written by
    * tools/oracle_timing.py r18+), so a future ratio swing is attributable
    * in ONE read of BENCH_r{N} instead of cross-session forensics.
    * Absent/old-format file → {} (the pre-r18 dump had no _total/_meta). */
  private[graft] def oracleRefJson(path: String): String = oracleRef(path)._2

  /** The oracle suite total as written in the file, and the `oracle_ref`
    * JSON that embeds it. */
  private[graft] def oracleRef(path: String): (Option[String], String) =
    try {
      val txt = readText(path)
      val tot = "\"_total\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)".r
        .findFirstMatchIn(txt).map(_.group(1))
      val meta = {
        val at = txt.indexOf("\"_meta\"")
        if (at < 0) None
        else {
          val open = txt.indexOf('{', at)
          var i = open; var depth = 0; var end = -1
          while (i < txt.length && end < 0) {
            txt.charAt(i) match {
              case '{' => depth += 1
              case '}' => depth -= 1; if (depth == 0) end = i
              case _ =>
            }
            i += 1
          }
          if (open >= 0 && end > open) Some(txt.substring(open, end + 1)) else None
        }
      }
      (tot, (tot, meta) match {
        case (Some(t), Some(m)) => s"""{"total":$t,"meta":$m}"""
        case (Some(t), None) => s"""{"total":$t}"""
        case _ => "{}"
      })
    } catch { case _: Exception => (None, "{}") }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** 1-minute loadavg (Linux), −1 when unreadable — the r15 VERDICT #2
    * load precondition: every published bench number carries the machine
    * load OBSERVED AROUND ITS OWN RUN inside the artifact, so a
    * noisy-neighbor window (r15: 4–5 external cores moved the matched
    * pair 1.13×→1.44×) is adjudicable from the JSON alone instead of
    * from after-the-fact prose. */
  private[graft] def loadAvg1(): Double =
    try readText("/proc/loadavg").split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Render the load-probe JSON fragment shared by both output lines. */
  private[graft] def loadProbeJson(before: Double, after: Double,
      externalBusy: Double): String =
    s""""load_before":$before,"load_after":$after,""" +
      s""""external_busy_cores":$externalBusy"""

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
    * mechanized per VERDICT r15 #2): sample /proc/stat over `ms`, subtract
    * this JVM's own jiffies, convert to busy cores (USER_HZ = 100). Run it
    * BEFORE the suite (cheap, done while otherwise idle) so the artifact
    * records the noisy-neighbor level that the timings are conditioned on.
    * −1 when /proc is unreadable. */
  private[graft] def externalBusyCores(ms: Int = 500): Double = {
    val b0 = procStatBusy(); val s0 = selfJiffies()
    if (b0 < 0 || s0 < 0) return -1.0
    val t0 = System.nanoTime()
    Thread.sleep(ms.toLong)
    val dtSec = (System.nanoTime() - t0) / 1e9
    val db = procStatBusy() - b0
    val ds = selfJiffies() - s0
    math.max(0.0, math.round((db - ds) / (100.0 * dtSec) * 100) / 100.0)
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
    val extBlocks = trace.blocks
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
    val allHeals = selfHeals ++ confirmHeals
    val (oracleTotal, oracleRefJs) = oracleRef(
      sys.env.getOrElse("SPARK_GRAFT_ORACLE_TIMES", "oracle_times.json"))
    println(renderJson(results, sfDir, gcSec,
      spark.sparkContext.getPersistentRDDs.size, storage, regs, warmSharedSec,
      warmed, allHeals, confirm, loadBefore, loadAfter, extBusy, extBlocks,
      oracleRefJs))
    println(renderSummary(results, sfDir, regs, allHeals, confirm, gcSec,
      warmed, loadBefore, loadAfter, extBusy, extBlocks, oracleRefJs))
    println(renderCompact(results, confirm, gcSec, sfDir, oracleTotal))
    spark.stop()
  }
}
