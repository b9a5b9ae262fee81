package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Bench failure-honesty: a throwing query must surface in the JSON as an
  * error with a −1 timing, never as a fast-looking wall time (a broken query
  * would otherwise read as a performance win in the driver's BENCH JSON). */
class BenchSpec extends AnyFunSuite {
  import SparkTestSession._
  import BenchSpec._

  test("a failing query reports err and -1 seconds, not a wall time") {
    val qs = Seq(
      "ok" -> ((s: SparkSession, d: String) => Tables.region(s, d)),
      "boom" -> ((s: SparkSession, d: String) => s.sql("SELECT * FROM graft_missing_table")))
    val rs = Bench.runSuite(spark, sfDir, qs)
    val boom = rs.find(_.name == "boom").get
    assert(boom.err.isDefined, "throwing query did not surface an error")
    assert(boom.sec == -1.0)
    assert(rs.find(_.name == "ok").get.err.isEmpty)
    val json = Bench.Report(rs, sfDir, gcSec = 0.1).line(Bench.FullLine)
    assert(json.contains("\"boom\":-1.0"), json)
    assert(json.contains("\"failed\":1"), json)
    // total sums only successes — the failure must not contribute −1
    val total = """"value":([-0-9.eE]+)""".r.findFirstMatchIn(json).get.group(1).toDouble
    assert(total >= 0.0, json)
  }

  test("load probes land in both JSON lines; external cores are measurable") {
    val rs = Seq(Bench.QResult("ok", 0.5, None))
    val probed = Bench.Report(rs, sfDir, loadBefore = 1.25, loadAfter = 3.5, extBusy = 0.75)
    val json = probed.line(Bench.FullLine)
    assert(json.contains("\"load_before\":1.25"), json)
    assert(json.contains("\"load_after\":3.5"), json)
    assert(json.contains("\"external_busy_cores\":0.75"), json)
    val summary = probed.line(Bench.SummaryLine)
    assert(summary.contains("\"external_busy_cores\":0.75"), summary)
    // default (unprobed) renders -1.0, never an absent field
    val bare = Bench.Report(rs, sfDir).line(Bench.FullLine)
    assert(bare.contains("\"external_busy_cores\":-1.0"), bare)
    // nothing breached: `confirmed` is present and empty
    assert(bare.endsWith(""","confirmed":{}}"""), bare)
    // the probe itself: non-negative on this Linux box, and self time is
    // excluded (an idle-probe reading can't be the whole machine)
    val ext = Bench.externalBusyCores(ms = 200)
    assert(ext >= 0.0)
    assert(ext <= Runtime.getRuntime.availableProcessors.toDouble)
  }

  test("regression alarm: pinned queries over 2x and 0.5s flag; others don't") {
    val rs = Seq(
      Bench.QResult("q_slow", 7.29, None),     // pinned 1.93 -> 3.8x, flags
      Bench.QResult("q_jitter", 0.12, None),   // pinned 0.05 -> 2.4x but under abs floor
      Bench.QResult("q_fine", 1.00, None),     // pinned 0.90 -> 1.1x
      Bench.QResult("q_unpinned", 9.0, None),  // no pin -> never flags
      Bench.QResult("q_broken", -1.0, Some("boom"))) // failures aren't regressions
    val pins = Map("q_slow" -> 1.93, "q_jitter" -> 0.05, "q_fine" -> 0.9,
      "q_broken" -> 0.1)
    val regs = Bench.regressions(rs, pins)
    assert(regs == Seq(("q_slow", 7.29, 1.93)), regs.toString)
    // no confirm reading -> the [timed, pin] shape (pre-r13 compatible)
    val json = Bench.Report(rs, sfDir, regs, warmSharedSec = 1.234,
      rewarmed = Seq("q14_pairs" -> 0.2345), selfHeals = Seq("qa_corpus" -> "q30_qa"))
      .line(Bench.FullLine)
    assert(json.contains("\"regressions\":{\"q_slow\":[7.29,1.93]}"), json)
    assert(json.contains("\"warm_shared_sec\":1.234"), json)
    assert(json.contains("\"rewarm_sec\":{\"q14_pairs\":0.235"), json)
    assert(json.contains("\"cache_selfheals\":[\"qa_corpus@q30_qa\"]"), json)
    val summary = Bench.Report(rs, sfDir, regs, selfHeals = Seq("qa_corpus" -> "q30_qa"))
      .line(Bench.SummaryLine)
    assert(summary.contains("\"regressions\":{\"q_slow\":[7.29,1.93]}"), summary)
    assert(summary.contains("\"cache_selfheals\":[\"qa_corpus@q30_qa\"]"), summary)
  }

  test("confirm pass: breached queries re-time once and emit [timed,pin,confirm]") {
    val qs = Seq(
      "q_slow" -> ((s: SparkSession, d: String) => Tables.region(s, d)),
      "q_fine" -> ((s: SparkSession, d: String) => Tables.region(s, d)))
    val regs = Seq(("q_slow", 7.29, 1.93))
    val confirm = Bench.confirmRegs(spark, sfDir, qs, regs)
    assert(confirm.keySet == Set("q_slow"), confirm.toString) // only breaches re-run
    assert(confirm("q_slow") >= 0.0, "confirm of a working query must be a wall time")
    val rs = Seq(Bench.QResult("q_slow", 7.29, None, 1700000000000L),
      Bench.QResult("q_fine", 1.0, None, 1700000010000L))
    val json = Bench.Report(rs, sfDir, regs, Map("q_slow" -> 1.889)).line(Bench.FullLine)
    assert(json.contains("\"regressions\":{\"q_slow\":[7.29,1.93,1.89]}"), json)
    assert(json.endsWith(""","confirmed":{"q_slow":1.889}}"""), json)
    val summary = Bench.Report(rs, sfDir, regs, Map("q_slow" -> 1.889), gcSec = 0.5,
      rewarmed = Seq("a" -> 0.1, "q14_pairs" -> 0.42)).line(Bench.SummaryLine)
    assert(summary.contains("\"regressions\":{\"q_slow\":[7.29,1.93,1.89]}"), summary)
    assert(summary.contains("\"reg_t_start\":{\"q_slow\":1700000000000}"), summary)
    assert(summary.contains("\"gc_sec\":0.5"), summary)
    assert(summary.contains("\"rewarm_max\":{\"q14_pairs\":0.42}"), summary)
  }

  test("regression alarm adds the recorded warm-suite delta to isolated pins") {
    // r17 (VERDICT r16 #4): q113/q148/q237 are pinned from ISOLATED quiet
    // readings; the warm:<query> entry widens only their band so the
    // sensitive pin doesn't fire permanently inside a warm suite
    val pins = Map("q_iso" -> 1.0, "warm:q_iso" -> 0.9, "q_plain" -> 1.0)
    val rs = Seq(Bench.QResult("q_iso", 3.7, None),
      Bench.QResult("q_plain", 3.7, None))
    // q_iso band = 2*(1.0+0.9) = 3.8 -> quiet at 3.7; q_plain band = 2.0
    assert(Bench.regressions(rs, pins).map(_._1) === Seq("q_plain"))
    // past the widened band the alarm still fires, reporting the BASE pin
    val rs2 = Seq(Bench.QResult("q_iso", 3.9, None))
    assert(Bench.regressions(rs2, pins) === Seq(("q_iso", 3.9, 1.0)))
  }

  test("total_confirmed substitutes confirm readings; -1 confirms never substitute") {
    val rs = Seq(
      Bench.QResult("q_slow", 9.73, None),   // breached; confirm 1.42
      Bench.QResult("q_bad", 5.0, None),     // breached; confirm failed (-1)
      Bench.QResult("q_fine", 1.0, None),
      Bench.QResult("q_broken", -1.0, Some("boom"))) // failure: in neither total
    val confirm = Map("q_slow" -> 1.42, "q_bad" -> -1.0)
    // q_slow substituted, q_bad keeps its timed reading, q_broken excluded
    assert(math.abs(Bench.totalConfirmed(rs, confirm) - (1.42 + 5.0 + 1.0)) < 1e-9)
    // no confirms -> identical to the raw successful total
    assert(math.abs(Bench.totalConfirmed(rs, Map.empty) - (9.73 + 5.0 + 1.0)) < 1e-9)
    val regs = Seq(("q_slow", 9.73, 2.0), ("q_bad", 5.0, 2.0))
    val json = Bench.Report(rs, sfDir, regs, confirm).line(Bench.FullLine)
    assert(json.contains("\"total_confirmed\":7.42"), json)
    val summary = Bench.Report(rs, sfDir, regs, confirm).line(Bench.SummaryLine)
    assert(summary.contains("\"total_confirmed\":7.42"), summary)
  }

  test("timestamps: full line carries per-query t_start; summary t0 + ckpt offsets") {
    val rs = (0 until 25).map(i =>
      Bench.QResult(f"q$i%02d", 0.1, None, 1700000000000L + i * 1000L))
    val report = Bench.Report(rs, sfDir)
    val json = report.line(Bench.FullLine)
    assert(json.contains("\"t_start\":{\"q00\":1700000000000,"), json)
    assert(json.contains("\"q24\":1700000024000}"), json)
    val summary = report.line(Bench.SummaryLine)
    assert(summary.contains("\"t0\":1700000000000"), summary)
    // every 10th query start as offset-from-t0 seconds: q00, q10, q20
    assert(summary.contains("\"ckpt_sec\":[0.0,10.0,20.0]"), summary)
  }

  test("self-heal forensics: an external unpersist of a cached entry is recorded") {
    PlanCache.drainSelfHeals()
    val name = "benchspec_selfheal_probe"
    val df = PlanCache.cached(spark, name, sfDir, sfDir + "/region.parquet") {
      Tables.region(spark, sfDir)
    }
    df.count()
    df.unpersist(blocking = true) // the CacheManager eviction class, by reference
    PlanCache.setConsumer("q_probe_consumer")
    val again = PlanCache.cached(spark, name, sfDir, sfDir + "/region.parquet") {
      Tables.region(spark, sfDir)
    }
    assert(again.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "self-heal did not re-persist the evicted entry")
    val events = PlanCache.drainSelfHeals()
    assert(events.contains((name, "q_probe_consumer")), events.toString)
    again.unpersist(blocking = true)
  }

  test("every non-aux registered query has a bench pin (alarm coverage)") {
    // The regression alarm only protects what it can see (VERDICT r11: q213's
    // 3.11 s was invisible because the 20 r11 queries landed unpinned). Every
    // new operator must land with its pin in the same commit.
    val (_, pins) = Bench.readPins("bench_pins.json")
    assert(pins.nonEmpty, "bench_pins.json missing or unparseable")
    val unpinned = SparkEntry.queries.keys.toSeq
      .filterNot(_.startsWith("aux_")).filterNot(pins.contains).sorted
    assert(unpinned.isEmpty, s"queries without a bench pin: ${unpinned.mkString(", ")}")
  }

  test("oracleRefJson embeds _total/_meta and degrades on old-format/missing files") {
    // r18 (VERDICT r17 #3): the bench artifact carries the DuckDB side of
    // the matched pair with its measurement metadata, so a ratio swing is
    // attributable from BENCH_r{N} alone.
    val f = java.nio.file.Files.createTempFile("otimes", ".json")
    java.nio.file.Files.write(f,
      ("""{"q01_x": 0.031, "_total": 106.7, "_meta": {"duckdb_version": """ +
        """"v1.0.0", "ts": "2026-08-16T00:00:00+00:00", "ext_busy_cores": 0.05}}""")
        .getBytes)
    def oracleRefJson(path: String) =
      Bench.Report(Nil, sfDir, oracle = Bench.oracleRef(path)).field("oracle_ref")
    val ref = oracleRefJson(f.toString)
    assert(ref.contains(""""total":106.7"""), ref)
    assert(Bench.oracleRef(f.toString).meta.map(_.get("duckdb_version").asText)
      .contains("v1.0.0"), ref)
    // embedded meta must still be valid JSON inside a bench line
    assert(ref.count(_ == '{') == ref.count(_ == '}'), ref)
    // pre-r18 dump (no _total/_meta) and missing file → "{}" not a throw
    val old = java.nio.file.Files.createTempFile("otimes_old", ".json")
    java.nio.file.Files.write(old, """{"q01_x": 0.031}""".getBytes)
    assert(oracleRefJson(old.toString) == "{}")
    assert(oracleRefJson("/nonexistent/otimes.json") == "{}")
    java.nio.file.Files.delete(f); java.nio.file.Files.delete(old)
  }

  test("an off-scale run embeds no oracle reference, as pins are skipped off-scale") {
    // oracle times are measured at ONE scale (`_meta.sf`); its last path
    // component must be a path component of the run dir, or the lines
    // carry no DuckDB total to misread as this run's ratio
    val f = java.nio.file.Files.createTempFile("otimes_sf", ".json")
    def write(meta: String) = java.nio.file.Files.write(f,
      s"""{"q01_x": 0.031, "_total": 106.7, "_meta": $meta}""".getBytes)
    def render(runDir: String) = {
      val r = Bench.Report(Nil, runDir, oracle = Bench.oracleRefAt(f.toString, runDir))
      (r.field("oracle_ref"), r.field("oracle_total"))
    }
    write("""{"duckdb_version": "v1.0.0", "sf": "/data/sf0.1"}""")
    assert(render("/data/sf0.01") == ("{}", "null"))
    val full = Bench.Report(Nil, "/data/sf0.01",
      oracle = Bench.oracleRefAt(f.toString, "/data/sf0.01")).line(Bench.FullLine)
    assert(full.contains(""""oracle_ref":{},"sf":"/data/sf0.01""""), full)
    assert(render("/data/sf0.12") == ("{}", "null"))
    val (ref, total) = render("/elsewhere/sf0.1/")
    assert(ref.contains(""""total":106.7""") && ref.contains(""""sf":"/data/sf0.1""""), ref)
    assert(total == "106.7")
    // untagged meta, or no file at all: no reference at any scale
    write("""{"duckdb_version": "v1.0.0"}""")
    assert(render("/data/sf0.1") == ("{}", "null"))
    java.nio.file.Files.delete(f)
    assert(render("/data/sf0.1") == ("{}", "null"))
  }

  test("loadPins parses a flat json map and tolerates a missing file") {
    val f = java.nio.file.Files.createTempFile("pins", ".json")
    java.nio.file.Files.write(f,
    """{"q01_x": 0.34, "q148_source_overlap":1.93}""".getBytes)
    val (_, pins) = Bench.readPins(f.toString)
    assert(pins == Map("q01_x" -> 0.34, "q148_source_overlap" -> 1.93), pins)
    assert(Bench.readPins("/nonexistent/pins.json") == (None, Map.empty))
    // the scale tag and top-level numbers only, never a nested map's entries
    java.nio.file.Files.write(f,
      """{"_sf": "sf0.1", "q01_x": 0.34, "warm:q01_x": 0.5, "notes": {"q02_y": 9.0}}""".getBytes)
    assert(Bench.readPins(f.toString) ==
      (Some("sf0.1"), Map("q01_x" -> 0.34, "warm:q01_x" -> 0.5)))
    java.nio.file.Files.delete(f)
  }

  test("golden: the three contract lines of one fixture render byte-stable") {
    val oracleFile = java.nio.file.Files.createTempFile("otimes_golden", ".json")
    java.nio.file.Files.write(oracleFile,
      ("""{"q00": 0.031, "_total": 106.7, "_meta": {"duckdb_version": "v1.0.0", """ +
        """"ts": "2026-08-16T00:00:00+00:00", "repeats": 2, "probe": {"ext": [0.05, 1.4]}}}""")
        .getBytes)
    val timed = Map(7 -> 4.567, 12 -> 3.21, 20 -> 2.5)
    val rs = (0 until 25).map { i =>
      val name = f"q$i%02d"
      val t = 1700000000000L + i * 1234L
      if (i == 3) Bench.QResult(name, -1.0, Some("AnalysisException: no \"t\"\tx"), t)
      else Bench.QResult(name, timed.getOrElse(i, math.round((0.05 + i * 0.137) * 1000) / 1000.0),
        None, t)
    }
    val regs = Seq(("q07", 4.567, 1.234), ("q12", 3.21, 1.1), ("q20", 2.5, 0.9))
    val confirm = Map("q07" -> 1.8889, "q20" -> -1.0)
    val report = Bench.Report(rs, "/data/sf0.1", regs, confirm, 1.23456, 3, 123456789L,
      0.98765, Seq("q14_pairs" -> 0.2345, "qa_corpus" -> 1.5), Seq("qa_corpus" -> "q11"),
      1.25, 3.5, 0.75, Seq(0.5, 2.25, -1.0), Bench.oracleRef(oracleFile.toString))
    java.nio.file.Files.delete(oracleFile)
    // the two documented departures from the recorded lines: Jackson
    // re-renders the oracle's _meta compactly, and the full line gains
    // `confirmed` (3-decimal confirm readings, −1.0 for a failed one)
    def compactMeta(line: String) = line.replace(
      """{"duckdb_version": "v1.0.0", "ts": "2026-08-16T00:00:00+00:00", "repeats": 2, """ +
        """"probe": {"ext": [0.05, 1.4]}}""",
      """{"duckdb_version":"v1.0.0","ts":"2026-08-16T00:00:00+00:00","repeats":2,""" +
        """"probe":{"ext":[0.05,1.4]}}""")
    val full = report.line(Bench.FullLine)
    assert(full == compactMeta(GoldenFull).stripSuffix("}") +
      ""","confirmed":{"q07":1.889,"q20":-1.0}}""", full)
    val summary = report.line(Bench.SummaryLine)
    assert(summary == compactMeta(GoldenSummary), summary)
    val compact = report.line(Bench.CompactLine)
    assert(compact == GoldenCompact, compact)
  }
}

/** The three lines the golden fixture rendered through the three
  * hand-written renderers that preceded `Bench.Report`. */
object BenchSpec {
  val GoldenFull: String =
    """{"metric":"total","value":46.673,"unit":"sec","total_confirmed":43.9949,""" +
    """"queries":{"q00":0.05,"q01":0.187,"q02":0.324,"q03":-1.0,"q04":0.598,""" +
    """"q05":0.735,"q06":0.872,"q07":4.567,"q08":1.146,"q09":1.283,"q10":1.42,""" +
    """"q11":1.557,"q12":3.21,"q13":1.831,"q14":1.968,"q15":2.105,"q16":2.242,""" +
    """"q17":2.379,"q18":2.516,"q19":2.653,"q20":2.5,"q21":2.927,"q22":3.064,""" +
    """"q23":3.201,"q24":3.338},"t_start":{"q00":1700000000000,"q01":1700000001234,""" +
    """"q02":1700000002468,"q03":1700000003702,"q04":1700000004936,"q05":1700000006170,""" +
    """"q06":1700000007404,"q07":1700000008638,"q08":1700000009872,"q09":1700000011106,""" +
    """"q10":1700000012340,"q11":1700000013574,"q12":1700000014808,"q13":1700000016042,""" +
    """"q14":1700000017276,"q15":1700000018510,"q16":1700000019744,"q17":1700000020978,""" +
    """"q18":1700000022212,"q19":1700000023446,"q20":1700000024680,"q21":1700000025914,""" +
    """"q22":1700000027148,"q23":1700000028382,"q24":1700000029616},""" +
    """"errors":{"q03":"AnalysisException: no \"t\"\tx"},"failed":1,"gc_sec":1.235,""" +
    """"persistent_rdds":3,"storage_bytes":123456789,"regressions":{"q07":[4.57,1.23,""" +
    """1.89],"q12":[3.21,1.1],"q20":[2.5,0.9,-1.0]},"warm_shared_sec":0.988,""" +
    """"rewarm_sec":{"q14_pairs":0.235,"qa_corpus":1.5},""" +
    """"cache_selfheals":["qa_corpus@q11"],"load_before":1.25,"load_after":3.5,""" +
    """"external_busy_cores":0.75,"ext_busy_blocks":[0.5,2.25,-1.0],""" +
    """"reg_ext_busy":{"q07":0.5,"q12":2.25,"q20":-1.0},"oracle_ref":{"total":106.7,""" +
    """"meta":{"duckdb_version": "v1.0.0", "ts": "2026-08-16T00:00:00+00:00",""" +
    """ "repeats": 2, "probe": {"ext": [0.05, 1.4]}}},"sf":"/data/sf0.1"}"""
  val GoldenSummary: String =
    """{"metric":"total","value":46.673,"unit":"sec","total_confirmed":43.9949,""" +
    """"n_queries":25,"failed":1,"gc_sec":1.235,"slowest":{"q07":4.57,"q24":3.34,""" +
    """"q12":3.21,"q23":3.2,"q22":3.06,"q21":2.93,"q19":2.65,"q18":2.52,"q20":2.5,""" +
    """"q17":2.38},"regressions":{"q07":[4.57,1.23,1.89],"q12":[3.21,1.1],"q20":[2.5,""" +
    """0.9,-1.0]},"reg_t_start":{"q07":1700000008638,"q12":1700000014808,""" +
    """"q20":1700000024680},"cache_selfheals":["qa_corpus@q11"],"t0":1700000000000,""" +
    """"ckpt_sec":[0.0,12.3,24.7],"rewarm_max":{"qa_corpus":1.5},"load_before":1.25,""" +
    """"load_after":3.5,"external_busy_cores":0.75,"ext_busy_blocks":[0.5,2.25,-1.0],""" +
    """"reg_ext_busy":{"q07":0.5,"q12":2.25,"q20":-1.0},"oracle_ref":{"total":106.7,""" +
    """"meta":{"duckdb_version": "v1.0.0", "ts": "2026-08-16T00:00:00+00:00",""" +
    """ "repeats": 2, "probe": {"ext": [0.05, 1.4]}}},"sf":"/data/sf0.1"}"""
  val GoldenCompact: String =
    """{"metric":"total","value":46.673,"unit":"sec","total_confirmed":43.9949,""" +
    """"n_queries":25,"failed":1,"gc_sec":1.235,"oracle_total":106.7,""" +
    """"sf":"/data/sf0.1"}"""
}
