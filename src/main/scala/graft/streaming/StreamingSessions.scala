package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Q

/** Structured Streaming sessionization — the streaming analog of the batch
  * gap-based pipeline (q06 / reference script_06_web_sessionization.py:18-21).
  * The batch trick (lag + flag + running sum) is order-sensitive and
  * batch-only; the streaming-native formulation is
  * `session_window(ts, gap)` + watermark, which Spark merges incrementally as
  * events arrive — the shape a real-time 100 TB/day clickstream pipeline uses.
  *
  * The registered query drives the stream to completion from the static events
  * table into a fingerprint-scoped parquet artifact (foreachBatch writes the
  * complete-mode aggregate DISTRIBUTED, executor-side; the driver only reads
  * the published files back), so the result behaves like any batch frame
  * (same session definition ⇒ same sessions as q06, asserted in tests) while
  * nothing data-proportional ever lands on the driver.
  */
object StreamingSessions {

  private def eventsSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType), // physical layout probed per-source, see below
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming events source with `ts` normalized to TimestampType.
    *
    * A file stream needs an explicit schema, and events.ts has shipped in two
    * physical layouts across testdata generations (TIMESTAMP(MICROS), and
    * legacy TIMESTAMP(NANOS) readable only as long under `nanosAsLong`) — so
    * hardcoding either layout is exactly the schema-drift trap: a NANOS
    * schema over a MICROS file reads µs values as ns and silently compresses
    * every event time 1000×. Instead, probe the footer ONCE driver-side via a
    * batch scan (same contract as [[graft.Tables.eventsAt]]), declare the
    * stream schema from what the file actually stores, and fail loudly on
    * anything else. */
  private def eventsStream(spark: SparkSession, path: String,
      readerOptions: Map[String, String] = Map.empty): DataFrame = {
    // harmless for MICROS files; required before the probe/scan for NANOS
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read.parquet(path).schema("ts").dataType
    val raw = spark.readStream.schema(eventsSchema(tsType))
      .options(readerOptions).parquet(path)
    // the layout → TimestampType normalization itself lives in ONE place
    // (Tables.normalizeTs) shared with the batch reader
    graft.Tables.normalizeTs(raw, tsType, path)
  }

  /** Streaming session aggregation over a parquet source dir. */
  def sessionStream(spark: SparkSession, path: String): DataFrame = {
    eventsStream(spark, path)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(
        count(lit(1)).as("events_n"),
        round(sum(col("value")), 4).as("session_value"))
      .select(col("user_id"), col("sw.start").as("session_start_ts"),
        col("sw.end").as("session_end_ts"), col("events_n"), col("session_value"))
  }

  /** Run the stream over the static events table to completion and return the
    * published parquet of its final complete-mode state. */
  val streamingSessions: Q = Q(
    "q31_streaming_sessions",
    (s, dir) => streamToArtifact(s, dir, "sessions", "events",
      p => sessionStream(s, p)),
    // `session_window(ts, gap)` semantics in ANSI SQL: an event opens window
    // [ts, ts+gap); overlapping windows merge, so a NEW session starts exactly
    // when ts - prev_ts >= gap (µs precision), and the merged window's end is
    // max(ts) + gap. The q06 batch trick differs only in the boundary compare
    // (> vs >=, seconds vs µs) and the end definition (max ts vs max ts + gap).
    Some("""WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      ), flagged AS (
        SELECT user_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000 THEN 1 ELSE 0 END AS new_s
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        FROM flagged
      )
      SELECT user_id,
        MIN(ts) AS session_start_ts,
        MAX(ts) + INTERVAL 30 MINUTE AS session_end_ts,
        COUNT(1) AS events_n,
        ROUND(SUM(value), 4) AS session_value
      FROM sess GROUP BY user_id, seq"""))

  /** Event row for the stateful API (ts in epoch microseconds; ts_t is the
    * same instant as a timestamp — the watermark column must survive into the
    * stateful operator's input or the analyzer rejects event-time timeout). */
  final case class Ev(user_id: Long, ts_us: Long, value: Double,
      ts_t: java.sql.Timestamp)

  /** O(1) per-key state: the open session's summary, not its events — state
    * size is constant no matter how long a session runs, which is what keeps
    * the state store bounded on a 100 TB/day stream. */
  final case class OpenSession(start_us: Long, last_us: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start_us: Long,
      session_end_us: Long, events_n: Long)

  /** Custom-state sessionization via flatMapGroupsWithState — the
    * arbitrary-state streaming API (KeyValueGroupedDataset), for session
    * logic `session_window` can't express (e.g. value-dependent gap rules).
    *
    * Cross-batch and late-data correct, with the same close rule
    * `session_window` applies internally: state holds the key's merged
    * session intervals (each an O(1) [[OpenSession]] summary — constant per
    * session regardless of event count), a batch's events merge into that
    * interval set (late events extend a session's START as well as its end,
    * or bridge two held sessions), rows below the watermark are dropped
    * (the aggregation path's late-data rule), and a session is emitted only
    * once the watermark passes its gap deadline (last event + 30 min) — at
    * which point no admissible event can change it, so no session is ever
    * split or emitted twice. */
  def statefulSessions(spark: SparkSession, path: String,
      readerOptions: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.functions.{col, unix_micros}
    import spark.implicits._
    val gapUs = 1800L * 1000000L
    val ev = eventsStream(spark, path, readerOptions)
      .withColumn("ts_t", col("ts"))
      .withWatermark("ts_t", "1 hour")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("ts_t")).as[Ev]
    def fn(userId: Long, rows: Iterator[Ev],
        state: GroupState[List[OpenSession]]): Iterator[SessionOut] = {
      val wmMs = state.getCurrentWatermarkMs()
      val wmUs = wmMs * 1000L
      // a session is final once the watermark passes its gap deadline: every
      // admissible future event t satisfies t >= wm >= last + gap, so it
      // cannot merge — flush it; keep the rest in state
      def settle(held: List[OpenSession]): Iterator[SessionOut] = {
        val (closed, open) = held.partition(o => o.last_us + gapUs <= wmUs)
        if (open.isEmpty) state.remove()
        else {
          state.update(open)
          state.setTimeoutTimestamp(math.max(
            open.map(o => o.last_us + gapUs).min / 1000L, wmMs + 1))
        }
        closed.sortBy(_.start_us)
          .map(o => SessionOut(userId, o.start_us, o.last_us, o.n)).iterator
      }
      if (state.hasTimedOut) settle(state.getOption.getOrElse(Nil))
      else {
        // drop below-watermark rows (the aggregation path's late-data rule),
        // then interval-merge the batch into the held session set: sorted by
        // start, adjacent items within the gap fuse — a late event can extend
        // a session backwards or bridge two held sessions
        val ts = rows.map(_.ts_us).filter(_ >= wmUs).toArray.sorted
        val held = state.getOption.getOrElse(Nil)
        val items = (held ++ ts.map(t => OpenSession(t, t, 1L)))
          .sortBy(o => (o.start_us, o.last_us))
        val merged = items.foldLeft(List.empty[OpenSession]) { (acc, o) =>
          acc match {
            case h :: t if o.start_us - h.last_us < gapUs =>
              OpenSession(h.start_us, math.max(h.last_us, o.last_us), h.n + o.n) :: t
            case _ => o :: acc
          }
        }
        settle(merged)
      }
    }
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
      .toDF()
  }

  /** Stage a table file into a stream-source directory via symlink, shared
    * by q31 (events) and q59 (documents). Recreates a link that no longer
    * points at the live table (the sf dir was removed and regenerated
    * elsewhere — a dangling link passes a follow-links exists() check but
    * fails the read). Presence is checked NOFOLLOW so a dangling link still
    * counts as "present" for the create step. Concurrent-session
    * interleavings are tolerated: the link vanishing between check and read
    * (NoSuchFileException), a non-link appearing (NotLinkException), and
    * losing the create race (FileAlreadyExistsException) are benign — the
    * loser re-checks and proceeds against what the winner left. A create
    * failure with NO link present (EPERM, read-only volume) still
    * propagates: swallowing it would turn a hard staging failure into a
    * silently empty stream. */
  private def ensureLink(link: java.nio.file.Path, target: java.nio.file.Path): Unit = {
    def linkPointsElsewhere(): Boolean =
      try java.nio.file.Files.isSymbolicLink(link) &&
        java.nio.file.Files.readSymbolicLink(link) != target
      catch { case _: java.io.IOException => false }
    if (linkPointsElsewhere()) {
      try java.nio.file.Files.deleteIfExists(link)
      catch { case _: java.io.IOException => () }
    }
    if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      try java.nio.file.Files.createSymbolicLink(link, target)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => () // race winner's
        case e: java.io.IOException =>
          // benign only if someone else materialized the link meanwhile
          if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
            throw e
      }
    }
  }

  /** Drive a complete-mode streaming aggregate over `$dir/$table.parquet` to
    * completion and return it as a fingerprint-scoped published parquet
    * artifact. The sink is `foreachBatch` → distributed parquet overwrite
    * (each micro-batch's full complete-mode state lands executor-side; the
    * last batch's files are the final aggregate), so NOTHING
    * data-proportional touches the driver — the memory-sink + collect()
    * shape this replaces was the one driver-OOM-at-100× path in the repo.
    * Publication reuses [[graft.ops.Artifacts.loadOrBuild]]: the scratch run
    * dir is `.tmp_`-prefixed (reaped by the day-old cleanup), the publish is
    * an atomic rename under the cross-session lock, and a repeat invocation
    * over unchanged input files skips stream startup entirely and reads the
    * published artifact — the steady state of a production pipeline whose
    * sink table already holds the stream's result. */
  private def streamToArtifact(s: SparkSession, dir: String, queryTag: String,
      table: String, stream: String => DataFrame,
      mode: String = "complete",
      flushPhases: Seq[String => Unit] = Nil,
      splitSourceFiles: Int = 0,
      batchTransform: DataFrame => DataFrame = identity): DataFrame = {
    val tag = dir.replaceAll("[^a-zA-Z0-9.]", "_")
    // staging/output root is spark-conf-backed (default: this repo's target
    // dir) so a deployment relocates the stream scratch space without a
    // code change — same knob as every other derived artifact
    val root = graft.ops.Artifacts.root(s)
    // the file-stream source requires a directory; stage the single-file
    // table via symlink
    val stageDir =
      java.nio.file.Paths.get(s"$root/graft_stream/$queryTag/$tag")
    val tablePath = java.nio.file.Paths.get(s"$dir/$table.parquet")
    // the file-stream source needs a DIRECTORY of data files. A Spark-written
    // table (stress corpus) is already exactly that — point the stream at it
    // directly (its _SUCCESS marker is underscore-hidden and ignored);
    // symlink staging would nest the dir one level deep, where neither the
    // stream source nor the batch probe recurses. A single-file table
    // (driver testdata) is staged into a one-link directory as before.
    //
    // With flushPhases the query needs files ADDED between micro-batches
    // (watermark-advancing sentinels), so the source is always a staged
    // directory — every data file of a directory table is linked in, the
    // table itself stays untouched — and stale sentinel_* files from a
    // prior run are removed so phase separation survives re-runs (a
    // sentinel already present at batch 0 would both pollute the first
    // watermark and, being an already-seen path, never trigger the later
    // data batch whose eviction pass the phase exists to force).
    // splitSourceFiles > 0 re-stages the table as N data files so a
    // maxFilesPerTrigger=1 reader sees N REAL micro-batches — the only way a
    // drive-to-completion run exercises cross-batch state updates on real
    // keys (a single-file source collapses to one batch). The split is
    // fingerprint-stamped: it rebuilds when the table changes, never per run.
    // Batch ORDER is whatever the file source discovers — correct queries
    // over a split source must converge order-independently (an aggregate
    // does; q129's spec pins that multiple batches really happened).
    val sourcePath =
      if (splitSourceFiles > 0) {
        val splitDir =
          java.nio.file.Paths.get(s"$root/graft_stream/$queryTag/${tag}_split")
        val marker = splitDir.resolve("_graft_split_fp")
        val want = s"${graft.ops.Artifacts.fingerprint(s, tablePath.toString)}" +
          s":$splitSourceFiles"
        val have =
          if (java.nio.file.Files.exists(marker))
            new String(java.nio.file.Files.readAllBytes(marker),
              java.nio.charset.StandardCharsets.UTF_8)
          else ""
        if (have != want) {
          s.read.parquet(tablePath.toString).repartition(splitSourceFiles)
            .write.mode("overwrite").parquet(splitDir.toString)
          java.nio.file.Files.write(marker,
            want.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        splitDir.toString
      } else if (java.nio.file.Files.isDirectory(tablePath) && flushPhases.isEmpty)
        tablePath.toString
      else {
        java.nio.file.Files.createDirectories(stageDir)
        if (java.nio.file.Files.isDirectory(tablePath)) {
          val ls = java.nio.file.Files.list(tablePath)
          try {
            ls.iterator().forEachRemaining { f =>
              val n = f.getFileName.toString
              if (!n.startsWith("_") && !n.startsWith("."))
                ensureLink(stageDir.resolve(n), f)
            }
          } finally ls.close()
        } else ensureLink(stageDir.resolve(s"$table.parquet"), tablePath)
        if (flushPhases.nonEmpty) {
          val ls = java.nio.file.Files.list(stageDir)
          try {
            ls.iterator().forEachRemaining { f =>
              if (f.getFileName.toString.startsWith("sentinel_"))
                java.nio.file.Files.deleteIfExists(f)
            }
          } finally ls.close()
        }
        stageDir.toString
      }
    val base = s"$root/graft_stream_out/$queryTag"
    // the artifact key must change when the READER changes, not just the
    // input: a published artifact built by an older reader against the same
    // files would otherwise be served forever (the r8 µs-as-ns misread
    // published wrong aggregates under the input-only fingerprint). Bump on
    // any stream-semantics or source-schema change.
    val readerVersion = 3L
    val fp = graft.ops.Artifacts.fingerprint(s, s"$dir/$table.parquet") ^
      (readerVersion * 0x9e3779b97f4a7c15L)
    // the stream builders set session confs their source may need
    // (eventsStream sets parquet nanosAsLong in case the staged file is a
    // legacy INT64(NANOS) corpus — it must stay set while micro-batches
    // execute); snapshot here and restore once the stream has fully stopped,
    // so driving a query leaves no session-global state behind. The returned
    // frame reads the PUBLISHED artifact (plain MICROS timestamps), which
    // needs no conf.
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosPrior = s.conf.getOption(nanosKey)
    try {
      graft.ops.Artifacts.loadOrBuild(s, base, fp) {
        val scratch =
          s"$base/.tmp_run_${fp}_${java.util.UUID.randomUUID().toString.take(8)}"
        val out = s"$scratch/out"
        // complete mode re-emits the whole result each batch (overwrite);
        // append mode (the only mode stream-stream joins support) emits each
        // result row exactly once, so batches accumulate; update mode emits
        // the CHANGED keys per batch — stamped with the batch id, the
        // accumulated writes form a changelog a compaction view reads back
        // batchTransform runs batch-side INSIDE foreachBatch — the standard
        // serving idiom for logic a streaming plan cannot express (broadcast
        // direction hints, window re-ranks); it sees each micro-batch as a
        // plain DataFrame and stays fully distributed (q260's per-batch ANN
        // serve). Correctness requires the transform be per-row-group local
        // to the batch — here each arriving key is served exactly once, in
        // its arrival batch.
        val write: (DataFrame, Long) => Unit = mode match {
          case "update" => (batch, id) => batchTransform(batch)
            .withColumn("batch_id", lit(id)).write.mode("append").parquet(out)
          case "append" => (batch, _) =>
            batchTransform(batch).write.mode("append").parquet(out)
          case _ => (batch, _) =>
            batchTransform(batch).write.mode("overwrite").parquet(out)
        }
        val q = stream(sourcePath).writeStream
          .outputMode(mode)
          .option("checkpointLocation", s"$scratch/ckpt")
          .foreachBatch(write)
          .start()
        try {
          q.processAllAvailable()
          // each flush phase drops new files into the staged source and
          // drives the resulting DATA batch to completion — a deterministic
          // alternative to racing the trigger's optional no-data batches
          flushPhases.foreach { phase =>
            phase(sourcePath)
            q.processAllAvailable()
          }
        } finally q.stop()
        s.read.parquet(out)
      }
    } finally nanosPrior match {
      case Some(v) => s.conf.set(nanosKey, v)
      case None => s.conf.unset(nanosKey)
    }
  }

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming exact dedup — the continuous-ingest form of q13: documents
    * arrive as files, the running (content_hash → canonical doc, dup count)
    * aggregate updates incrementally (complete mode here so driving the
    * static table to completion equals the batch result; a production
    * pipeline uses update mode into an upsert sink). State is one row per
    * DISTINCT content hash — bounded by corpus novelty, not stream length.
    * Fully oracled: at completion the aggregate is exactly q13's. */
  val streamingDedup: Q = Q(
    "q59_streaming_dedup",
    (s, dir) => streamToArtifact(s, dir, "dedup", "documents",
      p => s.readStream.schema(docsSchema).parquet(p)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("canonical_doc_id"),
          count(lit(1)).as("dup_count"))),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
      count(1) AS dup_count FROM documents GROUP BY md5(text)"""))

  /** Streaming hopping-window aggregation — the streaming form of q81's
    * batch 6h/2h `window()`: counts and values per (window, event_type)
    * maintained incrementally as events arrive, each event folding into its
    * exactly-3 overlapping windows inside the one streaming aggregation.
    * State is one row per open (window, type) — bounded by the watermark
    * horizon (windows older than watermark − 6 h are final), never by
    * stream length. Driving the static table to completion in complete mode
    * equals the batch grid exactly, so the q81 oracle applies verbatim; the
    * per-window double sums follow the same round(sum, 2) contract the
    * batch form relies on (group sizes are window-bounded). */
  val streamingHopping: Q = Q(
    "q94_streaming_hopping",
    (s, dir) => streamToArtifact(s, dir, "hopping", "events", { p =>
      eventsStream(s, p)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours", "2 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("window_value"))
        .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
          col("event_type"), col("n_events"), col("window_value"))
    }),
    // identical to q81's oracle: the epoch-aligned window grid reproduced
    // arithmetically with floor-mod (see EventOps.hoppingWindow)
    Some("""WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
      ), hopped AS (
        SELECT make_timestamp((epoch_us(ts)
                 - ((epoch_us(ts) % 7200000000) + 7200000000) % 7200000000)
                 - k * 7200000000) AS window_start,
               event_type, value
        FROM ev CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) ks
      )
      SELECT window_start,
             window_start + INTERVAL 6 HOUR AS window_end,
             event_type, COUNT(1) AS n_events,
             ROUND(SUM(value), 2) AS window_value
      FROM hopped GROUP BY window_start, event_type"""))

  /** Stream-stream interval join — the Structured Streaming surface none of
    * the other streaming ops exercise: clicks and purchases arrive as TWO
    * unbounded streams, and each purchase joins every click by the same
    * user in the trailing 2 hours. Both sides carry watermarks and the join
    * condition bounds event time on both sides, so Spark can GC join state:
    * a buffered click is droppable once the purchase-side watermark passes
    * click_ts + 2 h — state is horizon-bounded, never stream-length-bounded.
    * Inner interval joins emit rows as matches arrive (no watermark wait),
    * in append mode (the only mode stream-stream joins admit), so batches
    * accumulate in the artifact. Driving the static table to completion
    * equals the batch range join exactly — the oracle is DuckDB's. */
  val streamingIntervalJoin: Q = Q(
    "q101_streaming_interval_join",
    (s, dir) => streamToArtifact(s, dir, "ijoin", "events", { p =>
      def side(): DataFrame = eventsStream(s, p)
      val clicks = side().filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = side().filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"), col("value").as("purchase_value"))
        .withWatermark("purchase_ts", "1 hour")
      clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 2 HOURS"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          col("click_ts"), col("purchase_ts"), col("purchase_value"))
    }, mode = "append"),
    Some("""WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        FROM events
      )
      SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
             c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
      FROM (SELECT * FROM ev WHERE event_type = 'click') c
      JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR"""))

  /** Writes one watermark-advancing sentinel file into the staged stream
    * source: a click and a purchase (negative ids, negative user ids — they
    * can never join real rows) stamped `phase × 10 h` past the corpus
    * horizon, in the table's own physical ts layout. One row per JOIN SIDE,
    * because each side's filter runs before its watermark node — a sentinel
    * only advances the branch that accepts its event_type, and outer-join
    * eviction gates on the MIN of both branch watermarks. */
  private def eventSentinel(s: SparkSession, phase: Int)(stage: String): Unit = {
    import s.implicits._
    val src = s"$stage/events.parquet" // staged link to the real table
    val srcPath = java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(src))
    val probe = if (srcPath) src else stage
    val tsType = s.read.parquet(probe).schema("ts").dataType
    val maxUs = graft.Tables.eventsAt(s, probe)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val tsUs = maxUs + phase.toLong * 10L * 3600L * 1000000L
    val rows = Seq(
      (-(2L * phase + 1), tsUs, -1L, "click", 0.0, "{}"),
      (-(2L * phase + 2), tsUs, -2L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    val withTs = tsType match {
      case TimestampType => rows.withColumn("ts", timestamp_micros(col("ts_us")))
      case TimestampNTZType =>
        // µs → ltz → ntz is the identity under the UTC session timezone every
        // graft entry point pins
        rows.withColumn("ts",
          timestamp_micros(col("ts_us")).cast(TimestampNTZType))
      case LongType => rows.withColumn("ts", col("ts_us") * 1000L) // legacy ns
      case other => sys.error(s"unsupported events.ts layout for sentinel: $other")
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_sentinel")
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val ls = java.nio.file.Files.list(tmp)
      try {
        var found: java.nio.file.Path = null
        ls.iterator().forEachRemaining { f =>
          if (found == null && f.getFileName.toString.endsWith(".parquet"))
            found = f
        }
        require(found != null, s"no parquet part written under $tmp")
        found
      } finally ls.close()
    }
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(s"$stage/sentinel_$phase.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  /** Stream-stream LEFT OUTER interval join — the interval join q101 runs,
    * plus the unmatched-left rows: every click emits, padded when no same-
    * user purchase lands in its trailing 2 h window. Outer emission is the
    * part inner joins never exercise: an unmatched click can only be
    * declared once the join-state watermark proves no matching purchase can
    * still arrive, so rows materialize on WATERMARK PROGRESS, not data
    * arrival. Driving that deterministically is the point of the flush
    * phases: two sentinel files staged after the real data force two more
    * data batches — the first carries the watermark past the corpus horizon,
    * the second runs the eviction pass under it — so the artifact never
    * depends on whether the trigger's optional no-data batch won a race.
    * Sentinels never reach the output: their clicks are either matched
    * (impossible — negative user ids) or evicted past the final watermark
    * (never reached), and the published artifact is filtered by id anyway.
    *
    * The 100 TB shape is q101's: state is horizon-bounded (watermark + 2 h
    * condition bound both buffers), emission is append-mode exactly-once;
    * the unmatched path adds no state — it reuses the same buffered left
    * rows and emits them at GC time. */
  val streamingOuterJoin: Q = Q(
    "q123_streaming_outer_join",
    (s, dir) => streamToArtifact(s, dir, "ojoin", "events", { p =>
      def side(): DataFrame = eventsStream(s, p)
      val clicks = side().filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = side().filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"), col("value").as("purchase_value"))
        .withWatermark("purchase_ts", "1 hour")
      clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 2 HOURS"),
          "leftOuter")
        .select(col("click_id"), col("user_id"), col("click_ts"),
          when(col("purchase_id").isNull, 0).otherwise(1).as("matched"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          coalesce(col("purchase_ts"), to_timestamp(lit("1970-01-01 00:00:00")))
            .as("purchase_ts"),
          coalesce(col("purchase_value"), lit(-1.0d)).as("purchase_value"))
    }, mode = "append",
      flushPhases = Seq(eventSentinel(s, 1) _, eventSentinel(s, 2) _))
      // sentinel rows are excluded on the BATCH read of the published
      // artifact — a filter inside the streaming plan would push below the
      // click-side watermark node and stall it, defeating the sentinel
      .filter(col("click_id") >= 0),
    Some("""WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        FROM events
      )
      SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
             CASE WHEN p.event_id IS NULL THEN 0 ELSE 1 END AS matched,
             COALESCE(p.event_id, -1) AS purchase_id,
             COALESCE(p.ts, TIMESTAMP '1970-01-01 00:00:00') AS purchase_ts,
             COALESCE(p.value, -1.0) AS purchase_value
      FROM (SELECT * FROM ev WHERE event_type = 'click') c
      LEFT JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR"""))

  /** Update-mode changelog capture + compaction — the upsert-sink pattern
    * every streaming feature/session store runs (a Kafka compacted topic, a
    * CDC MERGE target): a running per-user aggregate emits only the keys
    * each micro-batch CHANGED, the foreachBatch sink appends those rows
    * stamped with the batch id, and the store is the compaction view —
    * latest changelog row per key. The source is re-staged as four data
    * files with maxFilesPerTrigger=1, so the drive-to-completion run
    * executes four REAL micro-batches and keys genuinely update across
    * batches (a single-file source would collapse to one batch and never
    * exercise the upsert path; StreamingSpec pins the multi-batch history).
    *
    * Correctness is batch-slicing-independent by construction: the last
    * update for a key reflects its full aggregate no matter how files were
    * sliced or ordered, so the compaction view equals the batch GROUP BY —
    * the oracle. State is one row per user (bounded by key cardinality, not
    * stream length); the changelog is wire-efficient — per batch it moves
    * only changed keys, the 100 TB/day upsert shape. */
  /** The q129 changelog itself (user_id, aggs, batch_id) — exposed so the
    * spec can pin that the drive really produced a multi-batch history. */
  private[graft] def upsertLog(s: SparkSession, dir: String): DataFrame =
    streamToArtifact(s, dir, "upsert", "events", { p =>
      eventsStream(s, p, Map("maxFilesPerTrigger" -> "1"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"),
          max(col("ts")).as("last_ts"))
    }, mode = "update", splitSourceFiles = 4)

  val streamingUpsert: Q = Q(
    "q129_streaming_upsert",
    (s, dir) => {
      val log = upsertLog(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("batch_id").desc)
      log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("n_events"), col("value_cents"), col("last_ts"))
    },
    Some("""SELECT user_id, COUNT(1) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           MAX(CAST(ts AS TIMESTAMP)) AS last_ts
      FROM events GROUP BY user_id"""))

  // ---- q112: streaming per-key ingestion quota -----------------------------
  /** Default q112 quota: events admitted per (user, UTC day). */
  private val quotaPerDay = 3

  final case class QEv(user_id: Long, day: Long, ts_us: Long,
      event_type: String, value: Double, ts_t: java.sql.Timestamp)
  final case class QuotaOut(user_id: Long, day: Long, ts_us: Long,
      event_type: String, value: Double, rank_in_quota: Long)

  /** Streaming per-(user, day) ingestion quota — the online rate-limit /
    * sampling-cap primitive a continuous training-data intake runs in front
    * of expensive downstream stages: admit at most N events per user per UTC
    * day, deny the rest, FIRST-COME-FIRST-SERVED.
    *
    * The state story is the point: where a top-N-per-key operator must hold
    * N candidate rows per key and wait for the day to close, a quota is
    * greedy by definition — so state is ONE COUNTER per open (user, day),
    * emission is immediate (append mode, no watermark wait), and the
    * counter is GC'd by event-time timeout once the watermark passes its
    * day's end. O(1) state per key, horizon-bounded key count: the 100 TB/
    * day shape.
    *
    * Determinism contract: within a micro-batch a key's events are admitted
    * in (ts, event_type, value) order; rows below the watermark are dropped
    * (the aggregation-path late rule). Across batches admission is greedy —
    * an event can consume quota that a later-arriving, earlier-timestamped
    * (but still admissible) event "deserved"; that is what first-come-
    * first-served means, and StreamingSpec pins it with a two-batch case.
    * Driving the whole static table to completion is a single batch, where
    * greedy == global (ts, event_type, value) order — exactly the batch
    * ROW_NUMBER() ≤ N oracle. */
  def statefulQuota(spark: SparkSession, path: String, quotaN: Int = quotaPerDay,
      readerOptions: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
    import spark.implicits._
    val ev = eventsStream(spark, path, readerOptions)
      .withColumn("ts_t", col("ts"))
      .withWatermark("ts_t", "1 hour")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"),
        col("ts_t")).as[QEv]
    def fn(key: (Long, Long), rows: Iterator[QEv],
        state: GroupState[Long]): Iterator[QuotaOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val wmMs = state.getCurrentWatermarkMs()
        val admitted = state.getOption.getOrElse(0L)
        val sorted = rows.filter(_.ts_us >= wmMs * 1000L).toArray
          .sortBy(e => (e.ts_us, e.event_type, e.value))
        val take = sorted.take(math.max(0L, quotaN - admitted).toInt)
        state.update(admitted + take.length)
        // the counter stays (denials must keep counting) until no
        // admissible event can target this day: watermark past day end
        state.setTimeoutTimestamp(math.max((key._2 + 1) * 86400000L, wmMs + 1))
        take.iterator.zipWithIndex.map { case (e, i) =>
          QuotaOut(e.user_id, e.day, e.ts_us, e.event_type, e.value,
            admitted + i + 1)
        }
      }
    }
    ev.groupByKey(e => (e.user_id, e.day))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
      .toDF()
      .select(col("user_id"),
        expr("DATE_ADD(DATE '1970-01-01', CAST(day AS INT))").as("day"),
        timestamp_micros(col("ts_us")).as("ts"),
        col("event_type"), col("value"), col("rank_in_quota"))
  }

  val streamingQuota: Q = Q(
    "q112_streaming_quota",
    (s, dir) => streamToArtifact(s, dir, "quota", "events",
      p => statefulQuota(s, p), mode = "append"),
    Some(s"""WITH r AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(ts AS TIMESTAMP) AS ts, event_type, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
                 ORDER BY CAST(ts AS TIMESTAMP), event_type, value)
                 AS rank_in_quota
        FROM events
      )
      SELECT user_id, day, ts, event_type, value,
             CAST(rank_in_quota AS BIGINT) AS rank_in_quota
      FROM r WHERE rank_in_quota <= $quotaPerDay"""))

  /** Stream-static enrichment join — the one Structured Streaming join shape
    * the other streaming ops don't cover: an unbounded event stream joined
    * per micro-batch against a STATIC dimension (user → market segment),
    * then a watermarked tumbling-window aggregate per (window, segment).
    * The join is stateless by construction — the static side is planned
    * like any batch relation each micro-batch (broadcast at dim scale), so
    * NO join state accumulates; only the windowed aggregate holds state,
    * bounded by the watermark horizon. This is the canonical production
    * enrichment topology (clickstream × user dim) at 100 TB/day. Driving
    * the static events table to completion in complete mode equals the
    * batch join+aggregate exactly — the oracle is DuckDB's. */
  val streamingEnrich: Q = Q(
    "q118_streaming_enrich",
    (s, dir) => streamToArtifact(s, dir, "enrich", "events", { p =>
      val dim = graft.Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      eventsStream(s, p)
        .withWatermark("ts", "1 hour")
        .join(dim, Seq("user_id"), "left")
        .groupBy(window(col("ts"), "6 hours").as("w"),
          coalesce(col("segment"), lit("unknown")).as("segment"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("seg_value"))
        .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
          col("segment"), col("n_events"), col("seg_value"))
    }),
    // q94's epoch-aligned grid arithmetic, single 6 h tumbling window
    Some("""WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events
      ), dim AS (
        SELECT c_custkey AS user_id, c_mktsegment AS segment FROM customer
      ), e2 AS (
        SELECT make_timestamp(epoch_us(ts)
                 - ((epoch_us(ts) % 21600000000) + 21600000000) % 21600000000)
                 AS window_start,
               COALESCE(d.segment, 'unknown') AS segment, value
        FROM ev LEFT JOIN dim d USING (user_id)
      )
      SELECT window_start, window_start + INTERVAL 6 HOUR AS window_end,
             segment, COUNT(1) AS n_events, ROUND(SUM(value), 2) AS seg_value
      FROM e2 GROUP BY window_start, segment"""))

  /** Bounded-state streaming dedup — `dropDuplicatesWithinWatermark`, the
    * operator q59's exact dedup deliberately is not: q59's state grows with
    * corpus novelty forever, while here a key's dedup state lives only until
    * the watermark passes its event time + delay, so state is bounded by the
    * KEY ARRIVAL RATE × HORIZON no matter how long the stream runs — the
    * only admissible shape for an unbounded 100 TB/day feed. The cost is the
    * documented semantics change: a duplicate arriving after its
    * first-seen's state was evicted is re-admitted (StreamingSpec pins
    * exactly that eviction behavior on a crafted two-phase source).
    *
    * Here the source is re-staged as 4 files with maxFilesPerTrigger=1, so
    * duplicates genuinely straddle micro-batch boundaries (~20% of
    * (user, type, day) keys repeat); the 90-day delay exceeds the corpus's
    * 30-day span, so no replay order can drop a row as late and completion
    * equals the batch DISTINCT — the oracle. Emitted columns are the key
    * alone: which physical row survives is arrival-order-dependent, the key
    * set is not. */
  /** The q132 stream shape, parameterized by watermark delay so the spec can
    * drive the EVICTION path on a crafted short-horizon source. */
  private[graft] def wmDedupStream(s: SparkSession, path: String,
      delay: String,
      readerOptions: Map[String, String] = Map.empty): DataFrame =
    eventsStream(s, path, readerOptions)
      .withWatermark("ts", delay)
      .select(col("ts"), col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
      .select(col("user_id"), col("event_type"), col("day"))

  val streamingWmDedup: Q = Q(
    "q132_streaming_wm_dedup",
    (s, dir) => streamToArtifact(s, dir, "wmdedup", "events",
      p => wmDedupStream(s, p, "90 days", Map("maxFilesPerTrigger" -> "1")),
      mode = "append", splitSourceFiles = 4),
    Some("""SELECT DISTINCT user_id, event_type,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events"""))

  /** q212: the streaming form of q210's intra-day duplicate-delivery rate.
    * The STATEFUL half — the (day, user, type, value) identity ledger with
    * per-identity delivery counts — runs as one incremental streaming
    * aggregation (state = one row per live identity tuple; the continuous
    * analog adds a day-grain watermark so identities age out after their
    * day closes). The day-grain roll-up (Σk, Σ(k−1)) is a STATELESS
    * projection of that ledger and runs batch-side over the published
    * artifact — the standard two-tier shape for chained aggregates, and
    * why the batch q210 oracle applies verbatim. splitSourceFiles forces
    * real multi-batch state updates (an identity delivered in batch 1 and
    * again in batch 3 must count 2, not appear twice). */
  val streamingDupRate: Q = Q(
    "q212_streaming_dup_rate",
    (s, dir) => {
      val ledger = streamToArtifact(s, dir, "dup_ledger", "events",
        p => eventsStream(s, p)
          .select(date_trunc("day", col("ts")).as("day"),
            col("user_id"), col("event_type"), col("value"))
          .groupBy("day", "user_id", "event_type", "value")
          .agg(count(lit(1)).as("k")),
        splitSourceFiles = 4)
      ledger.groupBy("day")
        .agg(sum("k").as("n_events"),
          sum(col("k") - 1L).as("n_dups"),
          count(lit(1)).as("n_identities"))
        .select(col("day"), col("n_events"), col("n_dups"), col("n_identities"),
          (col("n_dups").cast("double") / col("n_events").cast("double"))
            .as("dup_frac"))
    },
    // q210's oracle verbatim: driving the static table to completion makes
    // the streaming ledger exactly the batch identity table
    graft.ops.EventOps.intradayDupRate.oracle)

  /** Streaming MinHash-LSH collision registry — the continuous-ingest form
    * of q15's band join: documents arrive as files, each doc's 16-minhash
    * signature and 4 band hashes are computed ROW-LOCALLY (HOF fold over
    * the doc's own shingles — no relational aggregate, so the plan stays a
    * single streaming aggregation, which is the only shape Structured
    * Streaming allows), and the running (band → first doc, member count)
    * registry updates incrementally. A new document whose band hash is
    * already registered is a near-dup suspect the moment it lands — the
    * online dedup gate in front of an ingest pipeline. Only colliding
    * bands (n_docs ≥ 2) are emitted; state is one row per distinct band
    * hash (corpus-novelty-bounded, like q59's content-hash state; a
    * production deployment ages bands out with a TTL'd state store).
    *
    * The hash family is BIT-IDENTICAL to the batch q15 ([[graft.ops.Dedup]]
    * sigsOf: mh_i = lexicographic min of md5("i|" + shingle); band hash =
    * md5(mh concat) — array_min over the same md5 strings picks the same
    * min), so at completion the registry equals the batch band table's
    * collision groups and the q15-family oracle applies. The source splits
    * into 4 real micro-batches so cross-batch registry updates are
    * exercised on real keys, and the aggregate is order-independent (min +
    * count), so batch discovery order cannot change the answer. */
  val streamingLshRegistry: Q = Q(
    "q236_streaming_lsh_registry",
    (s, dir) => streamToArtifact(s, dir, "lshreg", "documents", { p =>
      val mh = (0 until 16).map(i => expr(
        s"array_min(transform(ngrams, g -> md5(concat('$i', '|', g))))").as(s"mh$i"))
      val sigs = s.readStream.schema(docsSchema).parquet(p)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .filter(size(col("words")) >= 3)
        .withColumn("ngrams", expr(
          """array_distinct(transform(sequence(0, size(words) - 3),
             i -> concat(words[i], ' ', words[i + 1], ' ', words[i + 2])))"""))
        .select((col("doc_id") +: mh): _*)
      val bandCols = (0 until 4).map { b =>
        struct(lit(b.toLong).as("band_idx"),
          md5(concat_ws("|", (b * 4 until (b + 1) * 4)
            .map(i => col(s"mh$i")): _*)).as("band_hash"))
      }
      sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band_idx").as("band_idx"),
          col("bk.band_hash").as("band_hash"))
        .groupBy("band_idx", "band_hash")
        .agg(min("doc_id").as("first_doc_id"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
    }, splitSourceFiles = 4),
    Some(s"""WITH ${graft.ops.Dedup.sigCtesSql}
      SELECT CAST(band_idx AS BIGINT) AS band_idx, band_hash,
             CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
             CAST(count(1) AS BIGINT) AS n_docs
      FROM bands GROUP BY band_idx, band_hash
      HAVING count(1) >= 2"""))

  /** Streaming HyperLogLog register maintenance — the continuous form of
    * q240: events arrive as 4 real micro-batches, each row contributes its
    * (type, bucket, rank) ROW-LOCALLY through the shared
    * [[graft.ops.EventOps.hllRowTerms]] decomposition, and the running
    * register table is ONE streaming max-aggregation — the ideal
    * streaming-state shape (|types|·256 rows of state, forever, regardless
    * of stream volume; max() is order- and duplicate-insensitive, so batch
    * arrival order cannot change the registers). The published artifact
    * then rolls up to the per-type estimate through the same batch stage
    * as q240, so at completion the streaming registry provably equals the
    * batch sketch — which is exactly what the shared oracle CTEs check.
    * This is live dashboard cardinality ("distinct daily-active users
    * right now") without ever storing a distinct-key set. */
  val streamingHll: Q = Q(
    "q244_streaming_hll",
    (s, dir) => {
      val regs = streamToArtifact(s, dir, "hllreg", "events",
        p => graft.ops.EventOps.hllRowTerms(eventsStream(s, p))
          .groupBy("event_type", "bucket").agg(max("rank").as("m")),
        splitSourceFiles = 4)
      graft.ops.EventOps.hllEstimateFromRegs(s, regs)
    },
    Some(s"""WITH ${graft.ops.EventOps.hllOracleCtes}
      SELECT s.event_type, n_active, max_rank, hll_raw,
             ${graft.ops.EventOps.hllEstimateCaseSql} AS hll_estimate
      FROM staged s LEFT JOIN lc USING (v_empty)"""))

  /** q248: STREAMING count-min register maintenance — the production shape
    * of q78's sketch: the (d, bucket) → count counter table is maintained
    * as a complete-mode streaming aggregation over real micro-batches
    * (events split into 4 source files), then the batch estimate/verify
    * tail runs off the materialized registers. The counter update is a
    * commutative count — batch-order-independent by construction — so the
    * streamed registers are bit-identical to q78's batch registers, and
    * the whole query shares q78's oracle verbatim. Stage sharing with the
    * batch path ([[graft.ops.Analytics.cmItemsOf]]/`cmCounters`/`cmReport`)
    * is what makes the parity a property of the code, not a coincidence —
    * the q244 HLL pattern applied to the second classic mergeable sketch. */
  val streamingCountMin: Q = Q(
    "q248_streaming_countmin",
    (s, dir) => {
      val counters = streamToArtifact(s, dir, "cmreg", "events",
        p => graft.ops.Analytics.cmCounters(
          graft.ops.Analytics.cmItemsOf(eventsStream(s, p))),
        splitSourceFiles = 4)
      graft.ops.Analytics.cmReport(
        graft.ops.Analytics.cmItemsOf(graft.Tables.events(s, dir)), counters)
    },
    graft.ops.Analytics.countMin.oracle)

  /** q254: STREAMING KMV sketch maintenance — the third classic mergeable
    * sketch brought to streaming parity (HLL q244, count-min q248, KMV
    * here), completing the batch/streaming sketch matrix. The per-type
    * k-minimum-values state is maintained by the SAME custom Catalyst
    * [[graft.functions.KmvMinSet]] TypedImperativeAggregate as batch q241,
    * running inside a complete-mode streaming aggregation over 4 real
    * micro-batches: Spark's state store carries the ≤ k·8-byte serialized
    * buffer per event type, and each micro-batch flows through the
    * aggregate's own update/merge — the exact code path a production
    * always-on cardinality dashboard runs. Because the sketch is a pure
    * function of the input SET (order- and duplicate-insensitive by
    * construction), the streamed registry is bit-identical to the batch
    * sketch, so the estimate/audit tail and the DuckDB oracle are shared
    * with q241 verbatim — the parity is a property of the shared stage
    * code, not a coincidence. */
  val streamingKmv: Q = Q(
    "q254_streaming_kmv",
    (s, dir) => {
      val sk = streamToArtifact(s, dir, "kmvreg", "events",
        p => graft.ops.EventOps.kmvSketchOf(s,
          graft.ops.EventOps.kmvItemsOf(eventsStream(s, p))),
        splitSourceFiles = 4)
      graft.ops.EventOps.kmvReport(s, sk, dir)
    },
    graft.ops.EventOps.kmvOracle)

  /** q263: STREAMING PRIORITY SAMPLE maintenance — the fourth classic
    * mergeable summary brought to batch↔stream parity (HLL q244, count-min
    * q248, KMV q254, weighted sample here): a global
    * [[graft.functions.PriorityTopK]] TypedImperativeAggregate — the
    * Duffield–Lund–Thorup priority sample's bounded state, ≤ (K+1)·16
    * bytes TOTAL — maintained as a complete-mode streaming aggregation
    * over 4 real micro-batches, then the sample/estimate tail (τ
    * threshold, ŵ = max(w, τ) inverse-probability estimates, accuracy
    * audit) runs off the materialized summary. Because the held set is a
    * pure function of the input SET under (pri DESC, id ASC) — batch
    * slicing, arrival order and merge shape cannot change a set's top-K —
    * the streamed summary is bit-identical to the batch aggregate, and the
    * DuckDB oracle replays the identical integer arithmetic directly over
    * events. This is the always-on "keep a trustworthy weighted sample of
    * the firehose" operator: estimates of any value-subset total stay
    * available at O(K) cost while the stream is unbounded. */
  val streamingPrioritySample: Q = Q(
    "q263_streaming_priority_sample",
    (s, dir) => {
      val sk = streamToArtifact(s, dir, "psamp", "events",
        p => graft.ops.EventOps.psSketchOf(s,
          graft.ops.EventOps.psItemsOf(eventsStream(s, p))),
        splitSourceFiles = 4)
      graft.ops.EventOps.psReport(s, sk, dir)
    },
    graft.ops.EventOps.psOracle)

  /** q269: STREAMING QUANTILE-SAMPLE maintenance — the FIFTH classic
    * mergeable summary brought to batch↔stream parity (HLL q244, count-min
    * q248, KMV q254, priority sample q263, quantile sketch here): the
    * sample-based quantile summary (the bottom-k-by-uniform-hash sample
    * q247 profiles with) is maintained as ONE global
    * [[graft.functions.PriorityTopK]] row (pri = 2^48 − hash, so the held
    * set IS the bottom-k by hash — ≤ k·16 bytes of state forever) inside a
    * complete-mode streaming aggregation over 4 real micro-batches, then
    * the estimate tail — q247's estimator/audit stages VERBATIM via
    * [[graft.ops.Analytics.quantileAuditOf]] — runs off the materialized
    * summary: per-mille quantile estimates of the document-length
    * distribution with the exact rank-band/DKW audit. Because the held set
    * is a pure function of the input SET under (pri DESC, id ASC), batch
    * slicing and arrival order cannot change it, so the streamed summary
    * is bit-identical to the batch sample and the DuckDB oracle replays
    * the identical selection directly. This is the always-on "live
    * length-distribution dashboard" operator: any quantile of an unbounded
    * stream stays available at O(k) cost, with the estimator's error
    * audited exactly at test scale. */
  val streamingSampleQuantiles: Q = Q(
    "q269_streaming_sample_quantiles",
    (s, dir) => {
      val sk = streamToArtifact(s, dir, "squant", "documents",
        p => graft.ops.Analytics.sqsSketchOf(s,
          graft.ops.Analytics.sqsItemsOf(
            s.readStream.schema(docsSchema).parquet(p))),
        splitSourceFiles = 4)
      graft.ops.Analytics.sqsReport(s, sk, dir)
    },
    graft.ops.Analytics.sqsOracle)

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** q260: STREAMING ANN serving — the query path the streaming similarity
    * stack was missing (q236 maintains the collision REGISTRY; this SERVES
    * top-k): query vectors arrive as 4 real micro-batches (vec_id % 50 = 0,
    * q19's exact query population), and each micro-batch is served through
    * [[graft.ops.Similarity.lshServeBatch]] — q19's physical plan verbatim
    * (band the arriving queries, multi-probe Hamming ≤ 2, broadcast the
    * banded micro-batch against the static corpus band index, exact cosine
    * re-rank to top-5) inside foreachBatch. Every query is answered entirely
    * within its arrival batch, so the appended outputs are batch-order-
    * independent and their union equals q19's batch answer over the same
    * query set — q19's oracle applies VERBATIM, and StreamingSpec pins
    * streamed ≡ batch row-for-row. foreachBatch rather than a naive
    * stream-static join because serving needs the broadcast DIRECTION pinned
    * (the tiny query batch moves; the corpus index stays put) and a
    * per-query row_number re-rank — both batch-only constructs; a
    * stream-static join would re-plan the corpus side per batch as the
    * build side and could not rank inside candidates. */
  val streamingAnnProbe: Q = Q(
    "q260_streaming_ann_probe",
    (s, dir) => streamToArtifact(s, dir, "annprobe", "embeddings", { p =>
      s.readStream.schema(embSchema).parquet(p)
        .filter(col("vec_id") % graft.ops.Similarity.queryMod === 0)
    }, mode = "append",
      // foreachBatch hands each micro-batch on a CLONED SparkSession; build
      // the serve plan on that session (b.sparkSession), not the outer one —
      // vec_dot/vec_band_keys registrations on the outer session do not
      // propagate to a clone created before the batch ran
      batchTransform = b =>
        graft.ops.Similarity.lshServeBatch(b.sparkSession, dir, b),
      splitSourceFiles = 4),
    graft.ops.Similarity.knnLsh.oracle)

  /** q268: STREAMING SHINGLE-BLOCKING REGISTRY + Fellegi–Sunter linkage —
    * the piece that completes the streaming dedup story end-to-end (q236
    * maintains the LSH band registry; this maintains the EXACT rare-shingle
    * blocking index q14/q87/q259/q262 all candidate from, then scores the
    * collision pairs with q262's decision model). The streamed state is one
    * row per distinct shingle holding (count, the ≤ maxDf+1 SMALLEST
    * doc_ids) via the [[graft.functions.KmvMinArray]]
    * TypedImperativeAggregate — the same bounded-buffer discipline as the
    * sketch matrix (HLL/count-min/KMV/priority), ≤ (maxDf+2)·8 bytes per
    * shingle regardless of how hot the shingle runs. The bound is EXACT,
    * not approximate: a shingle that ends with df ≤ maxDf has ALL its
    * doc_ids among its maxDf+1 smallest (a set's k smallest are a pure
    * function of the set — arrival order and batch slicing cannot change
    * them), and a shingle past maxDf is a stop-shingle the blocker drops
    * anyway, so the registry tail re-derives the batch rare index
    * bit-for-bit through the SAME [[graft.ops.Dedup.cappedRareOf]] code
    * path (per-doc budget included). Candidates and the full likelihood
    * scoring then run through q262's shared stages — batch ≡ streamed is
    * a property of the shared code, and the q262 oracle applies VERBATIM.
    * In production the registry is the always-on piece (new docs probe it
    * per micro-batch; state TTLs by corpus retention) while the m/u fit
    * replays periodically — exactly this split. */
  val streamingFsLinkage: Q = Q(
    "q268_streaming_fs_linkage",
    (s, dir) => graft.ops.Dedup.fsScoreOf(s, dir, registryCandidates(s, dir)),
    graft.ops.Dedup.fsLinkage.oracle)

  /** q268's candidate pairs: the streamed shingle registry, its rare
    * postings recovered from the exact min-sets, then the batch blocker's
    * budget and candidate stages — the frame q268 hands to
    * [[graft.ops.Dedup.fsScoreOf]] in place of
    * [[graft.ops.Dedup.linkageCandidates]]. */
  private[graft] def registryCandidates(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val k = graft.ops.Dedup.maxDf + 1
    val registry = streamToArtifact(s, dir, "shingreg", "documents",
      p => s.readStream.schema(docsSchema).parquet(p)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"), explode(expr(
          """array_distinct(transform(sequence(0, size(words) - 3),
             i -> concat(words[i], ' ', words[i + 1], ' ', words[i + 2])))"""))
          .as("ngram"))
        .groupBy("ngram")
        .agg(count(lit(1)).as("df"), expr(s"kmv_minarray(doc_id, $k)").as("mins")),
      splitSourceFiles = 4)
    // tail (batch, off the materialized registry): stop-shingles out,
    // postings back from the exact min-sets, then the SHARED budgeted
    // blocker + candidate stages — q262's plan from here on
    val postings = registry
      .filter(col("df") >= 2 && col("df") <= graft.ops.Dedup.maxDf)
      .select(explode(col("mins")).as("doc_id"), col("ngram"))
    graft.ops.Dedup.candidatesFrom(graft.ops.Dedup.cappedRareOf(postings))
  }

  /** q281: STREAMING k-means assignment — the serving path of the q277
    * family (q277 fits offline; q278/q279 consume the fit batch-side; this
    * assigns ARRIVING vectors), completing batch ≡ stream for the
    * clustering stack the way q268 did for linkage and q269 for quantile
    * samples. The model is the production-shaped offline artifact: the fit
    * runs ONCE before the stream starts (the driver-held kmK×64 integer
    * centroid table), then each of 4 real micro-batches is assigned inside
    * foreachBatch through [[graft.ops.Similarity.kmAssign]] — the
    * IDENTICAL quantization + broadcast-centroid argmin code path the
    * batch queries use (on the per-batch cloned session, the q260 lesson).
    * Assignment is row-local given the centroids, so arrival batching
    * cannot change any row and the appended outputs union to exactly the
    * batch assignment — the oracle is the batch replay VERBATIM
    * ([[graft.ops.Similarity.kmeansAssignOracle]]). In production this is
    * the always-on router that tags incoming documents with their cluster
    * (feeding q278's balanced reservoirs per cell) while the fit replays
    * periodically — exactly this split. */
  val streamingKmeansAssign: Q = Q(
    "q281_streaming_kmeans_assign",
    (s, dir) => {
      val cents = graft.ops.Similarity.kmFit(s, dir)._1
      streamToArtifact(s, dir, "kmassign", "embeddings", { p =>
        s.readStream.schema(embSchema).parquet(p)
      }, mode = "append",
        batchTransform = b =>
          graft.ops.Similarity.kmAssign(b.sparkSession,
              graft.ops.Similarity.kmXqOf(b), cents)
            .select(col("vec_id"), col("label"),
              col("cid").as("cluster_id"), col("mind2").as("mind2q")),
        splitSourceFiles = 4)
    },
    Some(graft.ops.Similarity.kmeansAssignOracle))

  /** q289: streaming span-grain decontamination gate — q286 as the
    * always-on INGEST check (the production placement: benchmark overlap
    * is caught when a document ARRIVES, not in a quarterly batch sweep):
    * arriving documents stream through the q286 span chain VERBATIM
    * (`Dedup.decontamSpansOf` over `esKgramsOf` of each micro-batch,
    * train slice only) against the STATIC eval gram set. A document's
    * spans depend only on its own text and that static set — row-local
    * at doc granularity — so arrival batching provably cannot change any
    * output row and the appended micro-batches union to exactly the
    * batch q286 table; the oracle is q286's verbatim (the q281
    * batch-replay contract). Per-batch state: none (the gate is
    * stateless); the static side is the size-guarded eval gram set
    * (broadcast while provably small — [[graft.ops.SizeGuard]] — probed
    * once at stream setup). */
  val streamingDecontamGate: Q = Q(
    "q289_streaming_decontam_gate",
    (s, dir) => {
      val evalGrams = graft.ops.Dedup.evalGramSet(s, dir)
      streamToArtifact(s, dir, "decontam", "documents", { p =>
        s.readStream.schema(docsSchema).parquet(p)
      }, mode = "append",
        batchTransform = b =>
          graft.ops.Dedup.decontamSpansOf(
            graft.ops.Dedup.esKgramsOf(graft.ops.Dedup.trainSliceOf(b)),
            evalGrams),
        splitSourceFiles = 4)
    },
    Some(graft.ops.Dedup.decontamSpans.oracle.get))

  val all: Seq[Q] =
    Seq(streamingSessions, streamingDedup, streamingHopping,
      streamingIntervalJoin, streamingOuterJoin, streamingQuota,
      streamingEnrich, streamingUpsert, streamingWmDedup, streamingDupRate,
      streamingLshRegistry, streamingHll, streamingCountMin, streamingKmv,
      streamingAnnProbe, streamingPrioritySample, streamingFsLinkage,
      streamingSampleQuantiles, streamingKmeansAssign, streamingDecontamGate)
}
