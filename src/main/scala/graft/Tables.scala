package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided testdata tables (see TESTDATA.md) and
  * the repo DAG's materialized assets ([[graft.pipelines.Repo]]): one
  * catalog for every parquet read.
  *
  * All reads are plain parquet scans so Catalyst predicate pushdown / column
  * pruning reach the file source; callers must NOT cache or collect here.
  */
object Tables {

  /** Memoized analyzed relation per (session, path) — the catalog analog.
    *
    * Every `spark.read.parquet` call pays a file listing plus a footer
    * schema read on the driver (~40–100 ms warm at local scale, worse on an
    * object store), and the bench/verify drivers construct every registered
    * query's plan from scratch on every pass — measured at sf0.1: plan
    * CONSTRUCTION was ~29% of suite wall clock, most of it these repeated
    * reads. A production engine resolves tables through a catalog that
    * already holds the schema; this memo is that catalog. Only the analyzed
    * relation (schema + file index) is reused — NO DATA is cached; every
    * execution still scans the parquet files.
    *
    * Staleness: keyed by the same file-metadata fingerprint (size + mtime
    * walk) PlanCache uses, so a regenerated file under the same path
    * misses and re-reads. Entries of stopped sessions are dropped on each
    * miss so long-lived JVMs stay bounded by live sessions × tables. */
  private val relCache = new scala.collection.concurrent.TrieMap[
    (SparkSession, String), (Long, DataFrame)]()

  private def memoized(spark: SparkSession, path: String)
      (read: => DataFrame): DataFrame = {
    // sessions graft did not build (a benchmark's, a user's) get the rule
    // on their first read
    LocalAggregate.install(spark)
    val fp = ops.Artifacts.fingerprint(spark, path)
    // sweep stopped-session entries on EVERY probe, not only on misses
    // (ADVICE r18): in a hit-only steady state a long-lived JVM would
    // otherwise hold strong references to stopped SparkSessions and their
    // analyzed frames forever — PlanCache.hit's discipline, applied here
    relCache.filterInPlace { case ((sess, _), _) =>
      !sess.sparkContext.isStopped }
    relCache.get((spark, path)) match {
      case Some((f, df)) if f == fp => df
      case _ =>
        val df = read
        relCache.put((spark, path), (fp, df))
        df
    }
  }

  /** The memoized parquet relation at `path`: a testdata table or a
    * materialized [[graft.pipelines.Repo]] asset. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    memoized(spark, path)(spark.read.parquet(path))

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** events.parquet's `ts` column has shipped in two physical layouts across
    * testdata generations: INT64 TIMESTAMP(MICROS) (current — reads natively
    * as TimestampType) and INT64 TIMESTAMP(NANOS) (legacy — Spark's
    * vectorized reader rejects it, so we read nanos as long under
    * `nanosAsLong` and truncate with integer division; ns epochs exceed 2^53
    * so double math would corrupt them). Branch on the ACTUAL type the scan
    * yields rather than pinning either layout, and fail loudly on anything
    * else — a silent misread here corrupts every event-time query downstream
    * (the exact failure mode of schema drift on a 100 TB lake). All events
    * reads (batch, Repo DAG stages, staged copies) must route through
    * here or [[eventsAt]]; streaming readers probe the same contract via
    * [[graft.streaming.StreamingSessions]]. */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsAt(spark, s"$dir/events.parquet")

  /** [[events]] for an explicit parquet path (staged copies, derived dirs).
    *
    * The current testdata generation stores TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which Spark's NTZ inference surfaces as
    * TimestampNTZType; cast it to TimestampType so every downstream
    * event-time expression (unix_timestamp, window, session_window, interval
    * arithmetic) sees one type. All graft entry points pin
    * `spark.sql.session.timeZone=UTC`, making that cast a value-preserving
    * reinterpretation — the same instants DuckDB sees reading the file
    * natively. */
  def eventsAt(spark: SparkSession, path: String): DataFrame =
    memoized(spark, path) {
      // harmless for MICROS files; required before the scan for NANOS files
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(path)
      normalizeTs(df, df.schema("ts").dataType, path)
    }

  /** The ONE enumeration of supported `ts` physical layouts → TimestampType.
    * Batch ([[eventsAt]]) and streaming
    * ([[graft.streaming.StreamingSessions]]'s eventsStream) readers both
    * delegate here, so the next testdata layout change lands in exactly one
    * match — two hand-kept copies of this branch is how batch and streaming
    * semantics drift apart (the r8 outage class). */
  private[graft] def normalizeTs(df: DataFrame,
      tsType: org.apache.spark.sql.types.DataType, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    tsType match {
      case TimestampType => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => throw new IllegalStateException(
        s"events.ts layout changed: got $other at $path (supported: " +
          "TIMESTAMP(MICROS) utc/ntz natively, INT64 NANOS via nanosAsLong)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
