package graft.pipelines

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.extract.PlanLineage
import graft.model._

/** The reference's 12-script repo re-expressed as a staged asset DAG: each
  * "script" reads raw tables and/or upstream assets and writes one asset under
  * a bronze/silver/gold/delta/curated layout — the same writer→reader topology
  * as /root/reference/outputs/repo_graph.json (11 cross-script links), but with
  * every stage an executable Spark pipeline over the driver testdata.
  *
  * `materialize` runs the DAG (writing parquet per asset, partitioned where the
  * reference partitions); `lineage` re-binds every stage to its upstream assets
  * and extracts plan-based column lineage (PlanLineage) — the driver values
  * that edges, stitching, the column graph and the Q&A knowledge base
  * ([[graft.qa.QA.Kb]]) derive from. Every stage reads through
  * [[graft.Tables]], so a warm extraction only analyzes plans: it runs no
  * Spark job. That analysis is driver time, per stage and independent
  * across stages (only stitching relates them), so `lineage` extracts the
  * stages in parallel, on a pool each call creates and shuts down.
  */
object Repo {

  final case class Stage(
      script: String,
      writeAsset: String,
      partitionBy: Seq[String],
      sqlBlocks: Seq[String],
      build: (SparkSession, String => DataFrame) => DataFrame)

  /** Logical asset name → its relation, read through [[graft.Tables]]'
    * fingerprint-keyed catalog: "raw/<table>" is the sf dir's table (events
    * through its layout-adaptive reader), anything else the materialized
    * repo's asset. A warm read repeats no schema inference. */
  private def reader(s: SparkSession, sfDir: String, repoDir: String)(asset: String): DataFrame =
    asset.split("/", 2) match {
      case Array("raw", "events") => graft.Tables.events(s, sfDir)
      case Array("raw", t) => graft.Tables.table(s, sfDir, t)
      case _ => graft.Tables.parquet(s, s"$repoDir/$asset")
    }

  private val dimProductSql =
    """WITH typed AS (
      SELECT CAST(p_partkey AS STRING) AS product_id,
             TRIM(LOWER(p_type)) AS category,
             UPPER(p_brand) AS brand,
             CAST(p_retailprice AS DOUBLE) AS price,
             CAST(p_size AS INT) AS size
      FROM raw_part
    )
    SELECT product_id, category, brand, price, size,
           ROUND(price * 0.8, 4) AS cost,
           ROUND(price - price * 0.8, 4) AS unit_margin,
           CASE WHEN price >= 1500 THEN 'premium' WHEN price >= 1000 THEN 'standard' ELSE 'value' END AS price_band
    FROM typed"""

  private val martSql =
    """WITH daily AS (
      SELECT f.o_custkey AS customer_id, f.order_date,
             ROUND(SUM(f.amount), 2) AS daily_spend,
             COUNT(1) AS orders_n
      FROM fact_orders_enriched f GROUP BY f.o_custkey, f.order_date
    ), cust AS (
      SELECT customer_id,
             ROUND(SUM(daily_spend), 2) AS total_spend,
             CAST(SUM(orders_n) AS BIGINT) AS total_orders,
             ROUND(SUM(daily_spend), 2) / COUNT(1) AS avg_daily_spend
      FROM daily GROUP BY customer_id
    ), risk AS (
      SELECT o_custkey AS customer_id, MAX(raw_risk_score) AS max_risk_score,
             MAX(CASE WHEN risk_bucket = 'high' THEN 1 ELSE 0 END) AS ever_high_risk
      FROM fact_orders_risk_scored GROUP BY o_custkey
    )
    SELECT c.customer_id, d.value_tier, c.total_spend, c.total_orders, c.avg_daily_spend,
           r.max_risk_score, r.ever_high_risk,
           CASE WHEN c.total_spend >= 1500000 THEN 'vip'
                WHEN c.total_spend >= 700000 THEN 'loyal'
                WHEN c.total_spend >= 200000 THEN 'active' ELSE 'light' END AS customer_segment
    FROM cust c
    LEFT JOIN dim_customer d ON c.customer_id = d.customer_id
    LEFT JOIN risk r ON c.customer_id = r.customer_id"""

  private val inventoryMergeSql = // recorded as the stage's sql_block (MERGE-equivalent)
    """MERGE INTO inventory t USING updates s ON t.entity_id = s.entity_id
    WHEN MATCHED AND s.updated_at >= t.updated_at THEN UPDATE SET on_hand = s.on_hand, updated_at = s.updated_at
    WHEN NOT MATCHED THEN INSERT (entity_id, on_hand, updated_at) VALUES (s.entity_id, s.on_hand, s.updated_at)"""

  val stages: Seq[Stage] = Seq(
    Stage("script_01_bronze_ingest_orders", "bronze/orders", Seq("amount_bucket"), Nil,
      (s, r) => r("raw/orders")
        .filter(col("o_totalprice") >= 0 && col("o_orderdate").isNotNull)
        .select(
          col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("order_date"),
          upper(col("o_orderpriority")).as("channel"),
          when(col("o_orderstatus") === "F", 1).otherwise(0).as("is_refund"),
          abs(col("o_totalprice")).as("amount"),
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 200000, "mid")
            .otherwise("high").as("amount_bucket"))),

    Stage("script_02_dim_customer_latest", "silver/dim_customer", Nil, Nil,
      (s, r) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        r("raw/orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .select(
            col("o_custkey").as("customer_id"),
            col("o_orderkey").as("latest_order"),
            col("o_totalprice").as("latest_amount"),
            when(col("o_totalprice") >= 300000, "platinum")
              .when(col("o_totalprice") >= 150000, "gold")
              .when(col("o_totalprice") >= 50000, "silver")
              .otherwise("bronze").as("value_tier"))
      }),

    Stage("script_03_fact_orders_enriched", "gold/fact_orders_enriched", Seq("value_tier"), Nil,
      (s, r) => {
        val o = r("bronze/orders").alias("o")
        val c = r("silver/dim_customer").alias("c")
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("order_date"), col("o_orderkey"))
        o.join(c, col("o.o_custkey") === col("c.customer_id"), "left")
          .select(col("o.o_orderkey"), col("o.o_custkey"), col("o.order_date"),
            col("o.amount"), col("o.is_refund"), col("o.amount_bucket"), col("c.value_tier"))
          .withColumn("prev_amount", lag(col("amount"), 1).over(w))
          .withColumn("amount_delta_prev", col("amount") - coalesce(col("prev_amount"), lit(0.0)))
          .withColumn("rolling_7_sum", round(sum(col("amount")).over(w.rowsBetween(-6, 0)), 4))
      }),

    Stage("script_04_dim_product_sql_cte", "silver/dim_product", Nil, Seq(dimProductSql),
      (s, r) => {
        r("raw/part").createOrReplaceTempView("raw_part")
        s.sql(dimProductSql)
      }),

    Stage("script_05_sales_margin_rank", "gold/sales_margin", Nil, Nil,
      (s, r) => {
        val fact = r("gold/fact_orders_enriched")
          .withColumn("band", when(col("amount_bucket") === "low", "value")
            .when(col("amount_bucket") === "mid", "standard").otherwise("premium"))
        val bands = r("silver/dim_product")
          .groupBy(col("price_band"))
          .agg(round(sum(col("price")), 2).as("band_price"), count(lit(1)).as("band_products"))
        val w = Window.partitionBy(col("band")).orderBy(col("margin").desc)
        fact.join(bands, fact("band") === bands("price_band"), "inner")
          .withColumn("unit_price", col("band_price") / col("band_products"))
          .withColumn("margin", col("amount") - col("unit_price"))
          .withColumn("margin_rank", rank().over(w).cast("long"))
          .withColumn("is_top10", when(col("margin_rank") <= 10, 1).otherwise(0))
          .select(col("o_orderkey"), col("o_custkey"), col("band"), col("amount"),
            col("unit_price"), col("margin"), col("margin_rank"), col("is_top10"))
      }),

    Stage("script_06_web_sessionization", "gold/web_sessions", Nil, Nil,
      (s, r) => {
        val ev = r("raw/events")
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("is_new_session",
            when(col("prev_ts").isNull ||
              (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1L).otherwise(0L))
          .withColumn("session_seq",
            sum(col("is_new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(min(col("ts")).as("session_start_ts"), max(col("ts")).as("session_end_ts"),
            count(lit(1)).as("events_n"), round(sum(col("value")), 4).as("session_value"))
      }),

    Stage("script_07_fraud_scoring", "gold/fact_orders_risk_scored", Nil, Nil,
      (s, r) => {
        val fact = r("gold/fact_orders_enriched")
        val userStats = r("gold/web_sessions")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"), sum(col("events_n")).as("n_events"))
        val joined = fact.withColumn("uid", pmod(col("o_custkey"), lit(1000)))
          .join(userStats, col("uid") === col("user_id"), "left")
        val w = Window.partitionBy(col("order_date"))
          .orderBy(col("raw_risk_score").desc, col("amount").desc, col("o_orderkey"))
        joined
          .withColumn("risk_from_refund", when(col("is_refund") === 1, 2).otherwise(0))
          .withColumn("risk_from_amount", when(col("amount_bucket") === "high", 1).otherwise(0))
          .withColumn("risk_from_sessions", when(coalesce(col("n_sessions"), lit(0L)) > 20, 1).otherwise(0))
          .withColumn("raw_risk_score",
            col("risk_from_refund") + col("risk_from_amount") + col("risk_from_sessions"))
          .withColumn("risk_rank_day", rank().over(w).cast("long"))
          .withColumn("risk_percent_rank_day", percent_rank().over(w))
          .withColumn("risk_bucket",
            when(col("risk_percent_rank_day") <= 0.1, "high")
              .when(col("risk_percent_rank_day") <= 0.5, "medium").otherwise("low"))
          .select(col("o_orderkey"), col("o_custkey"), col("order_date"), col("amount"),
            col("raw_risk_score"), col("risk_rank_day"), col("risk_percent_rank_day"),
            col("risk_bucket"))
      }),

    Stage("script_08_delta_merge_scd1_customer", "delta/dim_customer_scd1", Nil, Nil,
      (s, r) => {
        val target = r("silver/dim_customer")
        val updates = r("raw/customer")
          .filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey").as("u_custkey"), col("c_name").as("u_name"),
            (col("c_acctbal") * lit(1.1)).as("u_acctbal"))
        target.join(updates, target("customer_id") === updates("u_custkey"), "full_outer")
          .select(
            coalesce(col("customer_id"), col("u_custkey")).as("customer_id"),
            coalesce(col("u_name"), lit("unknown")).as("name"),
            when(col("u_custkey").isNotNull, col("u_acctbal")).otherwise(col("latest_amount")).as("acctbal"),
            coalesce(col("value_tier"), lit("new")).as("value_tier"),
            when(col("u_custkey").isNotNull && col("customer_id").isNotNull, "updated")
              .when(col("customer_id").isNull, "inserted").otherwise("unchanged").as("merge_action"),
            to_timestamp(lit("2024-01-01 00:00:00")).as("ingested_at"))
      }),

    Stage("script_09_sql_merge_inventory", "delta/inventory", Nil, Seq(inventoryMergeSql),
      (s, r) => {
        val ev = r("raw/events")
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
        def latest(df: DataFrame) =
          df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
        val target = latest(ev.filter(col("event_id") % 2 === 0))
          .select(col("user_id"), col("value").as("t_on_hand"), col("ts").as("t_updated_at"))
        val source = latest(ev.filter(col("event_id") % 2 === 1))
          .select(col("user_id").as("s_user_id"), col("value").as("s_on_hand"), col("ts").as("s_updated_at"))
        val takeSource = col("s_user_id").isNotNull &&
          (col("user_id").isNull || col("s_updated_at") >= col("t_updated_at"))
        target.join(source, col("user_id") === col("s_user_id"), "full_outer")
          .select(
            coalesce(col("user_id"), col("s_user_id")).as("entity_id"),
            when(takeSource, col("s_on_hand")).otherwise(col("t_on_hand")).as("on_hand"),
            when(takeSource, col("s_updated_at")).otherwise(col("t_updated_at")).as("updated_at"))
      }),

    Stage("script_10_mart_customer_value", "gold/mart_customer_value", Nil, Seq(martSql),
      (s, r) => {
        r("gold/fact_orders_enriched").createOrReplaceTempView("fact_orders_enriched")
        r("gold/fact_orders_risk_scored").createOrReplaceTempView("fact_orders_risk_scored")
        r("silver/dim_customer").createOrReplaceTempView("dim_customer")
        s.sql(martSql)
      }),

    Stage("script_a_customer_agg", "curated/customer_agg", Nil, Nil,
      (s, r) => r("raw/lineitem")
        .groupBy(col("l_suppkey"), col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"),
          round(sum(col("l_extendedprice")), 2).as("total_price"),
          count(lit(1)).as("line_count"))
        .withColumn("big_qty", when(col("total_qty") > 1000, 1).otherwise(0))),

    Stage("script_b_join_products", "curated/joined_products", Nil, Nil,
      (s, r) => {
        val agg = r("curated/customer_agg")
        val p = r("raw/part")
        agg.join(p, agg("l_suppkey") === p("p_partkey"), "left")
          .select(col("l_suppkey"), col("l_returnflag"), col("total_qty"),
            col("p_name"), col("p_retailprice"),
            (col("total_qty") * col("p_retailprice")).as("stock_value"),
            when(col("p_retailprice") > 1500, 1).otherwise(0).as("is_expensive"))
      }))

  /** Physical location of the materialized repo for one sf dir. */
  def repoDir(s: SparkSession, sfDir: String): String = {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    s"${graft.ops.Artifacts.root(s)}/graft_repo/$tag"
  }

  /** Bump when a stage's semantics change: the marker below embeds this, so
    * a repo materialized by older stage code is rebuilt, not trusted. */
  private val dagVersion = 2

  /** Run the DAG, writing each stage's asset. Skipped when already
    * materialized AND the marker matches the current (input fingerprint,
    * stage-code version) — a marker alone is not enough: the testdata under
    * `sfDir` is regenerated between rounds without the path changing, and a
    * done-flag with no staleness key would serve stage outputs computed from
    * a previous data generation (or by older stage code) forever. Same
    * staleness contract as [[graft.ops.Artifacts]], at DAG granularity.
    * Returns the repo dir. */
  def materialize(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = repoDir(spark, sfDir)
    val marker = Paths.get(dir, "_GRAFT_DONE")
    val stamp = s"$sfDir fp=${graft.ops.Artifacts.fingerprint(spark, sfDir)} v=$dagVersion"
    val fresh = Files.exists(marker) && Files.readString(marker) == stamp
    if (!fresh) {
      val r = reader(spark, sfDir, dir) _
      stages.foreach { st =>
        val df = st.build(spark, r)
        val w = df.write.mode("overwrite")
        (if (st.partitionBy.nonEmpty) w.partitionBy(st.partitionBy: _*) else w)
          .parquet(s"$dir/${st.writeAsset}")
      }
      Files.createDirectories(marker.getParent)
      Files.writeString(marker, stamp)
    }
    dir
  }

  /** Plan-based lineage for every stage (materializes first so upstream
    * schemas exist), in [[stages]] order, extracted on a fixed pool of one
    * thread per core, at most one per stage. The calling thread creates the
    * pool, so its threads inherit the caller's Spark local properties (the
    * job group that jobs are attributed by) and active session; a shared or
    * global pool's threads would carry neither. */
  def lineage(spark: SparkSession, sfDir: String): Seq[ScriptLineage] = {
    val dir = materialize(spark, sfDir)
    val pool = Executors.newFixedThreadPool(
      math.min(stages.size, Runtime.getRuntime.availableProcessors))
    try stages.map(st => pool.submit(new Callable[ScriptLineage] {
        def call() = stageLineage(spark, sfDir, dir, st)
      })).map(_.get)
    catch { case e: ExecutionException => throw e.getCause }
    finally pool.shutdown()
  }

  /** One stage's lineage over the repo materialized at `dir`: its plan's
    * column lineage, with physical read paths normalized back to logical
    * asset names and the stage's declared write recorded as a write asset. */
  private[graft] def stageLineage(spark: SparkSession, sfDir: String, dir: String,
      st: Stage): ScriptLineage = {
    val base = PlanLineage.extract(st.script, st.build(spark, reader(spark, sfDir, dir)), st.sqlBlocks)
    val reads = base.assets.map { a =>
      val p = a.path.stripPrefix("file:").stripPrefix(s"$dir/")
      val logical = if (p.startsWith(s"$sfDir/")) "raw/" + p.stripPrefix(s"$sfDir/") else p
      a.copy(path = logical.stripSuffix(".parquet"))
    }
    val sinkDf = base.dfs.find(_.kind == "sink").map(_.name).getOrElse("sink")
    val write = AssetRef(st.script, "parquet", st.writeAsset, sinkDf, "write")
    base.copy(assets = reads :+ write)
  }

  private val lineageCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[ScriptLineage]]

  /** Memoized [[lineage]] per sf-dir: the repo DAG is extracted once per JVM
    * and shared by every consumer (q25–q30/q44, q169, q183, q184, and
    * through the knowledge-base snapshot Ask and Query). In a real
    * deployment extraction is an offline artifact maintained beside the repo,
    * not per-question work. */
  def cachedLineage(spark: SparkSession, sfDir: String): Seq[ScriptLineage] =
    lineageCache.getOrElseUpdate(sfDir, lineage(spark, sfDir))
}
