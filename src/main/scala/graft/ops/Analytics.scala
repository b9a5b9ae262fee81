package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** Analytic-surface coverage beyond the reference corpus: the window functions
  * it doesn't use (ntile/cume_dist/first/last/nth_value), set operations,
  * ROLLUP with GROUPING flags, a composed as-of join, and SQL DDL/DML
  * (managed-table CTAS + INSERT INTO). All fully oracled.
  */
object Analytics {

  /** Window-function suite over per-customer order history. */
  val windowSuite: Q = Q(
    "q35_window_suite",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("cum_dist", cume_dist().over(w))
        .withColumn("first_amount", first(col("o_totalprice")).over(wf))
        .withColumn("last_amount", last(col("o_totalprice")).over(wf))
        .withColumn("second_amount", nth_value(col("o_totalprice"), 2).over(wf))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("quartile"), col("cum_dist"), col("first_amount"),
          col("last_amount"), col("second_amount"))
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice,
      CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      cume_dist() OVER w AS cum_dist,
      first_value(o_totalprice) OVER wf AS first_amount,
      last_value(o_totalprice) OVER wf AS last_amount,
      nth_value(o_totalprice, 2) OVER wf AS second_amount
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""))

  /** UNION (distinct) / INTERSECT / EXCEPT between high-value and urgent
    * customer sets, tagged into one result. */
  val setOps: Q = Q(
    "q36_set_ops",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val hi = o.filter(col("o_totalprice") >= 200000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      hi.union(urgent).distinct().select(lit("union").as("set_op"), col("o_custkey"))
        .unionByName(hi.intersect(urgent).select(lit("intersect").as("set_op"), col("o_custkey")))
        .unionByName(hi.except(urgent).select(lit("except").as("set_op"), col("o_custkey")))
    },
    Some("""WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice >= 200000),
      urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      SELECT 'union' AS set_op, o_custkey FROM (SELECT o_custkey FROM hi UNION SELECT o_custkey FROM urgent)
      UNION ALL SELECT 'intersect' AS set_op, o_custkey FROM (SELECT o_custkey FROM hi INTERSECT SELECT o_custkey FROM urgent)
      UNION ALL SELECT 'except' AS set_op, o_custkey FROM (SELECT o_custkey FROM hi EXCEPT SELECT o_custkey FROM urgent)"""))

  /** ROLLUP over (status, priority) with GROUPING flags — subtotals + grand
    * total in one pass (map-side partial aggregation per grouping set). */
  val rollup: Q = Q(
    "q37_rollup",
    (s, dir) => {
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"))
    },
    Some("""SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n_orders,
      ROUND(SUM(o_totalprice), 2) AS total_price,
      CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
      FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"""))

  /** Composed as-of join (no native Spark operator): for each purchase event,
    * the latest signup of the same user at or before it. Implemented as the
    * scalable union-sort-carry pattern — tag both sides, sort within the key
    * partition by (time, side), carry the right payload forward with
    * last(ignoreNulls) — one shuffle, no range explosion. Oracle: DuckDB's
    * native ASOF LEFT JOIN. */
  val asofJoin: Q = Q(
    "q38_asof_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      val l = purchases.select(col("user_id"), col("ts").as("t"), lit(1).as("is_left"),
        col("event_id"), col("value").as("p_value"),
        lit(null).cast("timestamp").as("s_ts"), lit(null).cast("double").as("s_value"))
      val r = signups.select(col("user_id"), col("ts").as("t"), lit(0).as("is_left"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("p_value"),
        col("ts").as("s_ts"), col("value").as("s_value"))
      // right rows sort before left at equal t → inclusive (p.ts >= s.ts)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("is_left"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      l.unionByName(r)
        .withColumn("signup_ts", last(col("s_ts"), ignoreNulls = true).over(w))
        .withColumn("signup_value", last(col("s_value"), ignoreNulls = true).over(w))
        .filter(col("is_left") === 1)
        .select(col("event_id"), col("user_id"), col("t").as("purchase_ts"),
          col("p_value").as("purchase_value"), col("signup_ts"), col("signup_value"))
    },
    Some("""WITH ev AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
      ), p AS (
        SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'purchase'
      ), sg AS (
        SELECT user_id, ts, value FROM ev WHERE event_type = 'signup'
      )
      SELECT p.event_id, p.user_id, p.ts AS purchase_ts, p.value AS purchase_value,
             sg.ts AS signup_ts, sg.value AS signup_value
      FROM p ASOF LEFT JOIN sg ON p.user_id = sg.user_id AND p.ts >= sg.ts"""))

  /** SQL DDL + DML: managed-table CTAS (USING parquet) + INSERT INTO + read
    * back — the script_09 DDL surface with the parquet fallback (SURVEY §2B). */
  val sqlDdl: Q = Q(
    "q39_sql_ddl",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql("DROP TABLE IF EXISTS graft_orders_summary")
      // the in-memory catalog forgets the table across JVMs but its warehouse
      // dir survives — clear it so CTAS doesn't hit LOCATION_ALREADY_EXISTS
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_orders_summary")
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      s.sql("""CREATE TABLE graft_orders_summary USING parquet AS
        SELECT o_orderstatus, COUNT(1) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders GROUP BY o_orderstatus""")
      s.sql("""INSERT INTO graft_orders_summary
        SELECT 'ALL', COUNT(1), ROUND(SUM(o_totalprice), 2) FROM orders""")
      s.sql("SELECT * FROM graft_orders_summary")
    },
    Some("""SELECT o_orderstatus, COUNT(1) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
      FROM orders GROUP BY o_orderstatus
      UNION ALL
      SELECT 'ALL', COUNT(1), ROUND(SUM(o_totalprice), 2) FROM orders"""))

  /** Sketch-based distinct counting — the 100 TB substitute for exact
    * COUNT(DISTINCT): HyperLogLog++ (mergeable, fixed memory, one pass, no
    * second shuffle). The HLL values themselves are implementation-specific
    * (Spark's sketch ≠ DuckDB's), so the oracled output carries the exact
    * counts bit-for-bit plus a 1/0 within-5%-of-exact flag per sketch; the
    * oracle pins the flags to 1, making the DuckDB gate enforce the sketch
    * error bound. Raw sketch values are additionally asserted in OpsSpec. */
  val approxDistinct: Q = Q(
    "q45_approx_distinct",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_suppkey")).as("exact_supps"),
          approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
          when(abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.05, 1).otherwise(0).as("approx_parts_ok"),
          when(abs(col("approx_supps") - col("exact_supps")) <=
            col("exact_supps") * 0.05, 1).otherwise(0).as("approx_supps_ok"))
    },
    Some("""SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS exact_parts,
        COUNT(DISTINCT l_suppkey) AS exact_supps,
        1 AS approx_parts_ok, 1 AS approx_supps_ok
      FROM lineitem GROUP BY l_returnflag"""))

  /** Exact interpolated percentiles per group. Spark's exact `percentile`
    * aggregate buffers counts per DISTINCT value (an OpenHashMap), so memory
    * is O(|domain|), not O(rows) — scale-correct for bounded-domain measures
    * like integer quantities; for unbounded-domain doubles at 100 TB the
    * t-digest `approx_percentile` is the drop-in (impl-specific values, so
    * not oracle-able). Quantities are integer-valued and the quartile
    * fractions are exact binary (.0/.25/.5/.75), so linear interpolation is
    * bit-exact in both engines despite being float math. */
  val percentileStats: Q = Q(
    "q60_percentile_stats",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          min(col("l_quantity")).as("q_min"),
          expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("q50"),
          expr("percentile(l_quantity, 0.75)").as("q75"),
          max(col("l_quantity")).as("q_max"))
    },
    Some("""SELECT l_returnflag, COUNT(1) AS n,
        MIN(l_quantity) AS q_min,
        quantile_cont(l_quantity, 0.25) AS q25,
        quantile_cont(l_quantity, 0.5) AS q50,
        quantile_cont(l_quantity, 0.75) AS q75,
        MAX(l_quantity) AS q_max
      FROM lineitem GROUP BY l_returnflag"""))

  /** Pivot: per-supplier revenue spread across return-flag columns. The
    * pivot values are declared explicitly (`pivot(col, values)`), which is
    * the 100 TB form — without declared values Spark first runs a distinct
    * scan to discover them. Compiles to one pass of conditional aggregation
    * (no extra shuffle vs the plain groupBy); sums follow the p-decimal
    * rounding contract. */
  val pivot: Q = Q(
    "q62_pivot",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum(col("l_extendedprice")), 2))
        .select(col("l_suppkey"),
          coalesce(col("A"), lit(0.0)).as("rev_a"),
          coalesce(col("N"), lit(0.0)).as("rev_n"),
          coalesce(col("R"), lit(0.0)).as("rev_r"))
    },
    Some("""SELECT l_suppkey,
        COALESCE(ROUND(SUM(l_extendedprice) FILTER (WHERE l_returnflag = 'A'), 2), 0.0) AS rev_a,
        COALESCE(ROUND(SUM(l_extendedprice) FILTER (WHERE l_returnflag = 'N'), 2), 0.0) AS rev_n,
        COALESCE(ROUND(SUM(l_extendedprice) FILTER (WHERE l_returnflag = 'R'), 2), 0.0) AS rev_r
      FROM lineitem GROUP BY l_suppkey"""))

  /** Unpivot (melt): the inverse reshape, wide per-flag revenue columns back
    * to (supplier, flag, revenue) rows — Spark 3.4+'s native `unpivot`, a
    * zero-shuffle per-row expansion on top of q62's aggregate. */
  val unpivot: Q = Q(
    "q63_unpivot",
    (s, dir) => {
      pivot.run(s, dir)
        .unpivot(Array(col("l_suppkey")),
          Array(col("rev_a"), col("rev_n"), col("rev_r")), "flag", "revenue")
        .filter(col("revenue") =!= 0.0)
    },
    Some(s"""WITH wide AS (${pivot.oracle.get})
      SELECT l_suppkey, flag, revenue FROM (
        SELECT l_suppkey, 'rev_a' AS flag, rev_a AS revenue FROM wide
        UNION ALL SELECT l_suppkey, 'rev_n', rev_n FROM wide
        UNION ALL SELECT l_suppkey, 'rev_r', rev_r FROM wide)
      WHERE revenue <> 0.0"""))

  /** CUBE over (status, priority) — all four grouping sets (full, each
    * single-dimension subtotal, grand total) in one pass with map-side
    * partial aggregation per grouping set; the companion to q37's ROLLUP. */
  val cube: Q = Q(
    "q77_cube",
    (s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"))
    },
    Some("""SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n_orders,
      ROUND(SUM(o_totalprice), 2) AS total_price,
      CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""))

  private val cmsDepth = 4

  /** Count-min sketch heavy-hitter estimation over the events' JSON item key,
    * checked against the exact counts in the SAME query. The hash family is
    * engine-portable (md5-hex prefix = bucket id, the q15 technique), so —
    * unusually for a sketch — the whole thing is fully oracled: counters,
    * per-item estimates (min over the depth rows), and the guaranteed
    * non-negative overestimate. Distributed shape: counters are a
    * (depth × 256)-cell aggregate with map-side combine — the classic
    * mergeable-sketch property — and the per-item estimate joins the tiny
    * counter table back as a broadcast; item cardinality never enters
    * executor memory. */
  /** The events' JSON item key — the count-min input column, shared by the
    * batch sketch (q78) and the streaming register maintenance (q248) so
    * the two cannot diverge on extraction semantics. Md5Draw concatenation
    * propagates nulls exactly like the oracle's ||, so an event with no
    * item lands in a null bucket in BOTH engines (concat_ws would silently
    * skip the null on this side only). */
  private[graft] def cmItemsOf(events: DataFrame): DataFrame =
    events.select(get_json_object(col("props"), "$.k").as("item"))

  /** The (d, bucket) → count counter table — a (depth × 256)-cell aggregate
    * with map-side combine (the mergeable-sketch property). Pure
    * stateless-projection + aggregation, so the same stage runs as a batch
    * plan (q78) or a streaming complete-mode aggregation (q248). */
  private[graft] def cmCounters(items: DataFrame): DataFrame = {
    val depths = array((0 until cmsDepth).map(lit): _*)
    items.withColumn("d", explode(depths))
      .withColumn("bucket", Md5Draw.draw(2, col("d"), col("item")))
      .groupBy("d", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Per-item CMS estimates (min across the depth rows) from a counter
    * table, verified against the exact per-item counts computed from
    * `items` in the same result — shared tail of q78 and q248. */
  private[graft] def cmReport(items: DataFrame, counters: DataFrame)
      : DataFrame = {
    val depths = array((0 until cmsDepth).map(lit): _*)
    val exact = items.groupBy("item").agg(count(lit(1)).as("exact_n"))
    val est = exact.select("item").withColumn("d", explode(depths))
      .withColumn("bucket", Md5Draw.draw(2, col("d"), col("item")))
      .join(broadcast(counters), Seq("d", "bucket"))
      .groupBy("item").agg(min("cnt").as("cms_estimate"))
    exact.join(est, Seq("item"))
      .withColumn("overestimate", col("cms_estimate") - col("exact_n"))
  }

  val countMin: Q = Q(
    "q78_countmin",
    (s, dir) => {
      val items = cmItemsOf(Tables.events(s, dir))
      cmReport(items, cmCounters(items))
    },
    Some(s"""WITH items AS (
        SELECT json_extract_string(props, '$$.k') AS item FROM events
      ), ds AS (
        SELECT unnest([${(0 until cmsDepth).mkString(", ")}]) AS d
      ), exact AS (
        SELECT item, COUNT(1) AS exact_n FROM items GROUP BY item
      ), counters AS (
        SELECT d, ${Md5Draw.drawSql(2, "d", "item")} AS bucket,
               COUNT(1) AS cnt
        FROM items CROSS JOIN ds
        GROUP BY 1, 2
      ), est AS (
        SELECT e.item, MIN(c.cnt) AS cms_estimate
        FROM exact e CROSS JOIN ds
        JOIN counters c
          ON c.d = ds.d
         AND c.bucket = ${Md5Draw.drawSql(2, "ds.d", "e.item")}
        GROUP BY e.item
      )
      SELECT e.item, e.exact_n, s.cms_estimate,
             s.cms_estimate - e.exact_n AS overestimate
      FROM exact e JOIN est s ON e.item = s.item"""))

  /** Nested/array aggregation: collapse each customer's orders into ordered
    * array values (collect_list is partition-order-nondeterministic, so the
    * array is sorted before anything reads it — the only portable contract),
    * then operate on the nested value per row: element count, first/last
    * via array indexing, and a CSV encoding so every output column is
    * scalar for the driver compare. One shuffle (the groupBy); the arrays
    * are bounded by the per-customer order count, which the generator keeps
    * flat as data grows — the nested-value analog of the small-group FP
    * contract. */
  val nestedAgg: Q = Q(
    "q82_nested_agg",
    (s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("keys"))
        .select(col("custkey"),
          size(col("keys")).cast("long").as("n_orders"),
          expr("keys[0]").as("first_key"),
          expr("keys[size(keys) - 1]").as("last_key"),
          expr("array_join(transform(keys, k -> cast(k as string)), ',')").as("keys_csv"))
    },
    Some("""WITH nested AS (
        SELECT o_custkey AS custkey,
               list(o_orderkey ORDER BY o_orderkey) AS keys
        FROM orders GROUP BY o_custkey
      )
      SELECT custkey,
             CAST(len(keys) AS BIGINT) AS n_orders,
             keys[1] AS first_key,
             keys[len(keys)] AS last_key,
             array_to_string(keys, ',') AS keys_csv
      FROM nested"""))

  private val histBins = 20

  /** q90: equi-width histogram profiling of o_totalprice — the data-profiling
    * primitive behind range-partition planning and skew diagnosis. Global
    * min/max is a 1-row aggregate broadcast back to the scan (no second full
    * pass materializes anything driver-side), bucket assignment is pure
    * per-row double arithmetic — (x − min)/w with w = (max − min)/bins, the
    * identical IEEE op sequence in both engines, so even boundary values land
    * in the same bin — and the final rollup is one fixed-width aggregation
    * (≤ bins rows). Per-bin avg follows the FP contract: exact BIGINT cent
    * sums with a final double division. */
  val histogram: Q = Q(
    "q90_value_histogram",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val bounds = o.agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      // hi = lo guard: a constant column would otherwise divide 0/0 and the
      // engines' NaN orderings inside least() need not agree
      o.join(broadcast(bounds))
        .withColumn("bin", expr(
          s"""CAST(CASE WHEN hi = lo THEN 0 ELSE
              least(floor((o_totalprice - lo) / ((hi - lo) / $histBins)),
                    ${histBins - 1}) END AS BIGINT)"""))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_orders"),
          min("o_totalprice").as("bin_min"),
          max("o_totalprice").as("bin_max"),
          expr("CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / COUNT(1) / 1e2")
            .as("bin_avg"))
    },
    Some(s"""WITH b AS (
        SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
      ), binned AS (
        SELECT o_totalprice,
               CAST(CASE WHEN hi = lo THEN 0 ELSE
                    LEAST(FLOOR((o_totalprice - lo) / ((hi - lo) / $histBins)),
                          ${histBins - 1}) END AS BIGINT) AS bin
        FROM orders, b
      )
      SELECT bin, COUNT(1) AS n_orders,
             MIN(o_totalprice) AS bin_min, MAX(o_totalprice) AS bin_max,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / COUNT(1) / 1e2 AS bin_avg
      FROM binned GROUP BY bin"""))

  /** q93: event-type co-occurrence with lift — the association-mining core
    * (market-basket over the event log): for each unordered pair of event
    * types, the number of users exhibiting both, its support, and
    * lift = P(a∧b)/(P(a)·P(b)). See [[cooccurrenceOf]]. Counts are exact
    * integers; support and lift are fixed double expressions over them
    * (identical IEEE op sequence in both engines). */
  val cooccurrence: Q = Q(
    "q93_cooccurrence_lift",
    (s, dir) => cooccurrenceOf(Tables.events(s, dir)),
    Some("""WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
      ), totals AS (
        SELECT event_type, COUNT(1) AS cnt FROM ut GROUP BY event_type
      ), users AS (
        SELECT COUNT(DISTINCT user_id) AS n_users FROM ut
      ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(1) AS both_cnt
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
      )
      SELECT type_a, type_b, both_cnt, ta.cnt AS cnt_a, tb.cnt AS cnt_b,
             CAST(both_cnt AS DOUBLE) / CAST(n_users AS DOUBLE) AS support,
             (CAST(both_cnt AS DOUBLE) * CAST(n_users AS DOUBLE))
               / (CAST(ta.cnt AS DOUBLE) * CAST(tb.cnt AS DOUBLE)) AS lift
      FROM pairs
      JOIN totals ta ON pairs.type_a = ta.event_type
      JOIN totals tb ON pairs.type_b = tb.event_type
      CROSS JOIN users"""))

  /** q93 over `events` in one aggregation, never a self-join: each user's
    * sorted type set (the oracle's DISTINCT (user_id, event_type), so a null
    * user is one group and a null type is dropped), exploded into one key
    * per type (a, null), per type pair a < b and per non-null user
    * (null, null), counted once. A type's count `cnt` takes the null user
    * in; `both_cnt` and `n_users` do not, as the oracle's join on user_id
    * and COUNT(DISTINCT user_id) do not. The ≤ |types|²/2 counted keys fold
    * into one row that the pairs are read back from. */
  private[graft] def cooccurrenceOf(events: DataFrame): DataFrame = {
    val ts = col("ts")
    val none = lit(null).cast("string")
    val keys = events.groupBy("user_id")
      .agg(array_sort(collect_set("event_type")).as("ts"))
      .select(explode(concat(
        transform(ts, t => struct(t.as("a"), none.as("b"))),
        filter(concat(
          flatten(transform(ts, (x, i) => transform(slice(ts, i + 2, size(ts)),
            y => struct(x.as("a"), y.as("b"))))),
          array(struct(none.as("a"), none.as("b")))),
          _ => col("user_id").isNotNull))).as("k"))
      .groupBy(col("k.a").as("a"), col("k.b").as("b")).agg(count(lit(1)).as("n"))
    keys.agg(
        map_from_entries(collect_list(
          when(col("a").isNotNull && col("b").isNull, struct(col("a"), col("n"))))).as("cnt"),
        max(when(col("a").isNull, col("n"))).as("n_users"),
        collect_list(when(col("b").isNotNull, struct(col("a"), col("b"), col("n")))).as("p"))
      .select(explode(col("p")).as("p"), col("cnt"), col("n_users"))
      .select(col("p.a").as("type_a"), col("p.b").as("type_b"), col("p.n").as("both_cnt"),
        col("cnt")(col("p.a")).as("cnt_a"), col("cnt")(col("p.b")).as("cnt_b"), col("n_users"))
      .select(col("type_a"), col("type_b"), col("both_cnt"), col("cnt_a"), col("cnt_b"),
        expr("CAST(both_cnt AS DOUBLE) / CAST(n_users AS DOUBLE)").as("support"),
        expr("(CAST(both_cnt AS DOUBLE) * CAST(n_users AS DOUBLE)) / (CAST(cnt_a AS DOUBLE) * CAST(cnt_b AS DOUBLE))")
          .as("lift"))
  }

  // q99: the one window-frame family nothing else registers — a CALENDAR
  // range frame (`RANGE BETWEEN INTERVAL ... PRECEDING`), the idiom behind
  // every trailing-N-day metric. Row frames (q03/q35) count rows; this frame
  // bounds by the ORDER key's value, so same-day peers enter together and
  // gaps in the calendar shrink the frame — semantics a row frame cannot
  // express. Identical SQL runs on both engines; the frame sums EXACT cent
  // integers (FP contract: one final division per row). 100 TB shape: the
  // window partitions by customer — per-customer order history is small and
  // the partition count is the customer count, so the sort parallelizes.
  private val q99Sql = """SELECT o_orderkey, o_custkey, o_orderdate,
      CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
        (PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e2
        AS trailing_7d_spend,
      COUNT(1) OVER
        (PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
        AS trailing_7d_orders
    FROM orders"""

  /** Calendar range-frame window: trailing 7-day spend/order-count per
    * customer. */
  val trailingWindow: Q = Q(
    "q99_trailing_window",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql(q99Sql)
    },
    Some(q99Sql))

  private val medianBuckets = 1024
  /** The largest crossing slice q95 collects for its exact driver walk. */
  val DriverSliceRows = 200000L

  /** q95's input over `dir`'s lineitem: weights are exact integer
    * centi-quantities. */
  private[graft] def weightedMedianInput(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_extendedprice"),
      col("l_orderkey"), col("l_linenumber"),
      expr("CAST(round(l_quantity * 100) AS BIGINT)").as("w100"))

  /** The q95 distributed exact weighted median over any frame with columns
    * (l_returnflag, l_extendedprice, l_orderkey, l_linenumber, w100) —
    * exposed so the spec can drive pathological weight distributions through
    * the production plan.
    *
    * Phases, none of which ever sorts a data-proportional slice through one
    * task:
    *   1. bucket every row into 1024 equi-width value bins (broadcast
    *      min/max, q90's identical-IEEE bin expression) and aggregate
    *      per-(group, bucket) weight + row counts — a parallel aggregation;
    *   2. scan the ≤ |groups|×1024-row bucket table for each group's
    *      crossing bucket and its carried-in prefix;
    *   3. aggregate the crossing bucket's rows per VALUE (a second parallel
    *      aggregation — the exact re-bucketing that no equi-width re-bin can
    *      match when most weight sits at ONE value) and walk the per-value
    *      sums to the crossing value: that value IS the weighted median, no
    *      matter how skewed the bucket;
    *   4. the crossing VALUE's run still needs its internal crossing row for
    *      `rows_at_or_above`, and the run order there is (l_orderkey,
    *      l_linenumber) — sub-bin the run by 1024 equi-width ORDERKEY ranges
    *      (pure integer arithmetic, monotone in the run order since the
    *      value is constant across the run) and aggregate, locating the
    *      crossing sub-range;
    *   5. sort ONLY that sub-range (~1/1024 of the run) for the exact
    *      crossing row.
    * Stages 1, 3 and 4 are aggregations, so a group that concentrates 99%
    * of its weight on a single value costs a map-side-combined shuffle, not
    * a one-task sort. Remaining envelope (documented, not load-bearing): the
    * phase-2/3/4 per-group walks are |buckets|-, |distinct values in
    * crossing bucket|- and 1024-row windows respectively — the middle one is
    * value-cardinality-bound (≪ rows under exactly the skew this defends
    * against), and the final sort degenerates only if one (value, orderkey)
    * pair carries ~a whole group (millions of linenumbers for one order —
    * not a shape the key model admits).
    *
    * `rows_at_or_above` (rows at or past the crossing in the group's total
    * order) = in-sub-range survivors + runs/values/buckets entirely past the
    * crossing, accumulated as `rows_after` at each phase.
    *
    * Phases 3-5 only run when phase 1 MEASURES the crossing slice as too
    * large to collect (> `sliceCap` rows, default [[DriverSliceRows]]):
    * below that, one collect + an exact driver walk replaces them — see the
    * adaptive-short-circuit note in the body. `sliceCap = 0` forces the
    * distributed phases. */
  private[graft] def weightedMedianOf(t0: DataFrame,
      sliceCap: Long = DriverSliceRows): DataFrame = {
    val spark = t0.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    def local(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    // Every per-phase "target" (the crossing bucket / value / sub-range of
    // each group) is <= 1 row per group, and the phase-1/phase-4 tables they
    // are walked from are <= |groups| * 1024 rows BY CONSTRUCTION -- bounded
    // by group cardinality and the bucket constant, never by data volume. So
    // the walks run on the driver over collected aggregates (the q34
    // trained-literal pattern) and re-enter the plan as broadcast local
    // relations: round 6 ran them as distributed window chains behind three
    // eager localCheckpoint barriers, each a scheduled tiny-data job whose
    // blocks nothing ever released -- pure stage overhead in steady state
    // and an RDD leak that Bench's warmup+timed double pass compounded.
    // The ONE remaining barrier is the crossing-bucket row slice (its input
    // is data-proportional and three downstream jobs re-read it); it is
    // scoped and released right after the terminal collect, so repeated
    // invocations leave zero persisted RDDs behind.
    //
    // ADAPTIVE short-circuit (the q27 driver-BFS pattern, but with an exact
    // bound instead of a heuristic): the phase-1 aggregate reports the
    // crossing bucket's EXACT row count per group before any slice work
    // happens. When the total is driver-safe (<= sliceCap, default
    // DriverSliceRows -- tens of MB), phases 3-5 collapse into ONE collect of
    // the slice plus an exact integer walk on the driver: 3 scheduled jobs
    // instead of 5, no barrier at all. Realistic value distributions put
    // ~1/1024 of each group in the crossing bucket, so at 100 TB the count
    // exceeds the cap and the distributed phases run -- the decision is
    // measured per invocation, never guessed.
    graft.Ckpt.scoped { scope =>
      // aggregate semantics: null-valued / null-weighted rows contribute
      // nothing to a median (the oracle's window skips them the same way);
      // without this, a null value would NPE the phase-2 driver walk's
      // getLong on its null bucket
      val t = t0.filter(col("l_extendedprice").isNotNull && col("w100").isNotNull)
      val groupType = t.schema("l_returnflag").dataType
      val valueType = t.schema("l_extendedprice").dataType
      // bounds: two driver-bounded scalars, embedded as literals so no scan
      // job re-runs the min/max subquery
      val boundsRow = t
        .agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi")).head()
      val lo = if (boundsRow.isNullAt(0)) 0.0 else boundsRow.getDouble(0)
      val hi = if (boundsRow.isNullAt(1)) 0.0 else boundsRow.getDouble(1)
      // same IEEE arithmetic as the q90 bin expression: (x - lo) / ((hi - lo)
      // / buckets), floored and clamped -- the driver computes (hi - lo) /
      // buckets in the same double precision Spark would
      val bt = t.withColumn("bucket",
        if (hi == lo) lit(0L)
        else least(floor((col("l_extendedprice") - lit(lo)) / lit((hi - lo) / medianBuckets)),
          lit((medianBuckets - 1).toDouble)).cast("long"))
      // ---- phase 1: bucket weights (first full scan, map-side combined) ---
      // ---- phase 2: driver walk to each group's crossing bucket -----------
      val bwRows = bt.groupBy("l_returnflag", "bucket")
        .agg(sum("w100").as("bw"), count(lit(1)).as("bn")).collect()
      // first bucket where twice the inclusive cumulative weight reaches the
      // group total = the crossing bucket; buckets strictly past it only
      // contribute their row counts (rows_after)
      val walked = bwRows.toSeq.groupBy(_.get(0)).toSeq.map { case (flag, rows) =>
        val sorted = rows.sortBy(_.getLong(1))
        val ws = sorted.map(_.getLong(2))
        val total = ws.sum
        var cum = 0L
        var idx = 0
        while (2 * (cum + ws(idx)) < total) { cum += ws(idx); idx += 1 }
        (Row(flag, sorted(idx).getLong(1), cum, total,
          sorted.drop(idx + 1).map(_.getLong(3)).sum),
          sorted(idx).getLong(3)) // the crossing bucket's exact row count
      }
      val targetRows = walked.map(_._1)
      val targets = local(targetRows, StructType(Seq(
        StructField("l_returnflag", groupType), StructField("bucket", LongType),
        StructField("cum_before", LongType), StructField("total", LongType),
        StructField("rows_after", LongType))))
      val outSchema = StructType(Seq(
        StructField("l_returnflag", groupType),
        StructField("weighted_median", valueType),
        StructField("rows_at_or_above", LongType)))
      val sliceRows = walked.map(_._2).sum
      if (sliceRows <= sliceCap) {
        // ---- adaptive driver path: one slice collect + exact walk ---------
        // the crossing slice is measured driver-safe; its sorted walk is the
        // oracle's own semantics (value, l_orderkey, l_linenumber order,
        // first row where 2*cum >= total), pure integer compares
        val slice = bt.join(broadcast(targets), Seq("l_returnflag", "bucket"))
          .select("l_returnflag", "l_extendedprice", "l_orderkey",
            "l_linenumber", "w100")
          .collect()
        def lt(a: Row, b: Row): Boolean = {
          def c(i: Int) = a.get(i).asInstanceOf[Comparable[Any]].compareTo(b.get(i))
          val c1 = c(1)
          if (c1 != 0) c1 < 0
          else { val c2 = c(2); if (c2 != 0) c2 < 0 else c(3) < 0 }
        }
        val byFlag = targetRows.map(r => r.get(0) -> r).toMap
        val resRows = slice.toSeq.groupBy(_.get(0)).toSeq.map { case (flag, rows) =>
          val t = byFlag(flag)
          val sorted = rows.sortWith(lt)
          var cum = t.getLong(2) // cum_before: weight in buckets before
          val total = t.getLong(3)
          var idx = 0
          while (2 * (cum + sorted(idx).getLong(4)) < total) {
            cum += sorted(idx).getLong(4); idx += 1
          }
          Row(flag, sorted(idx).get(1), (sorted.length - idx).toLong + t.getLong(4))
        }
        local(resRows, outSchema)
      } else {
      // ---- distributed phases 3-5: the slice is NOT driver-safe ----------
      // ---- phase 3: per-VALUE aggregation of the crossing bucket ----------
      // second full scan, reduced to the ~1/buckets crossing slice; the one
      // scoped barrier -- phases 3/4/5 all re-read it. LAZY: the phase-3
      // collect materializes the blocks inline instead of a scheduled
      // materialization job of their own
      val crossRows = scope.lazyCk(bt
        .join(broadcast(targets), Seq("l_returnflag", "bucket"))
        .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber", "w100"))
      // the value walk STAYS a distributed window: distinct values in the
      // crossing bucket are value-cardinality-bound, not bucket-bound, so
      // collecting them could be data-proportional under adversarial data.
      // min/max orderkey ride along so the run pass needs no second bounds
      // job; equal values share a bucket, so the whole group's run of the
      // crossing value lives inside crossRows -- median_value and the counts
      // past it are exact at group scope, not just bucket scope
      val pv = crossRows.groupBy("l_returnflag", "l_extendedprice")
        .agg(sum("w100").as("pw"), count(lit(1)).as("pn"),
          min("l_orderkey").as("klo"), max("l_orderkey").as("khi"))
        .join(broadcast(targets
          .select("l_returnflag", "cum_before", "total", "rows_after")), Seq("l_returnflag"))
      val wpCum = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wpAfter = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        .rowsBetween(1, Window.unboundedFollowing)
      val wpPick = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
      val ptSchema = StructType(Seq(
        StructField("l_returnflag", groupType), StructField("median_value", valueType),
        StructField("klo", t.schema("l_orderkey").dataType),
        StructField("khi", t.schema("l_orderkey").dataType),
        StructField("run_before", LongType), StructField("total", LongType),
        StructField("rows_after2", LongType)))
      val ptRows = pv
        .withColumn("cump", col("cum_before") + sum("pw").over(wpCum))
        .withColumn("pn_after", coalesce(sum("pn").over(wpAfter), lit(0L)))
        .filter(col("cump") * 2 >= col("total"))
        .withColumn("rn", row_number().over(wpPick))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_extendedprice").as("median_value"),
          col("klo"), col("khi"),
          (col("cump") - col("pw")).as("run_before"), col("total"),
          (col("rows_after") + col("pn_after")).as("rows_after2"))
        .collect()
      val ptargets = local(ptRows.toSeq, ptSchema)
      // ---- phase 4: ORDERKEY sub-binning of the median-value run ----------
      val rb = crossRows
        .join(broadcast(ptargets.select("l_returnflag", "median_value", "klo", "khi")),
          Seq("l_returnflag"))
        .filter(col("l_extendedprice") === col("median_value"))
        // integer bin, monotone in l_orderkey, range [0, 1024): exact while
        // (khi - klo) * 1024 < 2^63; beyond that span (>= 2^52 keys) fall
        // back to a DOUBLE ratio -- still monotone (IEEE division and floor
        // are monotone) and clamped into range, so the sub-binning stays a
        // valid partition of the run instead of silently mis-binning on
        // overflow
        .withColumn("sub", expr(
          s"""CASE WHEN (khi - klo) <= ${Long.MaxValue >> 11}
              THEN ((l_orderkey - klo) * $medianBuckets) DIV (khi - klo + 1)
              ELSE least(CAST(floor(CAST(l_orderkey - klo AS DOUBLE)
                     / (CAST(khi - klo AS DOUBLE) + 1.0D) * $medianBuckets) AS BIGINT),
                   ${medianBuckets - 1}) END"""))
        .select("l_returnflag", "l_orderkey", "l_linenumber", "w100", "sub")
      // sub-bin weights are again <= |groups| * 1024 rows by construction ->
      // driver walk, carrying each group's run_before/rows_after2 forward
      val svRows = rb.groupBy("l_returnflag", "sub")
        .agg(sum("w100").as("sw"), count(lit(1)).as("sn")).collect()
      val ptByFlag = ptRows.map(r => r.get(0) -> r).toMap
      val stRows = svRows.toSeq.groupBy(_.get(0)).toSeq.flatMap { case (flag, rows) =>
        ptByFlag.get(flag).map { pt =>
          val sorted = rows.sortBy(_.getLong(1))
          val ws = sorted.map(_.getLong(2))
          val total = pt.getLong(5)
          var cum = pt.getLong(4) // run_before
          var idx = 0
          while (2 * (cum + ws(idx)) < total) { cum += ws(idx); idx += 1 }
          Row(flag, sorted(idx).getLong(1), pt.get(1), cum, total,
            pt.getLong(6) + sorted.drop(idx + 1).map(_.getLong(3)).sum)
        }
      }
      val stargets = local(stRows, StructType(Seq(
        StructField("l_returnflag", groupType), StructField("sub", LongType),
        StructField("median_value", valueType), StructField("cum_before3", LongType),
        StructField("total", LongType), StructField("rows_after3", LongType))))
      // ---- phase 5: exact crossing row inside ONE orderkey sub-range ------
      val wIn = Window.partitionBy("l_returnflag")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val out = rb.join(broadcast(stargets), Seq("l_returnflag", "sub"))
        .withColumn("cum", col("cum_before3") + sum("w100").over(wIn))
        .filter(col("cum") * 2 >= col("total"))
        .groupBy("l_returnflag")
        .agg(min("median_value").as("weighted_median"),
          (count(lit(1)) + min("rows_after3")).as("rows_at_or_above"))
      // terminal action inside the scope: one row per group, so collect +
      // local relation lets the barrier release immediately instead of
      // leaking until GC -- the round-6 in-suite 3 s cost
      local(out.collect().toSeq, out.schema)
      } // end distributed path
    }
  }

  /** q95: exact weighted median per group — the order statistic a plain
    * percentile can't give when rows carry weights (median unit price
    * weighted by quantity). Weights are EXACT integer centi-weights
    * (2-decimal quantities × 100 → BIGINT) so every cumulative sum is
    * associativity-free, and the lower weighted median — first value where
    * 2·cum ≥ total in (value, keys) order — is decided by integer compares
    * both engines evaluate identically.
    *
    * The naive formulation (ONE sort window per group over all rows) dies at
    * scale: l_returnflag has 3 values, so 100 TB would sort through 3 tasks.
    * This plan is the distributed multi-phase exact median instead — see
    * [[weightedMedianOf]]. The ORACLE keeps the one-window formulation —
    * same result by construction, which is itself the strongest check that
    * the multi-phase plan is exact. */
  val weightedMedian: Q = Q(
    "q95_weighted_median",
    (s, dir) => weightedMedianOf(weightedMedianInput(s, dir)),
    Some("""WITH t AS (
        SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
               CAST(round(l_quantity * 100) AS BIGINT) AS w100
        FROM lineitem
      ), c AS (
        SELECT l_returnflag, l_extendedprice,
               SUM(w100) OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(w100) OVER (PARTITION BY l_returnflag) AS total
        FROM t
      )
      SELECT l_returnflag, MIN(l_extendedprice) AS weighted_median,
             COUNT(1) AS rows_at_or_above
      FROM c WHERE cum * 2 >= total GROUP BY l_returnflag"""))

  /** Explicit GROUPING SETS — the third of SQL's multi-set aggregations
    * (q37 ROLLUP, q77 CUBE): exactly the three sets ((flag,status), (flag),
    * ()) in ONE pass with map-side partial aggregation per set, where
    * chaining three GROUP BYs would scan three times. The grouping id is
    * built from per-column GROUPING flags (identical bit order in both
    * engines); revenue sums integer cents so the subtotal rows hash-match
    * bit-exactly. */
  val groupingSets: Q = Q(
    "q109_grouping_sets",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus,
          CAST(grouping(l_returnflag) AS BIGINT) * 2
            + CAST(grouping(l_linestatus) AS BIGINT) AS gid,
          SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS revenue_cents,
          COUNT(1) AS n_items
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")
    },
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag) AS BIGINT) * 2
          + CAST(GROUPING(l_linestatus) AS BIGINT) AS gid,
        CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
          AS revenue_cents,
        COUNT(1) AS n_items
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"""))

  // ---- q113: exact equi-depth histogram ------------------------------------
  /** q113 dials: output buckets, and the internal equi-width pre-ranges that
    * parallelize the cumulative walk. */
  private val edBuckets = 32
  private val edRanges = 1024

  /** Exact equi-depth (equi-height) histogram of l_extendedprice — the
    * optimizer/statistics primitive complementing q90's equi-WIDTH bins:
    * bucket i spans global ranks (⌈i·n/k⌉, ⌈(i+1)·n/k⌉], every bucket
    * within one row of n/k regardless of value skew. The naive form is
    * NTILE over a GLOBAL sort — one task for the whole table. This computes
    * the identical bucket boundaries with no per-row rank at all:
    *
    *   1. aggregate to per-VALUE counts (the q60/q110 move — all later work
    *      is value-cardinality-bound, never row-bound);
    *   2. global cumulative counts over the value order WITHOUT a one-task
    *      window: q100's bucket-parallel composition applied to the value
    *      table — equi-width pre-ranges over [min, max] (order-aligned),
    *      per-range totals → exclusive offsets (a ≤1024-row driver-size
    *      window), then within-range running sums only;
    *   3. every bucket boundary is an ORDER STATISTIC, so each value row's
    *      rank interval (cum−cnt, cum] either contains a boundary rank or
    *      doesn't — pure integer DIV/ceil inversions emit each bucket's lo
    *      and hi boundary index from exactly one row (a ≤2k-row explode),
    *      and bucket row counts are closed-form in (i, n, k). Ties need no
    *      tiebreak: rows sharing a boundary rank share its VALUE, so
    *      min/max/count are tie-order-independent — which is why the
    *      oracle's ROW_NUMBER needs no extra sort keys either.
    *
    * Scale shape: one scan → value aggregation; everything after is bound
    * by value cardinality (and each pre-range's slice of it). Empty buckets
    * (n < k) are filtered to match GROUP BY semantics. */
  /** The q113 plan over any single-column `v` frame — exposed so the spec
    * can drive skewed synthetic distributions (one value holding most of
    * the mass, boundary-straddling ties) through the production plan. */
  private[graft] def equidepthOf(t0: DataFrame, k: Int): DataFrame = {
    val s = t0.sparkSession
    val t = t0.filter(col("v").isNotNull)
      val vc = t.groupBy("v").agg(count(lit(1)).as("cnt"))
      // n rides the bounds aggregate (count of the already-null-filtered
      // rows ≡ Σ cnt — the former post-checkpoint Σ job, fused away r16)
      val boundsRow = t.agg(min("v").as("lo"), max("v").as("hi"),
        count(lit(1)).as("n")).head()
      val lo = if (boundsRow.isNullAt(0)) 0.0 else boundsRow.getDouble(0)
      val hi = if (boundsRow.isNullAt(1)) 0.0 else boundsRow.getDouble(1)
      val n = boundsRow.getLong(2)
      // order-aligned equi-width pre-range (q90's bin expression: the exact
      // IEEE sequence is irrelevant here — ranges only parallelize the walk
      // — but it must be monotone in v, which floor of a monotone map is)
      val rb = vc.withColumn("rng",
        if (hi == lo) lit(0L)
        else least(floor((col("v") - lit(lo)) / lit((hi - lo) / edRanges)),
          lit((edRanges - 1).toDouble)).cast("long"))
      val roff = rb.groupBy("rng").agg(sum("cnt").as("rcnt"))
        .withColumn("off", coalesce(
          sum("rcnt").over(Window.orderBy("rng")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("rng", "off")
      val wRng = Window.partitionBy("rng").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the cum table feeds BOTH boundary extractions: one scoped eager
      // checkpoint, freed before this returns (the q110 lifecycle); the two
      // extraction outputs are ≤k rows BY CONSTRUCTION, so they collect and
      // re-enter as broadcast local relations — the returned plan is a
      // k-row join, nothing data-proportional left in it
      def asLocal(df: DataFrame): DataFrame =
        s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      if (n == 0L) {
        import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
        return s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("bucket", LongType),
            StructField("lo_value", DoubleType),
            StructField("hi_value", DoubleType),
            StructField("n_rows", LongType))))
      }
      val cumCk = graft.Ckpt.eager(rb.join(broadcast(roff), "rng")
        .withColumn("cum", col("off") + sum("cnt").over(wRng))
        .withColumn("cum_prev", col("cum") - col("cnt")))
      try {
        {
          // lo boundary of bucket i sits at rank ⌈i·n/k⌉+1 ∈ (cum_prev, cum]
          // ⇔ i ∈ [i_lo, i_hi]; DIV truncates toward zero, so the
          // cum_prev=0 case (where the argument goes negative) is an
          // explicit branch. (cum·k stays far under 2^63 for any feasible
          // row count: n < 2^58 even at k=32.)
          val losMarks = cumCk.select(col("v"), explode(expr(
              s"""sequence(
                   CASE WHEN cum_prev = 0 THEN CAST(0 AS BIGINT)
                        ELSE ((cum_prev - 1) * $k) DIV $n + 1 END,
                   greatest(CASE WHEN cum_prev = 0 THEN CAST(0 AS BIGINT)
                        ELSE ((cum_prev - 1) * $k) DIV $n + 1 END,
                     least(CAST(${k - 1} AS BIGINT), ((cum - 1) * $k) DIV $n)))"""))
              .as("bucket"))
            .filter(col("bucket") <= expr(s"((cum - 1) * $k) DIV $n")
              && col("bucket") <= k - 1)
            .select(col("bucket"), col("v"), lit("lo").as("side"))
          // hi boundary of bucket j−1 sits at rank ⌈j·n/k⌉ ∈ (cum_prev, cum]
          val hisMarks = cumCk.select(col("v"), explode(expr(
              s"""sequence((cum_prev * $k) DIV $n + 1,
                   greatest((cum_prev * $k) DIV $n + 1,
                     least(CAST($k AS BIGINT), (cum * $k) DIV $n)))"""))
              .as("j"))
            .filter(col("j") <= expr(s"(cum * $k) DIV $n") && col("j") <= k)
            .select((col("j") - 1).as("bucket"), col("v"), lit("hi").as("side"))
          // both boundary extractions in ONE collect (they read the same
          // checkpointed cum table; the union halves the job count — r16)
          val marks = asLocal(losMarks.unionAll(hisMarks))
          val los = marks.filter(col("side") === "lo")
            .select(col("bucket"), col("v").as("lo_value"))
          val his = marks.filter(col("side") === "hi")
            .select(col("bucket"), col("v").as("hi_value"))
          los.join(his, "bucket")
            .withColumn("n_rows",
              expr(s"((bucket + 1) * $n + ${k - 1}) DIV $k")
                - expr(s"(bucket * $n + ${k - 1}) DIV $k"))
            .filter(col("n_rows") > 0)
            .select("bucket", "lo_value", "hi_value", "n_rows")
        }
      } finally graft.Ckpt.free(cumCk)
  }

  val equidepthHist: Q = Q(
    "q113_equidepth_hist",
    // the projected column is read by two of the plan's jobs (bounds+n,
    // then the cum build); one PlanCache'd copy per (session, dir) keeps
    // the parquet scan out of both (r16 — the q265 treatment)
    (s, dir) => equidepthOf(
      graft.PlanCache.cached(s, "q113_v", dir, s"$dir/lineitem.parquet") {
        Tables.lineitem(s, dir).select(col("l_extendedprice").as("v"))
      }, edBuckets),
    Some(s"""WITH r AS (
        SELECT l_extendedprice AS v,
               ROW_NUMBER() OVER (ORDER BY l_extendedprice) - 1 AS rn0,
               COUNT(1) OVER () AS n
        FROM lineitem WHERE l_extendedprice IS NOT NULL
      )
      SELECT CAST((rn0 * $edBuckets) // n AS BIGINT) AS bucket,
             MIN(v) AS lo_value, MAX(v) AS hi_value, COUNT(1) AS n_rows
      FROM r GROUP BY 1"""))

  // ---- q131: weighted PageRank over the nation trade graph -----------------
  /** Exact scaled-integer PageRank core, shared by the query and its spec.
    * Ranks are BIGINT multiples of 1e-15 (S = 1e15); edge probabilities are
    * pre-quantized to BIGINT multiples of 1e-9; every iteration is integer
    * multiply / floor-divide / sum — order-independent and replayed verbatim
    * by the oracle in HUGEINT arithmetic, so ten iterations stay bit-equal
    * across engines with zero float accumulation. Dangling mass (nodes with
    * no out-edges) redistributes uniformly, the standard correction. */
  private[graft] def pageRankScaled(
      nodes: Seq[String], edges: Seq[(String, String, Long)],
      iters: Int = 10): Map[String, BigInt] = {
    val S = BigInt("1000000000000000")
    val P = BigInt(1000000000)
    val n = BigInt(nodes.length)
    val outW = nodes.map(v => v -> edges.filter(_._1 == v).map(_._3).sum).toMap
    val p = edges.map { case (src, dst, w) => (src, dst, BigInt(w) * P / BigInt(outW(src))) }
    val byDst = p.groupBy(_._2)
    var r = nodes.map(v => v -> S / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filter(v => outW(v) == 0L).map(r).sum
      r = nodes.map { v =>
        val contrib = byDst.getOrElse(v, Nil)
          .map { case (src, _, pp) => r(src) * pp / P }.sum
        v -> (BigInt(15) * S / (BigInt(100) * n) +
          BigInt(85) * (contrib + dang / n) / BigInt(100))
      }.toMap
    }
    r
  }

  /** Weighted PageRank over the nation-level trade graph — the centrality
    * measure a marketplace/flow analysis runs: an edge supplier-nation →
    * customer-nation per lineitem, weighted by shipment count, damping 0.85,
    * ten fixed iterations, uniform dangling-mass redistribution.
    *
    * Scale split: ALL the data-proportional work is the distributed edge
    * build — lineitem ⋈ orders co-partitioned on orderkey, dim joins
    * broadcast — collapsing 100 TB of shipments to at most |nations|² edge
    * weights in one map-side-combined aggregate. The graph solve then runs
    * on that dimension-bounded summary driver-side (the q122 literal
    * pattern: collect is bounded by the 25-row nation dimension, never by
    * data volume). Exactness: see [[pageRankScaled]] — the oracle unrolls
    * the same ten integer iterations as chained CTEs in HUGEINT, so the
    * final ranks (and the single double reconstruction per node) hash-match
    * bit-for-bit. */
  val tradePageRank: Q = Q(
    "q131_trade_pagerank",
    (s, dir) => {
      import s.implicits._
      val nation = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      val edgeDf = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("sk"), col("n_name").as("src"))),
          col("s_nationkey") === col("sk"))
        .join(broadcast(nation.select(col("n_nationkey").as("ck"), col("n_name").as("dst"))),
          col("c_nationkey") === col("ck"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      // bounded collects: ≤ |nations|² edges, |nations| nodes (dimension-sized)
      val edges = edgeDf.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val nodes = nation.select("n_name").collect().map(_.getString(0)).toSeq.sorted
      val ranks = pageRankScaled(nodes, edges)
      val outW = nodes.map(v => v -> edges.filter(_._1 == v).map(_._3).sum).toMap
      nodes.map(v => (v, ranks(v).toLong, ranks(v).toLong.toDouble / 1e15, outW(v)))
        .toDF("nation", "rank_scaled", "rank", "w_out")
    },
    Some {
      val S = "1000000000000000"
      val iters = (1 to 10).map { k =>
        s""", c$k AS MATERIALIZED (
            SELECT p.dst AS nation,
                   SUM((CAST(r.r AS HUGEINT) * p.p) // 1000000000) AS contrib
            FROM p JOIN r${k - 1} r ON r.nation = p.src GROUP BY 1
          ), d$k AS MATERIALIZED (
            SELECT COALESCE(SUM(r.r), 0) AS dang
            FROM r${k - 1} r JOIN outw o ON o.nation = r.nation AND o.w_out = 0
          ), r$k AS MATERIALIZED (
            SELECT n.nation,
                   (15 * $S) // (100 * (SELECT COUNT(1) FROM nodes))
                   + (85 * (COALESCE(c.contrib, 0)
                        + (SELECT dang FROM d$k) // (SELECT COUNT(1) FROM nodes)))
                     // 100 AS r
            FROM nodes n LEFT JOIN c$k c ON c.nation = n.nation
          )"""
      }.mkString("\n")
      s"""WITH e0 AS MATERIALIZED (
          SELECT sn.n_name AS src, cn.n_name AS dst, COUNT(1) AS w
          FROM lineitem l
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation sn ON sn.n_nationkey = s.s_nationkey
          JOIN nation cn ON cn.n_nationkey = c.c_nationkey
          GROUP BY 1, 2
        ), nodes AS MATERIALIZED (SELECT n_name AS nation FROM nation),
        outw AS MATERIALIZED (
          SELECT n.nation, CAST(COALESCE(SUM(e.w), 0) AS BIGINT) AS w_out
          FROM nodes n LEFT JOIN e0 e ON e.src = n.nation GROUP BY 1
        ), p AS MATERIALIZED (
          SELECT e0.src, e0.dst,
                 CAST(e0.w AS HUGEINT) * 1000000000 // o.w_out AS p
          FROM e0 JOIN outw o ON o.nation = e0.src
        ), r0 AS MATERIALIZED (
          SELECT nation,
                 CAST($S // (SELECT COUNT(1) FROM nodes) AS HUGEINT) AS r
          FROM nodes
        )
        $iters
        SELECT r10.nation, CAST(r10.r AS BIGINT) AS rank_scaled,
               CAST(r10.r AS DOUBLE) / 1e15 AS rank, o.w_out
        FROM r10 JOIN outw o ON o.nation = r10.nation"""
    })

  // ---- q147: group-wise exact OLS ------------------------------------------
  /** q147: per-source simple linear regression of token count on character
    * count — closed-form OLS from the five EXACT moment sums (n, Σx, Σy,
    * Σxy, Σx², Σy²), the per-group trend diagnostic ("are tokens scaling
    * with bytes the same way in every source?") a corpus pipeline runs to
    * catch tokenizer drift per domain. The moments accumulate as
    * DECIMAL(38,0) — order-independent under any partitioning AND
    * overflow-safe where BIGINT n·Σx² is not at planet scale (n≈1e10,
    * x≈1e3 ⇒ n·Σx² ≈ 1e26 > 2^63). Slope/intercept/r² are then
    * fixed-shape doubles: each exact decimal is cast once
    * (correctly-rounded) and combined with one IEEE ÷ or ×, bit-identical
    * cross-engine.
    *
    * Distributed shape: one map-side-combined aggregate over the scan; the
    * algebra runs on |sources| rows. Nothing else touches the data. */
  val groupwiseOls: Q = Q(
    "q147_groupwise_ols",
    (s, dir) => {
      val m = Tables.documents(s, dir)
        .select(col("source"),
          col("n_chars").cast("decimal(38,0)").as("x"),
          size(split(col("text"), " ")).cast("long").cast("decimal(38,0)").as("y"))
        .groupBy("source")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      m.withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den_x", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("den_y", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("den_x") > 0)
        .withColumn("slope", col("num").cast("double") / col("den_x").cast("double"))
        .withColumn("intercept",
          (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
            / col("n").cast("double"))
        .withColumn("r2", when(col("den_y") > 0,
          (col("num").cast("double") * col("num").cast("double"))
            / (col("den_x").cast("double") * col("den_y").cast("double")))
          .otherwise(lit(1.0)))
        .select(col("source"), col("n").cast("long").as("n_docs"),
          col("slope"), col("intercept"), col("r2"))
    },
    Some("""WITH m AS (
        -- HUGEINT = DuckDB's 128-bit exact integer, value-identical to the
        -- Spark side's DECIMAL(38,0) sums on these magnitudes
        SELECT source, CAST(count(1) AS HUGEINT) AS n,
          SUM(CAST(n_chars AS HUGEINT)) AS sx,
          SUM(CAST(len(string_split(text, ' ')) AS HUGEINT)) AS sy,
          SUM(CAST(n_chars AS HUGEINT) * CAST(len(string_split(text, ' ')) AS HUGEINT)) AS sxy,
          SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS sxx,
          SUM(CAST(len(string_split(text, ' ')) AS HUGEINT) * CAST(len(string_split(text, ' ')) AS HUGEINT)) AS syy
        FROM documents GROUP BY source
      ), alg AS (
        SELECT source, n,
          n * sxy - sx * sy AS num,
          n * sxx - sx * sx AS den_x,
          n * syy - sy * sy AS den_y, sx, sy
        FROM m
      )
      SELECT source, CAST(n AS BIGINT) AS n_docs,
        CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE) AS slope,
        (CAST(sy AS DOUBLE) - (CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE)) * CAST(sx AS DOUBLE))
          / CAST(n AS DOUBLE) AS intercept,
        CASE WHEN den_y > 0 THEN
          (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
            / (CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE))
        ELSE 1.0 END AS r2
      FROM alg WHERE den_x > 0"""))

  // ---- q151: market-share star query (TPC-H Q8 shape) ----------------------
  /** q151: national market share — of all revenue from orders placed by
    * ASIA-region customers, the fraction supplied by NATION_2, per order
    * year (the TPC-H Q8 shape on this star schema). Revenue is exact
    * integer 10⁻⁴-dollars (price cents × discount complement percent), so
    * the share is one BIGINT/BIGINT→double division per year.
    *
    * Distributed shape: the canonical broadcast-chain star join — lineitem
    * (the only fact-sized table) streams once; orders joins on the
    * co-partitioned orderkey; customer/supplier/nation/region are all
    * broadcast dims, with the region filter applied INSIDE the dim before
    * broadcast so the customer side shrinks before it ships. No shuffle
    * touches fact rows except the single orderkey join and the final
    * |years|-row aggregate. */
  val marketShare: Q = Q(
    "q151_market_share",
    (s, dir) => {
      val nation = Tables.nation(s, dir)
      val region = Tables.region(s, dir)
      val asiaNations = nation.join(
          broadcast(region.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cust_nk"))
      val custAsia = Tables.customer(s, dir)
        .join(broadcast(asiaNations), col("c_nationkey") === col("cust_nk"))
        .select("c_custkey")
      val suppNation = Tables.supplier(s, dir)
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val rev = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          (expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            * (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
            .as("rev_e4"))
      val orders = Tables.orders(s, dir)
        .join(custAsia, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      rev.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(sum("rev_e4").as("total_rev_e4"),
          sum(when(col("supp_nation") === "NATION_2", col("rev_e4"))
            .otherwise(0L)).as("focus_rev_e4"))
        .withColumn("mkt_share",
          col("focus_rev_e4").cast("double") / col("total_rev_e4").cast("double"))
    },
    Some("""WITH rev AS (
        SELECT l_orderkey, l_suppkey,
          CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4
        FROM lineitem
      ), cust_asia AS (
        SELECT c_custkey FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
      ), o AS (
        SELECT o_orderkey, year(CAST(o_orderdate AS TIMESTAMP)) AS o_year
        FROM orders JOIN cust_asia ON o_custkey = c_custkey
      ), sn AS (
        SELECT s_suppkey, n_name AS supp_nation
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
      )
      SELECT o.o_year,
        CAST(SUM(rev.rev_e4) AS BIGINT) AS total_rev_e4,
        CAST(SUM(CASE WHEN sn.supp_nation = 'NATION_2' THEN rev.rev_e4 ELSE 0 END) AS BIGINT)
          AS focus_rev_e4,
        CAST(SUM(CASE WHEN sn.supp_nation = 'NATION_2' THEN rev.rev_e4 ELSE 0 END) AS DOUBLE)
          / CAST(SUM(rev.rev_e4) AS DOUBLE) AS mkt_share
      FROM rev JOIN o ON rev.l_orderkey = o.o_orderkey
      JOIN sn ON rev.l_suppkey = sn.s_suppkey
      GROUP BY o.o_year"""))

  // ---- q149: degree-ordered triangle counting ------------------------------
  /** q149: per-vertex triangle counts on the word co-occurrence graph
    * (words linked when they share ≥ 65% of documents — the threshold is an
    * exact integer cross-multiply against the corpus size, so the graph
    * definition scales with the data instead of pinning a count). Triangle
    * counting is THE clustering-coefficient/community primitive, and the
    * implementation is the canonical distributed algorithm (Cohen 2009;
    * Suri & Vassilvitskii's MR-friendly variant): orient every undirected
    * edge from its (degree, id)-smaller endpoint to the larger, enumerate
    * wedges only at each vertex's out-neighborhood, and close each wedge
    * against the oriented edge set — every triangle is found EXACTLY once,
    * and no vertex ever materializes more than its out-degree² wedges,
    * which the degree orientation bounds by O(m^{3/2}) total regardless of
    * skew (a hub's wedges are charged to its low-degree neighbors).
    *
    * Distributed shape: wedge build and closure are two self-joins on
    * vertex keys — shuffle volume is the wedge count, the algorithm's
    * information-theoretic floor; the naive undirected 3-way join would
    * shuffle deg² per hub. Per-word counts come from one explode of the
    * triangle rows. */
  val triangles: Q = Q(
    "q149_triangles",
    (s, dir) => {
      val words = Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val und = words.as("a").join(words.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.word") < col("b.word"))
        .groupBy(col("a.word").as("wa"), col("b.word").as("wb"))
        .agg(count(lit(1)).as("co"))
        .crossJoin(broadcast(nDocs))
        .filter(col("co") * 100 >= col("n_docs") * 65)
        .select("wa", "wb")
      val deg = und.select(col("wa").as("w")).unionAll(und.select(col("wb").as("w")))
        .groupBy("w").agg(count(lit(1)).as("d"))
      val oriented = und
        .join(deg.withColumnRenamed("w", "wa").withColumnRenamed("d", "da"), "wa")
        .join(deg.withColumnRenamed("w", "wb").withColumnRenamed("d", "db"), "wb")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("wa") < col("wb")),
            col("wa")).otherwise(col("wb")).as("src"),
          when(col("da") < col("db") || (col("da") === col("db") && col("wa") < col("wb")),
            col("wb")).otherwise(col("wa")).as("dst"))
      val wedges = oriented.as("x").join(oriented.as("y"),
          col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
        .select(col("x.src").as("u"), col("x.dst").as("v"), col("y.dst").as("w"))
      // close the wedge: the third edge is oriented either v→w or w→v.
      // Canonicalize the oriented edges back to (lexical-lo, lexical-hi)
      // so the closure is a plain two-column EQUI-join — an OR of the two
      // orientations is un-hashable and Spark planned it as a
      // CartesianProduct over all wedges × all edges (caught by the r13
      // plan gate; quadratic at scale). The wedge build already emits
      // v < w lexically, so the canonical key matches exactly the same
      // rows the OR condition did.
      val closing = oriented.select(
        least(col("src"), col("dst")).as("v"),
        greatest(col("src"), col("dst")).as("w"))
      val tri = wedges.join(closing, Seq("v", "w"))
        .select("u", "v", "w")
      tri.select(explode(array(col("u"), col("v"), col("w"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n_triangles"))
    },
    Some("""WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
        FROM documents
      ), nd AS (SELECT count(1) AS n_docs FROM documents
      ), e AS (
        SELECT a.word AS wa, b.word AS wb
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.word < b.word
        GROUP BY a.word, b.word
        HAVING count(1) * 100 >= (SELECT n_docs FROM nd) * 65
      ), tri AS (
        -- undirected 3-way enumeration with a < b < c: each triangle once
        SELECT e1.wa AS a, e1.wb AS b, e2.wb AS c
        FROM e e1
        JOIN e e2 ON e2.wa = e1.wb
        JOIN e e3 ON e3.wa = e1.wa AND e3.wb = e2.wb
      ), members AS (
        SELECT a AS word FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
      )
      SELECT word, count(1) AS n_triangles FROM members GROUP BY word"""))

  // ---- q160: chi-square independence audit ---------------------------------
  /** q160: χ² independence of the (source, lang) contingency — the metadata
    * drift audit ("did language mix shift per source?") behind corpus
    * release gates. The FULL grid (zero cells included via a dims scaffold
    * — a missing cell still contributes its expected count) gets per-cell
    * observed, expected = row·col/N, and the (o−e)²/e term as fixed-shape
    * doubles from exact integers; the total χ² is a DECIMAL(38,12)-rounded
    * exact sum of cell terms (order-independent where a double Σ over
    * cells would depend on plan order), repeated per row with the dof so
    * one output both itemizes and summarizes.
    *
    * Distributed shape: one (source, lang) count over the scan; everything
    * else — scaffold cross, margins, terms, total — runs on the
    * dims-sized grid. */
  val chi2Independence: Q = Q(
    "q160_chi2_independence",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val obs = d.groupBy("source", "lang").agg(count(lit(1)).as("observed"))
      val grid = d.select("source").distinct()
        .crossJoin(d.select("lang").distinct())
        .join(obs, Seq("source", "lang"), "left")
        .withColumn("observed", coalesce(col("observed"), lit(0L)))
      val rowT = grid.groupBy("source").agg(sum("observed").as("row_tot"))
      val colT = grid.groupBy("lang").agg(sum("observed").as("col_tot"))
      val tot = grid.agg(sum("observed").as("n"),
        countDistinct("source").as("nr"), countDistinct("lang").as("nc"))
      val cells = grid.join(broadcast(rowT), "source").join(broadcast(colT), "lang")
        .crossJoin(broadcast(tot))
        .withColumn("expected",
          (col("row_tot").cast("double") * col("col_tot").cast("double"))
            / col("n").cast("double"))
        .withColumn("term",
          ((col("observed").cast("double") - col("expected"))
            * (col("observed").cast("double") - col("expected"))) / col("expected"))
      cells
        .withColumn("chi2_total",
          sum(expr("cast(term as decimal(38,12))"))
            .over(Window.partitionBy(lit(1))).cast("double"))
        .withColumn("dof", (col("nr") - 1) * (col("nc") - 1))
        .select("source", "lang", "observed", "expected", "term", "chi2_total", "dof")
    },
    Some("""WITH d AS (
        SELECT source, lang FROM documents
      ), obs AS (
        SELECT source, lang, count(1) AS observed FROM d GROUP BY source, lang
      ), grid AS (
        SELECT s.source, l.lang, COALESCE(o.observed, 0) AS observed
        FROM (SELECT DISTINCT source FROM d) s
        CROSS JOIN (SELECT DISTINCT lang FROM d) l
        LEFT JOIN obs o ON o.source = s.source AND o.lang = l.lang
      ), rt AS (
        SELECT source, SUM(observed) AS row_tot FROM grid GROUP BY source
      ), ct AS (
        SELECT lang, SUM(observed) AS col_tot FROM grid GROUP BY lang
      ), tot AS (
        SELECT SUM(observed) AS n, COUNT(DISTINCT source) AS nr,
               COUNT(DISTINCT lang) AS nc
        FROM grid
      ), cells AS (
        SELECT g.source, g.lang, CAST(g.observed AS BIGINT) AS observed,
          (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
            / CAST(tot.n AS DOUBLE) AS expected,
          ((CAST(g.observed AS DOUBLE)
              - (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
                / CAST(tot.n AS DOUBLE))
           * (CAST(g.observed AS DOUBLE)
              - (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
                / CAST(tot.n AS DOUBLE)))
            / ((CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
               / CAST(tot.n AS DOUBLE)) AS term,
          tot.nr, tot.nc
        FROM grid g
        JOIN rt ON rt.source = g.source
        JOIN ct ON ct.lang = g.lang
        CROSS JOIN tot
      )
      SELECT source, lang, observed, expected, term,
        CAST(SUM(CAST(term AS DECIMAL(38,12))) OVER () AS DOUBLE) AS chi2_total,
        (nr - 1) * (nc - 1) AS dof
      FROM cells"""))

  // ---- q166: rolling exact median ------------------------------------------
  /** q166: trailing-9-order rolling MEDIAN of order value per customer — the
    * robust rolling statistic where q03/q99's rolling SUM family is
    * mean-like and outlier-fragile. Exactness across engines comes from
    * pinning the OP SEQUENCE, not just the values: the frame's values are
    * collected and sorted per row, and the median is computed explicitly
    * ((lo + hi) / 2 on the two central cents, one addition and one dyadic
    * division) — DuckDB's quantile_cont would interpolate with a different
    * formula, so the oracle replays the same list-sort-and-pick instead.
    * Cents are BIGINT; the only double op is the final /2 (exact: cents+
    * cents is exact and /2 is dyadic... rounded once when odd — the same
    * single rounding in both engines).
    *
    * Distributed shape: one custkey-partitioned window; the frame is 9
    * rows, so the per-row collect is O(w log w) on a constant w — rolling
    * robust stats are frame-bounded by construction. */
  val rollingMedian: Q = Q(
    "q166_rolling_median",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderkey"))
        .rowsBetween(-8, Window.currentRow)
      o.withColumn("frame", sort_array(collect_list("cents").over(w)))
        .withColumn("n", size(col("frame")))
        .withColumn("med_cents_x2",
          expr("element_at(frame, CAST((n + 1) div 2 AS INT)) + " +
            "element_at(frame, CAST(n div 2 + 1 AS INT))"))
        .select(col("o_custkey"), col("o_orderkey"), col("cents"),
          col("n").cast("long").as("n_window"),
          (col("med_cents_x2").cast("double") / 2.0d).as("rolling_median_cents"))
    },
    Some("""WITH o AS (
        SELECT o_custkey, o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
      ), f AS (
        SELECT o_custkey, o_orderkey, cents,
               list_sort(list(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)) AS frame
        FROM o
      )
      SELECT o_custkey, o_orderkey, cents,
             CAST(len(frame) AS BIGINT) AS n_window,
             CAST(frame[(len(frame) + 1) // 2] + frame[len(frame) // 2 + 1] AS DOUBLE) / 2.0
               AS rolling_median_cents
      FROM f"""))

  // ---- q170: per-group Gini coefficient ------------------------------------
  /** q170: Gini coefficient of customer spend per nation — the standard
    * concentration measure ("is revenue dominated by a few accounts?").
    * Computed exactly from the rank formula on cents: with spend sorted
    * ascending and 1-based rank i, G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) —
    * every term BIGINT (rank ties carry equal x, so Σ i·xᵢ is
    * tie-order-invariant), one double division at the end. Customers with
    * no orders count as zero spend (a left join, not an inner one — their
    * absence would understate inequality).
    *
    * Distributed shape: one custkey-collapsed spend aggregation, a
    * broadcast nation dim, one nation-partitioned rank window, a
    * |nations|-row aggregate. */
  val giniSpend: Q = Q(
    "q170_gini_spend",
    (s, dir) => {
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val cust = Tables.customer(s, dir)
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_nationkey"),
          coalesce(col("cents"), lit(0L)).as("cents"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
      val w = Window.partitionBy("n_name").orderBy(col("cents"), col("c_custkey"))
      cust
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_customers"),
          sum("cents").as("total_cents"),
          sum(col("i") * col("cents")).as("rank_weighted"))
        .withColumn("gini",
          (lit(2L) * col("rank_weighted") - (col("n_customers") + 1) * col("total_cents"))
            .cast("double")
            / (col("n_customers") * col("total_cents")).cast("double"))
        .select("nation", "n_customers", "total_cents", "gini")
    },
    Some("""WITH spend AS (
        SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
      ), cust AS (
        SELECT c.c_custkey, n.n_name, COALESCE(s.cents, 0) AS cents
        FROM customer c
        LEFT JOIN spend s ON c.c_custkey = s.o_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
      ), ranked AS (
        SELECT n_name, cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY n_name
                 ORDER BY cents, c_custkey) AS BIGINT) AS i
        FROM cust
      )
      SELECT n_name AS nation, count(1) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS total_cents,
             CAST(2 * SUM(i * cents) - (count(1) + 1) * SUM(cents) AS DOUBLE)
               / CAST(count(1) * SUM(cents) AS DOUBLE) AS gini
      FROM ranked GROUP BY n_name"""))

  // ---- q136: hash-fold jackknife CI ----------------------------------------
  /** q136: delete-a-group jackknife confidence interval for a corpus-level
    * metric (mean document length) — the one-pass uncertainty estimate a
    * pipeline attaches to every corpus-card number at 100 TB, where
    * resampling replicas are unaffordable. Documents are assigned to K=16
    * folds by one engine-portable md5 hex digit (the [[Md5Draw]] idiom);
    * each fold's exact BIGINT moments (Σ n_chars, n) give the
    * leave-one-fold-out mean θ_f = (S−S_f)·10⁶ DIV (N−N_f) in exact
    * scaled-integer space (both operands positive, so Spark's
    * truncating DIV and DuckDB's flooring // agree), and the jackknife
    * variance (K−1)/K · Σ(θ_f−θ̄)² folds as the exact integer
    * Σ(K·θ_f−T)² (DECIMAL(38,0) / HUGEINT) — floats appear only in the
    * final fixed-shape divide/sqrt chain, so the result is bit-identical
    * cross-engine (conversion contract atop Pipelines.scala; the Σ(…)²
    * integer stays ≪ 2^53 for any plausible per-fold mean spread).
    *
    * Distributed shape: ONE map-side-combined 16-group aggregation over a
    * single projected column — the only document-scale work — then exact
    * driver algebra over the collected 16 fold rows (bounded at 16 by
    * construction, the same measured-collect policy as the BFS probe; a
    * frame-side formulation would instead replay the fold aggregation once
    * per algebra stage, since Spark does not dedupe shared subplans). No
    * resampling pass, no per-replica shuffle — the reason the jackknife
    * (not the bootstrap) is the scale-native CI here. */
  val jackknifeCi: Q = Q(
    "q136_jackknife_ci",
    (s, dir) => {
      import s.implicits._
      val folds = Tables.documents(s, dir)
        .select(substring(md5(col("doc_id").cast("string")), 1, 1).as("fold"),
          col("n_chars"))
        .groupBy("fold")
        .agg(sum("n_chars").as("s_f"), count(lit(1)).as("n_f"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val k = folds.length.toLong
      val sTot = folds.map(_._1).sum
      val n = folds.map(_._2).sum
      // BigInt multiply: the ×1e6 fixed-point scale wraps a Scala Long once
      // total corpus chars exceed ~9.2e12 (≈10 TB of text) — exactly the
      // scale this operator claims. DuckDB's BIGINT multiply RAISES there;
      // the require mirrors that raise so the engines fail loudly together
      // instead of Spark silently wrapping while the oracle errors.
      require(sTot <= Long.MaxValue / 1000000L,
        s"q136: total corpus chars $sTot would overflow the BIGINT*1e6 " +
          "fixed-point grid (DuckDB raises here); rescale the theta grid")
      val thetas = folds.map { case (sf, nf) => (BigInt(sTot - sf) * 1000000) / (n - nf) }
      val t = thetas.sum
      val d = thetas.map { th => val dv = BigInt(k) * th - t; dv * dv }.sum
      val mean = sTot.toDouble / n.toDouble
      val se = math.sqrt(d.toDouble * (k - 1).toDouble
        / (k * k * k).toDouble) / 1e6
      Seq((n, k, mean, se, mean - 1.96 * se, mean + 1.96 * se))
        .toDF("n_docs", "n_folds", "mean_chars", "jk_se", "ci_lo", "ci_hi")
    },
    Some("""WITH f AS (
        SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS fold,
               CAST(SUM(n_chars) AS BIGINT) AS s_f, count(1) AS n_f
        FROM documents GROUP BY 1
      ), t AS (
        SELECT CAST(SUM(s_f) AS BIGINT) AS s, CAST(SUM(n_f) AS BIGINT) AS n,
               count(1) AS k FROM f
      ), th AS (
        SELECT t.s, t.n, t.k,
               CAST(((t.s - f.s_f) * 1000000) // (t.n - f.n_f) AS BIGINT) AS theta
        FROM f, t
      ), ts AS (
        SELECT s, n, k, CAST(SUM(theta) AS BIGINT) AS t FROM th GROUP BY s, n, k
      ), d AS (
        SELECT th.s, th.n, th.k, ts.t,
               SUM(CAST(th.k * th.theta - ts.t AS HUGEINT)
                 * CAST(th.k * th.theta - ts.t AS HUGEINT)) AS dd
        FROM th, ts GROUP BY th.s, th.n, th.k, ts.t
      )
      SELECT n AS n_docs, k AS n_folds,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_chars,
             sqrt(CAST(dd AS DOUBLE) * CAST(k - 1 AS DOUBLE)
               / CAST(k * k * k AS DOUBLE)) / 1e6 AS jk_se,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               - 1.96 * (sqrt(CAST(dd AS DOUBLE) * CAST(k - 1 AS DOUBLE)
                 / CAST(k * k * k AS DOUBLE)) / 1e6) AS ci_lo,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + 1.96 * (sqrt(CAST(dd AS DOUBLE) * CAST(k - 1 AS DOUBLE)
                 / CAST(k * k * k AS DOUBLE)) / 1e6) AS ci_hi
      FROM d"""))

  // ---- q186: exact trimmed / winsorized means ------------------------------
  /** q186: per-source 10%-trimmed and winsorized means of document length —
    * the outlier-robust location stats a corpus report quotes next to the
    * raw mean (q110's MAD flags outliers; this REMOVES their influence).
    * Exactness without a per-document sort: lengths collapse to per-(source,
    * value) counts first, so every window below runs over DISTINCT VALUES
    * (bounded by the length domain), not documents — the q113 bucket-parallel
    * idea applied to trimming. A value's kept multiplicity inside the rank
    * window (lo, n−lo] is the overlap of its cumulative-count range with
    * that window (exact, duplicate-correct — partial overlap trims only the
    * copies that fall outside); the winsor bounds are the values whose
    * cumulative count first reaches lo+1 / n−lo. All arithmetic is integer
    * until each mean's single double division.
    *
    * Distributed shape: one map-side-combined value-histogram pass, then
    * per-source windows over distinct lengths. At 100 TB the histogram is
    * the only document-scale shuffle; no one-task sort exists anywhere. */
  val trimmedMean: Q = Q(
    "q186_trimmed_mean",
    (s, dir) => {
      val vals = Tables.documents(s, dir)
        .groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
      val bySrc = Window.partitionBy("source")
      val cw = bySrc.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vals
        .withColumn("cum", sum("cnt").over(cw))
        .withColumn("prev", col("cum") - col("cnt"))
        .withColumn("n", sum("cnt").over(bySrc))
        .withColumn("lo", expr("n DIV 10"))
        .withColumn("kept", greatest(lit(0L),
          least(col("cum"), col("n") - col("lo")) - greatest(col("prev"), col("lo"))))
        .groupBy("source", "n", "lo")
        .agg(sum(col("n_chars") * col("kept")).as("tsum"),
          min(when(col("cum") >= col("lo") + 1, col("n_chars"))).as("vlo"),
          min(when(col("cum") >= col("n") - col("lo"), col("n_chars"))).as("vhi"))
        .select(col("source"), col("n").as("n_docs"),
          col("lo").as("n_trimmed_each_side"),
          (col("tsum").cast("double")
            / (col("n") - lit(2L) * col("lo")).cast("double")).as("trimmed_mean"),
          ((col("tsum") + col("lo") * (col("vlo") + col("vhi"))).cast("double")
            / col("n").cast("double")).as("winsorized_mean"))
    },
    Some("""WITH v AS (
        SELECT source, n_chars, count(1) AS cnt
        FROM documents GROUP BY source, n_chars
      ), c AS (
        SELECT source, n_chars, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM v
      ), k AS (
        SELECT source, n_chars, cnt, cum, cum - cnt AS prev, n, n // 10 AS lo,
               GREATEST(0, LEAST(cum, n - n // 10) - GREATEST(cum - cnt, n // 10))
                 AS kept
        FROM c
      ), g AS (
        SELECT source, n, lo,
               CAST(SUM(n_chars * kept) AS BIGINT) AS tsum,
               MIN(CASE WHEN cum >= lo + 1 THEN n_chars END) AS vlo,
               MIN(CASE WHEN cum >= n - lo THEN n_chars END) AS vhi
        FROM k GROUP BY source, n, lo
      )
      SELECT source, n AS n_docs, lo AS n_trimmed_each_side,
             CAST(tsum AS DOUBLE) / CAST(n - 2 * lo AS DOUBLE) AS trimmed_mean,
             CAST(tsum + lo * (vlo + vhi) AS DOUBLE) / CAST(n AS DOUBLE)
               AS winsorized_mean
      FROM g"""))

  // ---- q197: Benford first-digit audit -------------------------------------
  /** q197: Benford's-law audit of order amounts — the observed first-digit
    * distribution of o_totalprice cents against the Benford expectation
    * P(d) = log₁₀(1+1/d), per digit with the absolute deviation. The
    * classic fabricated-data / generator-artifact detector: natural
    * multiplicative amounts follow Benford closely, uniform synthetic
    * generators (like this corpus's) do NOT — the audit REPORTS the
    * misfit either way. No ln/log runs in either engine: the nine
    * expectations are compile-time double literals (SqlLit pins the
    * DuckDB parse bit-exact), the first digit is the leading character of
    * the integer's decimal rendering (identical in both engines for
    * positive BIGINTs), and obs_freq is one exact-count division.
    *
    * Distributed shape: one map-side-combined 9-group count over a
    * single-column scan; 9-row algebra after. */
  val benfordAudit: Q = Q(
    "q197_benford_audit",
    (s, dir) => {
      val expect = (1 to 9).map(d => d.toLong -> math.log10(1.0 + 1.0 / d)).toMap
      val expectCol = (1 to 9).foldLeft(lit(0.0)) { (acc, d) =>
        when(col("digit") === d.toLong, lit(expect(d.toLong))).otherwise(acc)
      }
      val digits = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 0)
        .select(substring(expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"),
          1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      digits
        .withColumn("total", sum("n").over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("total").cast("double")).as("obs_freq"),
          expectCol.as("benford_freq"))
        .withColumn("abs_dev", abs(col("obs_freq") - col("benford_freq")))
    },
    Some {
      val cases = (1 to 9).map(d =>
        s"WHEN $d THEN ${graft.SqlLit.double(math.log10(1.0 + 1.0 / d))}")
        .mkString(" ")
      s"""WITH dg AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                 AS BIGINT) AS digit,
               count(1) AS n
        FROM orders WHERE o_totalprice > 0 GROUP BY 1
      )
      SELECT digit, n,
             CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS obs_freq,
             CASE digit $cases ELSE 0.0e0 END AS benford_freq,
             abs(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
               - CASE digit $cases ELSE 0.0e0 END) AS abs_dev
      FROM dg"""
    })

  // ---- q175: one-way ANOVA F -----------------------------------------------
  /** q175: one-way ANOVA of document length across sources — the
    * mean-shift member of the drift-stat family (q130 KS: distribution
    * shape; q160 χ²: categorical mix; this: group means). All sums of
    * squares derive from exact integer moments (per-group n, Σx, Σx² as
    * BIGINT): SSB = Σ_g (Σx_g)²/n_g − (Σx)²/N and SSW = SST − SSB are
    * computed as fixed-shape doubles from those exact integers, and
    * F = (SSB/(k−1)) / (SSW/(N−k)) is a fixed chain of IEEE ops —
    * bit-identical cross-engine with no decimal rounding step needed
    * because every divisor enters exactly once in a pinned order.
    * One summary row: k, N, ssb, ssw, f_stat.
    *
    * Distributed shape: one map-side-combined per-source moment pass; the
    * algebra runs on |sources| rows collapsed to one. */
  val anovaF: Q = Q(
    "q175_anova_f",
    (s, dir) => {
      val g = Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sxx"))
      // DECIMAL(38,6) is the conversion-safety scale: every decimal that is
      // CAST to double below is a small DIFFERENCE (ssb, ssw), whose
      // significand stays under 2^53 — a large decimal (sum_gsq ≈ 1e12 at
      // 12 dp) converted directly hits DuckDB's two-step decimal→double
      // rounding and, amplified by the ssb cancellation, breaks the hash
      // (diagnosed at sf0.1). All subtractions happen IN decimal.
      g.agg(count(lit(1)).as("k"), sum("n").as("big_n"),
          sum("sx").as("tx"), sum("sxx").as("txx"),
          sum(expr("cast(cast(sx as double) * cast(sx as double) / cast(n as double)" +
            " as decimal(38,6))")).as("sum_gsq"))
        .withColumn("corr", expr(
          "cast(cast(tx as double) * cast(tx as double) / cast(big_n as double) as decimal(38,6))"))
        .withColumn("ssb", (col("sum_gsq") - col("corr")).cast("double"))
        .withColumn("ssw",
          (col("txx").cast("decimal(38,6)") - col("sum_gsq")).cast("double"))
        .withColumn("f_stat",
          (col("ssb") / (col("k") - 1).cast("double"))
            / (col("ssw") / (col("big_n") - col("k")).cast("double")))
        .select("k", "big_n", "ssb", "ssw", "f_stat")
    },
    Some("""WITH g AS (
        SELECT source, count(1) AS n,
               SUM(CAST(n_chars AS BIGINT)) AS sx,
               SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS sxx
        FROM documents GROUP BY source
      ), t AS (
        SELECT count(1) AS k, SUM(n) AS big_n, SUM(sx) AS tx, SUM(sxx) AS txx,
               SUM(CAST(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                 AS DECIMAL(38,6))) AS sum_gsq
        FROM g
      ), a AS (
        SELECT k, big_n, sum_gsq,
          CAST(CAST(tx AS DOUBLE) * CAST(tx AS DOUBLE) / CAST(big_n AS DOUBLE)
            AS DECIMAL(38,6)) AS corr,
          CAST(txx AS DECIMAL(38,6)) AS txx_dec
        FROM t
      )
      SELECT k, CAST(big_n AS BIGINT) AS big_n,
             CAST(sum_gsq - corr AS DOUBLE) AS ssb,
             CAST(txx_dec - sum_gsq AS DOUBLE) AS ssw,
             (CAST(sum_gsq - corr AS DOUBLE) / CAST(k - 1 AS DOUBLE))
               / (CAST(txx_dec - sum_gsq AS DOUBLE) / CAST(big_n - k AS DOUBLE)) AS f_stat
      FROM a"""))

  // ---- q181: Herfindahl concentration index --------------------------------
  /** q181: HHI of customer spend per nation — the antitrust-style
    * concentration index that complements q170's Gini (HHI weights the
    * TOP of the distribution: one dominant account moves HHI far more
    * than Gini). Formulated conversion-safely per the float contract:
    * instead of Σx²/S² (whose exact integer numerator crosses the 2^53
    * conversion boundary at scale), each customer's share is one
    * fixed-shape double division, its square is rounded to
    * DECIMAL(38,12) (shares² ≤ 1, significand stays tiny), and the HHI
    * is the exact decimal sum → one safe conversion. n_effective = 1/HHI
    * is the "equivalent equal-size competitors" reading.
    *
    * Distributed shape: custkey spend collapse, broadcast nation dim +
    * |nations|-row totals, one nation-keyed aggregate. */
  val hhiSpend: Q = Q(
    "q181_hhi_spend",
    (s, dir) => {
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val cust = Tables.customer(s, dir)
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_nationkey"),
          coalesce(col("cents"), lit(0L)).as("cents"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("cents"))
      val totals = cust.groupBy("nation").agg(sum("cents").as("s_tot"))
      cust.join(broadcast(totals), "nation")
        .withColumn("share", col("cents").cast("double") / col("s_tot").cast("double"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_customers"),
          sum(expr("cast(share * share as decimal(38,12))")).cast("double").as("hhi"))
        .withColumn("n_effective", lit(1.0d) / col("hhi"))
    },
    Some("""WITH spend AS (
        SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
      ), cust AS (
        SELECT n.n_name AS nation, COALESCE(s.cents, 0) AS cents
        FROM customer c
        LEFT JOIN spend s ON c.c_custkey = s.o_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
      ), tot AS (
        SELECT nation, SUM(cents) AS s_tot FROM cust GROUP BY nation
      )
      SELECT c.nation, count(1) AS n_customers,
             CAST(SUM(CAST((CAST(c.cents AS DOUBLE) / CAST(t.s_tot AS DOUBLE))
               * (CAST(c.cents AS DOUBLE) / CAST(t.s_tot AS DOUBLE))
               AS DECIMAL(38,12))) AS DOUBLE) AS hhi,
             1.0 / CAST(SUM(CAST((CAST(c.cents AS DOUBLE) / CAST(t.s_tot AS DOUBLE))
               * (CAST(c.cents AS DOUBLE) / CAST(t.s_tot AS DOUBLE))
               AS DECIMAL(38,12))) AS DOUBLE) AS n_effective
      FROM cust c JOIN tot t ON c.nation = t.nation
      GROUP BY c.nation"""))

  // ---- q217: per-source length-quality Pearson correlation -----------------
  /** q217: exact Pearson correlation between document length (words) and
    * the q20 quality score, per source — the "is quality just a length
    * proxy here" check a mixture designer runs before filtering on either
    * signal (a source where r ≈ 1 gains nothing from a quality floor that
    * a length floor doesn't already give; q173 ranks event streams by
    * Spearman, this is the value-grain moment form over documents).
    *
    * FP shape: the q175 recipe — quality quantizes to the FLOOR(q·10^6)
    * BIGINT grid, all five moment sums (Σx, Σx², Σy, Σy², Σxy) are exact
    * integers, and the correlation is a fixed-shape double chain
    * (cov/√(varx·vary) from the per-source means) on those exact inputs;
    * sqrt is correctly rounded, so both engines agree bit-for-bit.
    * Undefined (zero variance either side) → NULL, never /0.
    *
    * Distributed shape: one scan, one map-side-combined per-source moment
    * aggregate; |sources| rows of driver-free algebra. */
  val lengthQualityCorr: Q = Q(
    "q217_length_quality_corr",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("words", split(col("text"), " "))
        .withColumn("x", size(col("words")).cast("long"))
        .withColumn("stop_n", expr(
          s"size(filter(words, w -> w IN ${TextOps.inList(TextOps.stopwords)}))").cast("long"))
        .withColumn("y",
          floor(TextOps.qualityScore(col("x"), col("stop_n")) * 1000000.0).cast("long"))
      val m = d.groupBy("source").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum("y").as("sy"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val nD = col("n").cast("double")
      val mx = col("sx").cast("double") / nD
      val my = col("sy").cast("double") / nD
      val varx = col("sxx").cast("double") / nD - mx * mx
      val vary = col("syy").cast("double") / nD - my * my
      val cov = col("sxy").cast("double") / nD - mx * my
      m.select(col("source"), col("n").as("n_docs"),
        mx.as("mean_words"), (my / lit(1000000.0)).as("mean_quality"),
        when(varx > 0 && vary > 0, cov / sqrt(varx * vary)).as("pearson_r"))
    },
    Some(s"""WITH d AS (
        SELECT source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
               CAST(FLOOR((${TextOps.qualityScoreSql}) * 1000000.0) AS BIGINT) AS y
        FROM documents
      ), m AS (
        SELECT source, count(1) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM d GROUP BY source
      )
      SELECT source, n AS n_docs,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_words,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean_quality,
             CASE WHEN CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) > 0
                   AND CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) > 0
               THEN (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                    / SQRT((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                             - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                           * (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                             - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                               * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
               END AS pearson_r
      FROM m"""))

  // ---- q247: hash-sample quantile estimation with exact DKW audit ----------
  private val sqK = 256               // sample size (bottom-k by hash)
  private val sqPs = Seq(100L, 250L, 500L, 750L, 900L, 990L) // per-mille
  private val sqDkwPm = 100           // gate: DKW ε at k=256, δ=0.02 → 94.9 pm

  /** q247: approximate quantiles from a DETERMINISTIC uniform sample — the
    * bottom-[[sqK]] docs by md5(doc_id) (order-independent and mergeable:
    * the same bottom-k-of-hashes shape as q241's KMV, so at 100 TB the
    * sample is a TakeOrdered over partial per-partition top-k's, never a
    * global sort) — plus an EXACT audit of what the estimate got wrong:
    * for each target rank p, the sampled estimate's true rank band
    * [rank_lo, rank_hi] in the full corpus, its per-mille rank error, and
    * a `within_dkw` gate column at [[sqDkwPm]] pm (the
    * Dvoretzky–Kiefer–Wolfowitz bound √(ln(2/δ)/2k) at δ = 0.02; the gate
    * is part of the hash-compared result, so an estimator regression fails
    * correctness, not just a benchmark eyeball — the q144/q195 pattern).
    * All arithmetic is integer-exact: the error numerator
    * max(p·N − 1000·rank_hi, 1000·rank_lo − p·N, 0) never leaves BIGINT.
    *
    * Complements q113 (exact equi-depth at fixed cost per boundary): this
    * is the o(N)-communication path a 100 TB profile runs first, with the
    * exact audit as its acceptance harness at test scale. */
  /** Shared q247/q269 estimator+audit tail: per-mille quantile estimates
    * from a ≤ [[sqK]]-row uniform `sample` of (doc_id, n_chars) plus the
    * exact rank-band/DKW audit against the full `docs` frame. Extracted
    * verbatim from q247 so the streamed summary (q269) provably runs the
    * SAME estimator code — the batch↔stream parity-by-shared-stages rule. */
  private[graft] def quantileAuditOf(s: SparkSession, sample: DataFrame,
      docs: DataFrame): DataFrame = {
      import s.implicits._
      // k-row bounded windows (k ≤ 256): rank within the sample + actual k
      val ranked = sample
        .withColumn("sr", row_number().over(
          Window.orderBy(col("n_chars"), col("doc_id"))).cast("long"))
        .withColumn("kk", count(lit(1)).over(
          Window.orderBy(lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      val grid = sqPs.toDF("p_pm")
      val est = ranked.crossJoin(broadcast(grid))
        .filter(col("sr") ===
          greatest(lit(1L), expr("(p_pm * kk + 999) div 1000")))
        .select(col("p_pm"), col("n_chars").as("est_value"),
          col("sr").as("sample_rank"), col("kk").as("sample_k"))
      val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
      val tot = docs.agg(count(lit(1)).as("n_tot"))
      hist.crossJoin(broadcast(est))
        .groupBy("p_pm", "est_value", "sample_rank", "sample_k")
        .agg(
          sum(when(col("n_chars") < col("est_value"), col("c")).otherwise(0L))
            .as("rank_lo"),
          sum(when(col("n_chars") <= col("est_value"), col("c")).otherwise(0L))
            .as("rank_hi"))
        .crossJoin(broadcast(tot))
        .withColumn("dev_num", greatest(
          col("p_pm") * col("n_tot") - lit(1000L) * col("rank_hi"),
          lit(1000L) * col("rank_lo") - col("p_pm") * col("n_tot"), lit(0L)))
        .select(col("p_pm"), col("est_value"), col("sample_rank"),
          col("sample_k"), col("rank_lo"), col("rank_hi"), col("n_tot"),
          expr("CAST(dev_num div n_tot AS BIGINT)").as("err_pm"),
          when(col("dev_num") <= lit(sqDkwPm.toLong) * col("n_tot"), 1L)
            .otherwise(0L).as("within_dkw"))
  }

  val sampleQuantiles: Q = Q(
    "q247_sample_quantiles",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
      val sample = docs
        .withColumn("h", md5(concat(lit("sq|"), col("doc_id").cast("string"))))
        .orderBy("h").limit(sqK) // TakeOrdered: per-partition k, driver merge
      quantileAuditOf(s, sample, docs)
    },
    Some(s"""WITH sample AS (
        SELECT doc_id, n_chars FROM documents
        ORDER BY md5('sq|' || CAST(doc_id AS VARCHAR)) LIMIT $sqK
      ), ranked AS (
        SELECT n_chars, doc_id,
               CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS sr,
               CAST(count(1) OVER () AS BIGINT) AS kk
        FROM sample
      ), grid AS (
        SELECT CAST(unnest([${sqPs.mkString(", ")}]) AS BIGINT) AS p_pm
      ), est AS (
        SELECT g.p_pm, r.n_chars AS est_value, r.sr AS sample_rank,
               r.kk AS sample_k
        FROM ranked r JOIN grid g
          ON r.sr = greatest(CAST(1 AS BIGINT), (g.p_pm * r.kk + 999) // 1000)
      ), tot AS (
        SELECT CAST(count(1) AS BIGINT) AS n_tot FROM documents
      ), ranks AS (
        SELECT e.p_pm, e.est_value, e.sample_rank, e.sample_k,
          CAST(sum(CASE WHEN d.n_chars < e.est_value THEN 1 ELSE 0 END)
            AS BIGINT) AS rank_lo,
          CAST(sum(CASE WHEN d.n_chars <= e.est_value THEN 1 ELSE 0 END)
            AS BIGINT) AS rank_hi
        FROM est e, documents d
        GROUP BY e.p_pm, e.est_value, e.sample_rank, e.sample_k
      )
      SELECT r.p_pm, r.est_value, r.sample_rank, r.sample_k,
             r.rank_lo, r.rank_hi, t.n_tot,
             CAST(greatest(r.p_pm * t.n_tot - 1000 * r.rank_hi,
                           1000 * r.rank_lo - r.p_pm * t.n_tot, 0)
                  // t.n_tot AS BIGINT) AS err_pm,
             CAST(CASE WHEN greatest(r.p_pm * t.n_tot - 1000 * r.rank_hi,
                                     1000 * r.rank_lo - r.p_pm * t.n_tot, 0)
                            <= $sqDkwPm * t.n_tot
                       THEN 1 ELSE 0 END AS BIGINT) AS within_dkw
      FROM ranks r, tot t"""))

  // ---- q269 stages: streaming quantile-sample maintenance ------------------
  /** 2^48, the domain of the 12-hex-digit md5 prefix hash. */
  private val sqsHashMod = 281474976710656L

  /** q269 stage 1 — the row-local sample-candidate stream: each doc maps to
    * a 48-bit uniform hash h of its id and priority pri = 2^48 − h, so the
    * top-[[sqK]] under [[graft.functions.PriorityTopK]]'s total order
    * (pri DESC, id ASC) are exactly the bottom-k by (h ASC, doc_id ASC) —
    * q247's deterministic-uniform-sample shape in the integer form the
    * bounded aggregate carries. Row-local: runs unchanged on a STREAMING
    * documents frame. */
  private[graft] def sqsItemsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      (lit(sqsHashMod) - expr("CAST(conv(substring(md5(concat('squant|', " +
        "CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)")).as("pri"))

  /** q269 stage 2 — the bounded mergeable summary: one global
    * `priority_topk(pri, doc_id, sqK)` row — ≤ k·16 bytes of state however
    * large the corpus, updated/merged by the identical aggregate code batch
    * and streaming. This is the quantile sketch's streaming state shape. */
  private[graft] def sqsSketchOf(s: SparkSession, items: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    items.agg(expr(s"priority_topk(pri, doc_id, $sqK)").as("top"))
  }

  /** q269 stage 3 — quantile estimates off a materialized summary
    * (streaming-agnostic): the ≤ k held doc_ids join back to the corpus for
    * their values (the k-row side is the broadcast side), then the shared
    * [[quantileAuditOf]] tail produces the per-mille estimates and the
    * exact rank-band/DKW audit — q247's estimator verbatim, so streamed ≡
    * batch is a property of shared code, not a coincidence. */
  private[graft] def sqsReport(s: SparkSession, sk: DataFrame,
      dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
    // the aggregate's contract bounds the exploded summary at k entries and
    // doc_id is unique on both join sides, so the joined sample is ≤ k rows
    // BY CONSTRUCTION — the explicit limit(k) on each frame states that
    // bound IN the plan (no row is ever dropped), so the plan gates can
    // prove the broadcast side and the in-sample window are k-row, not
    // fact-proportional — q247's limit idiom
    val held = sk.select(explode(col("top")).as("e"))
      .select(col("e.id").as("doc_id")).limit(sqK)
    quantileAuditOf(s,
      broadcast(held).join(docs, Seq("doc_id")).limit(sqK), docs)
  }

  /** q269's DuckDB oracle — the direct batch replay of the identical
    * selection (bottom-[[sqK]] by the 48-bit id hash; the streamed summary
    * is a pure function of the doc SET, so batch SQL reproduces the sample
    * exactly) followed by q247's estimator/audit SQL verbatim. */
  private[graft] def sqsOracle: Option[String] =
    Some(s"""WITH sample AS (
        SELECT doc_id, n_chars FROM documents
        ORDER BY ('0x' || substr(md5('squant|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT,
                 doc_id
        LIMIT $sqK
      ), ranked AS (
        SELECT n_chars, doc_id,
               CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS sr,
               CAST(count(1) OVER () AS BIGINT) AS kk
        FROM sample
      ), grid AS (
        SELECT CAST(unnest([${sqPs.mkString(", ")}]) AS BIGINT) AS p_pm
      ), est AS (
        SELECT g.p_pm, r.n_chars AS est_value, r.sr AS sample_rank,
               r.kk AS sample_k
        FROM ranked r JOIN grid g
          ON r.sr = greatest(CAST(1 AS BIGINT), (g.p_pm * r.kk + 999) // 1000)
      ), tot AS (
        SELECT CAST(count(1) AS BIGINT) AS n_tot FROM documents
      ), ranks AS (
        SELECT e.p_pm, e.est_value, e.sample_rank, e.sample_k,
          CAST(sum(CASE WHEN d.n_chars < e.est_value THEN 1 ELSE 0 END)
            AS BIGINT) AS rank_lo,
          CAST(sum(CASE WHEN d.n_chars <= e.est_value THEN 1 ELSE 0 END)
            AS BIGINT) AS rank_hi
        FROM est e, documents d
        GROUP BY e.p_pm, e.est_value, e.sample_rank, e.sample_k
      )
      SELECT r.p_pm, r.est_value, r.sample_rank, r.sample_k,
             r.rank_lo, r.rank_hi, t.n_tot,
             CAST(greatest(r.p_pm * t.n_tot - 1000 * r.rank_hi,
                           1000 * r.rank_lo - r.p_pm * t.n_tot, 0)
                  // t.n_tot AS BIGINT) AS err_pm,
             CAST(CASE WHEN greatest(r.p_pm * t.n_tot - 1000 * r.rank_hi,
                                     1000 * r.rank_lo - r.p_pm * t.n_tot, 0)
                            <= $sqDkwPm * t.n_tot
                       THEN 1 ELSE 0 END AS BIGINT) AS within_dkw
      FROM ranks r, tot t""")

  // ---- q265: Theil–Sen robust trend of daily event volume ------------------
  /** q265: the Theil–Sen estimator (median of pairwise slopes) for the
    * daily event-volume trend — the robust-statistics family member next
    * to q147's OLS (which one wild day can drag arbitrarily), q173's
    * Spearman and q110's MAD: breakdown point 29%, so growth/decay of the
    * ingestion rate is read through spikes and outages instead of being
    * owned by them. The slope is reported BOTH ways: the median pair's
    * exact rational (Δcount, Δdays — integers) and the double quotient
    * (int64→double is value-exact, one correctly-rounded division, so the
    * double is bit-identical cross-engine); the intercept is the classic
    * median residual at the reported slope. Selection is a total order
    * (slope, di, dj) with the lower median at even counts — deterministic,
    * no averaging of middle elements (which would double-round).
    *
    * Distributed shape: the ONLY data-sized work is the map-side-combined
    * (day) count; the pairwise-slope table is |days|² on the DIMENSION
    * (epoch days — ~4 k pairs per quarter-year regardless of corpus
    * size), built as a broadcast range self-join of the day-grain
    * aggregate. The SLOPE median (over the |days|² pair frame — quadratic
    * in calendar span, ~6.6 M pairs in one task for a 10-year corpus) runs
    * as a two-phase bucket rank (ADVICE r14): 256 value-range buckets
    * (monotone in the leading sort key, so bucket ranges are
    * order-aligned), per-bucket counts give the exclusive prefix offsets
    * (≤257-row window), only the bucket CONTAINING the target rank is then
    * ranked. The INTERCEPT median ranks day-grain residuals — calendar-
    * bounded, so a single ordered window is already the right shape. Both
    * medians are single-row probes, driver-held between the two passes
    * (the q274/q275 idiom). Selection order (value, tie keys) is unchanged
    * throughout, so the output is bit-identical to the one-task
    * formulation the oracle keeps. */
  private def lowerMedianRow(df: DataFrame, value: String,
      ties: Seq[String]): DataFrame = {
    val stats = df.agg(min(col(value)).as("mn"), max(col(value)).as("mx"),
      count(lit(1)).as("n_rows"))
    val b = df.crossJoin(broadcast(stats))
      .withColumn("fb", when(col("mx") <= col("mn"), lit(0L)).otherwise(
        least(floor((col(value) - col("mn")) / (col("mx") - col("mn")) * 256),
          lit(255)).cast("long")))
    val offs = b.groupBy("fb").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(
        sum("bn").over(Window.orderBy("fb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(stats.select(expr("(n_rows + 1) div 2").as("k"))))
      .filter(col("off") < col("k") && col("k") <= col("off") + col("bn"))
      .select(col("fb"), col("off"), col("k"))
    b.join(broadcast(offs), Seq("fb"))
      .withColumn("rn", row_number().over(Window.partitionBy("fb")
        .orderBy(col(value) +: ties.map(col): _*)))
      .filter(col("off") + col("rn") === col("k"))
      .drop("fb", "off", "k", "rn", "mn", "mx")
  }

  val theilSenTrend: Q = Q(
    "q265_theilsen_trend",
    (s, dir) => {
      // the day-grain aggregate is the ONLY data-sized subtree, and the
      // two median selections reference it (via pairs/resids and the
      // bucket-rank's stats/offsets/final-rank passes) ~20 times in one
      // plan — without materialization each reference re-scans events
      // (r15 VERDICT #1: the 2.1 s isolated reading was all repeated
      // scan, not selection work). One PlanCache'd copy (≤ calendar-span
      // rows) makes every downstream pass dimension-sized.
      val daily = graft.PlanCache.cached(s, "q265_daily", dir,
          s"$dir/events.parquet") {
        Tables.events(s, dir)
          .groupBy(expr("unix_micros(ts) DIV 86400000000").as("d"))
          .agg(count(lit(1)).as("c"))
      }
      // the pair frame is referenced by the bucket rank's three passes
      // (stats, bucket offsets, target-bucket rank); one materialized copy
      // (≤ |days|² rows — dimension-sized) replaces three replays of the
      // range self-join
      val pairs = graft.PlanCache.cached(s, "q265_pairs", dir,
          s"$dir/events.parquet") {
        daily.as("i").join(daily.as("j"), col("i.d") < col("j.d"))
          .select(col("i.d").as("di"), col("j.d").as("dj"),
            col("i.c").as("ci"), col("j.c").as("cj"))
          .withColumn("slope",
            (col("cj") - col("ci")).cast("double")
              / (col("dj") - col("di")).cast("double"))
      }
      // the slope median is a single row BY CONSTRUCTION — collect it (the
      // q274/q275 driver-probe idiom) instead of re-broadcasting its whole
      // bucket-rank subtree into two more plan references (r15 VERDICT #1:
      // the former plan re-evaluated the pair-median subtree per consumer)
      val medOpt = lowerMedianRow(pairs, "slope", Seq("di", "dj"))
        .select(col("n_rows").as("n_pairs"), col("slope"),
          (col("cj") - col("ci")).as("slope_num"),
          (col("dj") - col("di")).as("slope_den"))
        .collect().headOption
      import s.implicits._
      def empty = Seq.empty[(Long, Long, Long, Long, Double, Double)]
        .toDF("n_days", "n_pairs", "slope_num", "slope_den", "slope",
          "intercept")
      medOpt match {
        // ADVICE r16: an empty events table or single-day corpus yields
        // ZERO pairs — return the empty frame (the oracle's med CTE is
        // empty, so its med × resid cross join is too), not a
        // NoSuchElementException
        case None => empty
        case Some(medRow) =>
          val slope = medRow.getDouble(1)
          // the intercept median ranks DAY-grain residuals —
          // calendar-bounded (≤ span days at ANY corpus size), so one
          // ordered window is the scale-correct shape here; the two-phase
          // bucket rank stays on the |days|² pair frame, the side that
          // actually grows quadratically
          val nd = daily.agg(count(lit(1)).as("n_days"))
          val icOpt = daily
            .withColumn("resid",
              col("c").cast("double") - lit(slope) * col("d").cast("double"))
            .crossJoin(broadcast(nd))
            .withColumn("rn",
              row_number().over(Window.orderBy(col("resid"), col("d"))))
            .filter(col("rn") === expr("(n_days + 1) div 2"))
            .select(col("n_days"), col("resid"))
            .collect().headOption
          icOpt match {
            case None => empty // unreachable when pairs ≠ ∅; same contract
            case Some(icRow) =>
              Seq((icRow.getLong(0), medRow.getLong(0), medRow.getLong(2),
                medRow.getLong(3), slope, icRow.getDouble(1)))
                .toDF("n_days", "n_pairs", "slope_num", "slope_den", "slope",
                  "intercept")
          }
      }
    },
    Some("""WITH daily AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
               CAST(count(1) AS BIGINT) AS c
        FROM events GROUP BY 1
      ), pairs AS (
        SELECT i.d AS di, j.d AS dj, i.c AS ci, j.c AS cj,
               CAST(j.c - i.c AS DOUBLE) / CAST(j.d - i.d AS DOUBLE) AS slope
        FROM daily i JOIN daily j ON i.d < j.d
      ), np AS (SELECT CAST(count(1) AS BIGINT) AS n_pairs FROM pairs
      ), med AS (
        SELECT n_pairs, slope, cj - ci AS slope_num, dj - di AS slope_den
        FROM (SELECT *, row_number() OVER (ORDER BY slope, di, dj) AS rn
              FROM pairs) r CROSS JOIN np
        WHERE rn = (n_pairs + 1) // 2
      ), nd AS (SELECT CAST(count(1) AS BIGINT) AS n_days FROM daily
      ), resid AS (
        SELECT n_days, resid AS intercept
        FROM (SELECT d.d, nd.n_days,
                     CAST(d.c AS DOUBLE) - m.slope * CAST(d.d AS DOUBLE) AS resid,
                     row_number() OVER (
                       ORDER BY CAST(d.c AS DOUBLE) - m.slope * CAST(d.d AS DOUBLE),
                                d.d) AS rn
              FROM daily d CROSS JOIN med m CROSS JOIN nd) r
        WHERE rn = (n_days + 1) // 2
      )
      SELECT n_days, n_pairs, slope_num, slope_den, slope, intercept
      FROM med CROSS JOIN resid"""))

  // ---- q273: one-pass Poisson bootstrap CI ---------------------------------
  private val pbReps = 32

  /** Poisson(1) CDF P(X ≤ j) for j = 0..8 at the 48-bit md5-draw scale
    * (⌊cdf·16¹²⌋ as 12-hex-digit literals, computed once from the exact
    * series Σ e⁻¹/i! at 60-digit precision). A uniform 12-hex draw u gives
    * the replicate weight k = #{ j : u ≥ t_j } — the inverse-CDF transform
    * as NINE STRING COMPARES (same-length lowercase hex orders identically
    * to its numeric value in both engines, the q247 bottom-k idiom without
    * even a conv()). The tail k ≥ 9 collapses to 9: P = 1 − cdf(8) ≈
    * 1.1·10⁻⁶ per (doc, replicate), and both engines apply the identical
    * truncation, so the estimates stay bit-identical while the statistical
    * bias is far below the CI's own resolution. */
  private val pbCdfHex = Seq(
    "5e2d58d8b3bc", "bc5ab1b16779", "eb715e1dc158", "fb23979734a2",
    "ff1025f59174", "ffd90f3ba405", "fffa8b71fc72", "ffff540c0914",
    "ffffed1f4aa8")

  /** q273: one-pass Poisson bootstrap of a corpus-level metric (mean document
    * length) — the RESAMPLING uncertainty estimate next to q136's jackknife.
    * The classical bootstrap is unaffordable at 100 TB (R full resampling
    * passes); the Poisson bootstrap (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams", Google 2012) observes that a size-n resample
    * is, per document, R independent Poisson(1) multiplicities — so ALL R
    * replicates ride ONE scan: each doc contributes (replicate, k, k·n_chars)
    * for k = inverse-CDF(md5(doc, rep)) and the rest is a 32-group sum. Where
    * the jackknife linearizes (delete-a-group variance), the bootstrap
    * resamples — it remains valid for non-smooth statistics, which is why a
    * corpus card wants both. Every replicate mean is an exact integer pair
    * (Σ k·n_chars, Σ k) plus one per-mille integral division, so the 32-row
    * result is bit-identical cross-engine; the CI is read off the replicate
    * spread (spec pins the planted-fixture law; the draws themselves are the
    * [[Md5Draw]] contract).
    *
    * Distributed shape: one projected scan explodes ×R=32 BEFORE the partial
    * aggregation, so the map-side combine collapses each partition to ≤ 32
    * rows and the shuffle is 32 rows total, corpus-size-independent. No
    * resampled copy of the data ever materializes — that is the entire point
    * of the Poisson formulation at scale. The ×32 row inflation is CPU-only
    * and embarrassingly parallel; nothing here is fact-proportional past the
    * scan. Σ k·n_chars ACCUMULATES in DECIMAL(38,0) (ADVICE r15: the cast
    * must sit inside the SUM — a BIGINT sum recast afterwards has already
    * wrapped), matching DuckDB's HUGEINT accumulation, so the arithmetic is
    * exact to 10³⁸ on both engines; the one residual 64-bit surface is the
    * REPORTED w_chars column itself, which both engines cast to BIGINT
    * (~9·10¹⁸ ≈ 9000 TB of text — and there Spark nulls while DuckDB
    * errors, a reporting-width limit, not an accumulation wrap). */
  val poissonBootstrap: Q = Q(
    "q273_poisson_bootstrap",
    (s, dir) => {
      val drawn = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          explode(expr(s"sequence(0, ${pbReps - 1})")).as("rep"))
        .withColumn("draw", Md5Draw.draw(12, lit("boot"), col("doc_id"), col("rep")))
        .withColumn("k",
          pbCdfHex.map(t => when(col("draw") >= lit(t), 1L).otherwise(0L))
            .reduce(_ + _))
      drawn
        .groupBy(col("rep").cast("long").as("replicate"))
        .agg(sum("k").as("n_eff"),
          sum(col("k").cast("decimal(38,0)") * col("n_chars")).as("w_dec"))
        .select(col("replicate"), col("n_eff"),
          col("w_dec").cast("long").as("w_chars"),
          expr("CAST(w_dec * 1000 DIV greatest(n_eff, 1) AS BIGINT)")
            .as("mean_permille"))
    },
    Some(s"""WITH r AS (
        SELECT CAST(unnest(range(0, $pbReps)) AS BIGINT) AS rep
      ), d AS (
        SELECT r.rep, doc.n_chars,
               ${pbCdfHex.map(t =>
                 s"(CASE WHEN ${Md5Draw.drawSql(12, "'boot'", "doc.doc_id", "r.rep")}" +
                 s" >= '$t' THEN 1 ELSE 0 END)").mkString("\n               + ")} AS k
        FROM documents doc CROSS JOIN r
      )
      SELECT rep AS replicate, CAST(SUM(k) AS BIGINT) AS n_eff,
             CAST(SUM(k * n_chars) AS BIGINT) AS w_chars,
             CAST(CAST(SUM(k * n_chars) AS HUGEINT) * 1000
               // GREATEST(CAST(SUM(k) AS BIGINT), 1) AS BIGINT) AS mean_permille
      FROM d GROUP BY rep"""))

  val all: Seq[Q] = Seq(windowSuite, setOps, rollup, asofJoin, sqlDdl,
    approxDistinct, percentileStats, pivot, unpivot, cube, countMin, nestedAgg,
    histogram, cooccurrence, weightedMedian, trailingWindow, groupingSets,
    equidepthHist, tradePageRank, groupwiseOls, marketShare, triangles,
    chi2Independence, rollingMedian, giniSpend, anovaF, hhiSpend, jackknifeCi,
    trimmedMean, benfordAudit, lengthQualityCorr, sampleQuantiles,
    theilSenTrend, poissonBootstrap)
}
