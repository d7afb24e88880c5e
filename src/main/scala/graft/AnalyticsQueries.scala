package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General analytics surface (the part of the reference inherited from
  * DataFusion — scans, filters, aggregation, joins, windows; SURVEY.md
  * §2.7): TPC-H-style queries over the driver tables plus event-stream
  * windowing. Monetary values are scaled to integer cents before
  * aggregation so sums are exact and order-independent (cross-engine
  * hash-stable); the events timestamp rides as epoch nanos.
  */
object AnalyticsQueries {

  private def cents(c: String) = expr(s"CAST(round($c * 100) AS BIGINT)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: full-scan aggregate, map-side combine carries it
    "a_q1_pricing" -> ((s, d) =>
      Tables.load(s, d, "lineitem")
        .where(expr("l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"),
          sum(cents("l_extendedprice")).as("sum_base_cents"),
          sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).as("sum_disc_e4"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
    // TPC-H Q3 shape: dim filter -> fact join -> top-k by revenue
    "a_q3_top_orders" -> ((s, d) => {
      val c = Tables.load(s, d, "customer").where(col("c_acctbal") > 1000.0)
        .select(col("c_custkey"))
      val o = Tables.load(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), cents("l_extendedprice").as("price_c"),
          cents("l_discount").as("disc_c"))
      val rev = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("price_c") * (lit(100L) - col("disc_c"))).as("revenue_e4"))
      rev.withColumn("rk", row_number().over(
          Window.orderBy(col("revenue_e4").desc, col("l_orderkey"))))
        .where(col("rk") <= 10)
        .select(col("l_orderkey"), col("revenue_e4"), col("rk").cast("int").as("rk"))
    }),
    // TPC-H Q5 shape: star join through region->nation->supplier/customer
    "a_q5_nation_revenue" -> ((s, d) => {
      val n = Tables.load(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      val sup = Tables.load(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val l = Tables.load(s, d, "lineitem").select(col("l_suppkey"),
        cents("l_extendedprice").as("price_c"), cents("l_discount").as("disc_c"))
      l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("price_c") * (lit(100L) - col("disc_c"))).as("revenue_e4"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),
    // TPC-H Q4 shape: semi-join EXISTS
    "a_q4_exists" -> ((s, d) => {
      val o = Tables.load(s, d, "orders")
      val big = Tables.load(s, d, "lineitem").where(col("l_quantity") > 45.0)
        .select(col("l_orderkey"))
      o.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),
    // per-user running sum over event time (window state shape)
    "a_window_running" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
      val e = ev.select(col("event_id"), col("user_id"),
        Tables.tsMicros(ev).as("ts_us"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("v_milli"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      e.withColumn("running_milli", sum(col("v_milli")).over(w))
        .select(col("event_id"), col("user_id"), col("running_milli"))
    }),
    // sessionization: 30-min-gap islands per user
    "a_sessionize" -> ((s, d) => {
      // µs granularity: DuckDB truncates parquet TIMESTAMP_NS to
      // microseconds, so both engines sessionize on the same clock
      val ev = Tables.load(s, d, "events")
      val e = ev.select(col("user_id"),
        Tables.tsMicros(ev).as("ts_us"), col("event_id"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val gapUs = 30L * 60 * 1000 * 1000
      e.withColumn("new_s",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
            .when(lag(col("ts_us"), 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(w))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"))
    }),
    // top-k with deterministic tie-break
    "a_topk_users" -> ((s, d) => {
      val e = Tables.load(s, d, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 1000) AS BIGINT)")).as("total_milli"))
      e.withColumn("rk", row_number().over(
          Window.orderBy(col("total_milli").desc, col("user_id"))))
        .where(col("rk") <= 10)
        .select(col("user_id"), col("n"), col("total_milli"), col("rk").cast("int").as("rk"))
    }),
    // rollup (reference has no grouping sets — Spark built-in, §2.7)
    "a_rollup" -> ((s, d) =>
      Tables.load(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(expr("CAST(l_quantity AS BIGINT)")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    "a_cube" -> ((s, d) =>
      Tables.load(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(expr("CAST(l_quantity AS BIGINT)")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    // skew-aware two-phase aggregation: 90% of rows share one hot key;
    // salting by a row-derived shard spreads the partial aggregation,
    // the final phase folds the 16 shards — same result as a plain
    // groupBy (the oracle), but no single-reducer hotspot at scale.
    "a_salted_agg" -> ((s, d) => {
      val o = Tables.load(s, d, "orders").selectExpr(
        "CASE WHEN o_orderkey % 10 < 9 THEN 'hot' ELSE concat('c', CAST(o_orderkey % 100 AS STRING)) END AS k",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        "CAST(o_orderkey % 16 AS INT) AS salt")
      o.groupBy(col("k"), col("salt"))
        .agg(count(lit(1)).as("_pn"), sum(col("cents")).as("_ps"))
        .groupBy(col("k"))
        .agg(sum(col("_pn")).cast("long").as("n"), sum(col("_ps")).cast("long").as("total_cents"))
        .orderBy(col("k"))
    }),
    // semi-structured props extraction (training-pipeline metadata path)
    "a_json_extract" -> ((s, d) =>
      Tables.load(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        // trailing orderBy dropped (round 18): the oracle gate is a
        // row-multiset comparison, and the sort cost a range exchange
        // over the full events table
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))),
    "a_count_distinct" -> ((s, d) =>
      Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))),
    // Structured Streaming through the batch gate: the windowed
    // aggregation runs as a REAL stream (parquet file source,
    // watermark, AvailableNow trigger, memory sink) and drains to a
    // table the oracle checks against the equivalent batch grouping.
    // Window bounds project to epoch micros so the compare is
    // timezone-free; totals to integer millis so the float sum order
    // cannot flip hash bits.
    "s7_stream_windows" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      // scale-adaptive stateful width on an isolated child session
      // (round 19, [[graft.streaming.StreamWidth]]): width derives
      // from the source volume instead of the round-18 static 4, and
      // the child session replaces the shared-conf save/restore.
      // The schema comes from the frame loaded on the parent; scoped
      // carries its nanosAsLong flag to the child, so no second
      // footer inference runs on the child.
      val batch = Tables.load(s, d, "events")
      val ns = graft.streaming.StreamWidth.scoped(s,
        graft.streaming.StreamWidth.estimatedBytes(batch))
      val schema = batch.schema
      // the file stream source wants a DIRECTORY; the glob filter
      // scopes it to the events table within the shared testdata dir
      val stream = ns.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
      // Branch on the physical type exactly like Tables.tsMicros: when
      // the generator wrote TIMESTAMP(NANOS) the legacy flag surfaces
      // ts as a nanos Long, and CAST(BIGINT AS TIMESTAMP) would read
      // it as SECONDS — window bounds would be garbage.
      val ev = schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          stream.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case _ => stream.withColumn("ts", col("ts").cast("timestamp"))
      }
      val out = graft.streaming.EventStreams.windowedCounts(ev)
        .select(unix_micros(col("window_start").cast("timestamp")).as("window_start_us"),
          unix_micros(col("window_end").cast("timestamp")).as("window_end_us"),
          col("event_type"), col("n"),
          expr("CAST(round(total * 1000) AS BIGINT)").as("total_milli"))
      // fixed sink name (ADVICE r15), registered on the throwaway
      // child session, which dies with this invocation
      val name = "s7win_sink"
      val sq = out.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      ns.table(name)
    }),
  )

  private val lcents = (c: String) => s"CAST(round($c * 100) AS BIGINT)"

  val oracleSql: Map[String, String] = Map(
    "a_q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         | CAST(SUM(${lcents("l_extendedprice")}) AS BIGINT) AS sum_base_cents,
         | CAST(SUM(${lcents("l_extendedprice")} * (100 - ${lcents("l_discount")})) AS BIGINT) AS sum_disc_e4,
         | CAST(COUNT(*) AS BIGINT) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""
        .stripMargin.replace("\n", " "),
    "a_q3_top_orders" ->
      s"""WITH rev AS (SELECT l_orderkey,
         |  SUM(${lcents("l_extendedprice")} * (100 - ${lcents("l_discount")})) AS revenue_e4
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 1000.0)
         | GROUP BY l_orderkey)
         |SELECT l_orderkey, CAST(revenue_e4 AS BIGINT) AS revenue_e4, CAST(rk AS INT) AS rk FROM
         | (SELECT *, ROW_NUMBER() OVER (ORDER BY revenue_e4 DESC, l_orderkey) AS rk FROM rev)
         |WHERE rk <= 10 ORDER BY rk""".stripMargin.replace("\n", " "),
    "a_q5_nation_revenue" ->
      s"""SELECT n_name,
         | CAST(SUM(${lcents("l_extendedprice")} * (100 - ${lcents("l_discount")})) AS BIGINT) AS revenue_e4,
         | CAST(COUNT(*) AS BIGINT) AS n_items
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         | JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " "),
    "a_q4_exists" ->
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count FROM orders
         |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " "),
    "a_window_running" ->
      s"""SELECT event_id, user_id,
         | CAST(SUM(CAST(round(value * 1000) AS BIGINT)) OVER
         |  (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_milli
         |FROM events ORDER BY event_id""".stripMargin.replace("\n", " "),
    "a_sessionize" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
         |f AS (SELECT user_id, ts_us, event_id,
         |  CASE WHEN LAG(ts_us) OVER w IS NULL THEN 1
         |   WHEN ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |g AS (SELECT user_id, ts_us, SUM(new_s) OVER
         |  (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM f)
         |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         | CAST(COUNT(*) AS BIGINT) AS n_events, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
         |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id"""
        .stripMargin.replace("\n", " "),
    "a_topk_users" ->
      s"""WITH e AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         |  SUM(CAST(round(value * 1000) AS BIGINT)) AS total_milli FROM events GROUP BY user_id)
         |SELECT user_id, n, CAST(total_milli AS BIGINT) AS total_milli, CAST(rk AS INT) AS rk FROM
         | (SELECT *, ROW_NUMBER() OVER (ORDER BY total_milli DESC, user_id) AS rk FROM e)
         |WHERE rk <= 10 ORDER BY rk""".stripMargin.replace("\n", " "),
    "a_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
         | CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin.replace("\n", " "),
    "a_cube" ->
      s"""SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
         | CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin.replace("\n", " "),
    "a_salted_agg" ->
      s"""SELECT CASE WHEN o_orderkey % 10 < 9 THEN 'hot'
         |  ELSE concat('c', CAST(o_orderkey % 100 AS VARCHAR)) END AS k,
         | CAST(COUNT(*) AS BIGINT) AS n,
         | CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         |FROM orders GROUP BY 1 ORDER BY k""".stripMargin.replace("\n", " "),
    "a_json_extract" ->
      s"""SELECT event_id, json_extract_string(props, '$$.k') AS k_str,
         | CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k_val
         |FROM events ORDER BY event_id""".stripMargin.replace("\n", " "),
    "a_count_distinct" ->
      s"""SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         | CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps, CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    // batch equivalent of the streamed 10-minute tumbling windows
    "s7_stream_windows" ->
      s"""SELECT (epoch_us(ts) // 600000000) * 600000000 AS window_start_us,
         | ((epoch_us(ts) // 600000000) + 1) * 600000000 AS window_end_us,
         | event_type, CAST(COUNT(*) AS BIGINT) AS n,
         | CAST(round(SUM(value) * 1000) AS BIGINT) AS total_milli
         |FROM events GROUP BY 1, 2, 3
         |ORDER BY window_start_us, event_type""".stripMargin.replace("\n", " "),
  )
}
