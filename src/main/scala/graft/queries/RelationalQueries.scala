package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.Num
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator coverage (SURVEY.md §2.2-§2.7 generalizations): the
  * reference composes only projections and one aggregation, but capability
  * parity for an analytics engine requires the full relational surface —
  * filters, every join flavor, analytic windows, sorts/limits, set ops,
  * rollup/cube, subqueries — all Catalyst built-ins, exercised over the
  * TPC-H-ish testdata and hash-checked against DuckDB.
  *
  * Scale notes (100 TB): every join below either broadcasts a dimension table
  * (region/nation/part/customer at dimension scale) or shuffles on the join
  * key with AQE enabled; aggregates are partial-final (map-side combine) by
  * construction. No collects, no driver loops.
  */
object RelationalQueries {

  /** Wide per-user event counts (q38's body, reused by q39's round-trip). */
  private def pivotWide(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ev = Tables.load(s, dir, "events")
    val types = Seq("click", "view", "signup", "purchase", "error")
    ev.groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
  }

  val defs: Seq[QueryDef] = Seq(

    // TPC-H Q1 shape: wide aggregate with derived measures (decimal-exact).
    QueryDef(
      "q10_pricing_summary",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            Num.dsum(col("l_quantity")).as("sum_qty"),
            Num.dsum(col("l_extendedprice")).as("sum_base_price"),
            Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
            Num.davg(col("l_quantity")).as("avg_qty"),
            Num.davg(col("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
           |  ${Num.duckDsum("l_quantity")} AS sum_qty,
           |  ${Num.duckDsum("l_extendedprice")} AS sum_base_price,
           |  ${Num.duckDsum("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
           |  ${Num.duckDavg("l_quantity")} AS avg_qty,
           |  ${Num.duckDavg("l_discount", 4)} AS avg_disc,
           |  COUNT(*) AS count_order
           |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // Filter + narrow projection (predicate pushdown / column pruning path).
    QueryDef(
      "q11_filter_project",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        li.where(col("l_quantity") > 45 && col("l_discount") < 0.02)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
           |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02""".stripMargin)),

    // Multi-way dimension join (customer → nation → region) + fact (orders).
    QueryDef(
      "q12_join_revenue_by_nation",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val cust = Tables.load(s, dir, "customer")
        val nation = Tables.load(s, dir, "nation")
        val region = Tables.load(s, dir, "region")
        orders
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            Num.dsum(col("o_totalprice")).as("revenue"),
            count(lit(1)).as("n_orders"))
      },
      Some(s"""SELECT r_name, n_name,
           |  ${Num.duckDsum("o_totalprice")} AS revenue, COUNT(*) AS n_orders
           |FROM orders
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name, n_name""".stripMargin)),

    // Fact × small-dimension broadcast join.
    QueryDef(
      "q13_broadcast_join_parts",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val part = Tables.load(s, dir, "part")
        li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(
            count(lit(1)).as("n_items"),
            Num.dsum(col("l_extendedprice")).as("sum_price"),
            Num.davg(col("p_retailprice")).as("avg_retail"))
      },
      Some(s"""SELECT p_brand, COUNT(*) AS n_items,
           |  ${Num.duckDsum("l_extendedprice")} AS sum_price,
           |  ${Num.duckDavg("p_retailprice")} AS avg_retail
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY p_brand""".stripMargin)),

    // Left-semi join (EXISTS).
    QueryDef(
      "q14_semi_join",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val orders = Tables.load(s, dir, "orders")
        cust.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
           |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // Left-anti join (NOT EXISTS).
    QueryDef(
      "q15_anti_join",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val orders = Tables.load(s, dir, "orders")
        cust.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // Left-outer join + aggregation (customers keep zero-order rows).
    QueryDef(
      "q16_outer_join_counts",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val orders = Tables.load(s, dir, "orders")
        cust.join(orders, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            coalesce(Num.dsum(col("o_totalprice")), lit(0.0)).as("total_spend"))
      },
      Some(s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           |  COALESCE(${Num.duckDsum("o_totalprice")}, 0.0) AS total_spend
           |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           |GROUP BY c_custkey""".stripMargin)),

    // Skew-salted equi-join: lineitem->orders through the salted path must
    // equal the plain join (the oracle) — the salt spreads hot keys across
    // tasks without changing semantics.
    QueryDef(
      "q35_salted_join",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
        graft.ops.Joins.saltedJoin(li, ord, key = "l_orderkey",
            discriminator = "l_linenumber", salts = 4)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_items"),
            Num.dsum(col("l_extendedprice")).as("total_price"))
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_items,
           |  ${Num.duckDsum("l_extendedprice")} AS total_price
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderstatus""".stripMargin)),

    // As-of join (an operator Spark lacks as a built-in): each purchase event
    // joined to the user's latest view event at or before it — one
    // sort-shuffle on user_id via the union + carry-forward-window
    // formulation (graft.ops.Joins.asOfJoin). DuckDB verifies with its
    // native ASOF LEFT JOIN.
    QueryDef(
      "q36_asof_join",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        val views = ev.where(col("event_type") === "view")
          // unique per (user, ts): keep the max-event_id row (same in oracle)
          .groupBy(col("user_id"), col("ts"))
          .agg(max_by(struct(col("event_id"), col("value")), col("event_id")).as("v"))
          .select(col("user_id"), col("ts"),
            col("v.event_id").as("view_event_id"), col("v.value").as("view_value"))
        graft.ops.Joins.asOfJoin(purchases, views, key = "user_id", time = "ts",
          rightVals = Seq("view_event_id", "view_value"))
      },
      Some(s"""WITH ev AS (SELECT * FROM ${Tables.duckEvents} e),
           |p AS (SELECT event_id, ts, user_id, value FROM ev WHERE event_type = 'purchase'),
           |v AS (
           |  SELECT user_id, ts, max(event_id) AS view_event_id,
           |    arg_max(value, event_id) AS view_value
           |  FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
           |SELECT p.event_id, p.ts, p.user_id, p.value,
           |  v.ts AS asof_ts, v.view_event_id AS asof_view_event_id,
           |  v.view_value AS asof_view_value
           |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)),

    // Banded range join (interval containment without a nested loop): views
    // within 60 minutes after each error event of the same user. The band
    // width equals the interval width, so every interval explodes into <= 2
    // bucket keys and the plan is a plain equi-join on (user, bucket) + a
    // residual filter — DuckDB verifies with its native inequality join.
    QueryDef(
      "q37_range_join",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val views = ev.where(col("event_type") === "view")
          .select(col("event_id").as("view_event_id"), col("ts").as("view_ts"),
            col("user_id"))
        val errWindows = ev.where(col("event_type") === "error")
          .select(col("event_id").as("error_event_id"), col("user_id"),
            col("ts").as("w_start"),
            (col("ts") + expr("INTERVAL 60 MINUTES")).as("w_end"))
        graft.ops.Joins.bandedRangeJoin(views, errWindows, key = "user_id",
            pointTime = "view_ts", start = "w_start", end = "w_end",
            bandSeconds = 3600)
          .select(col("error_event_id"), col("view_event_id"), col("user_id"),
            col("view_ts"))
      },
      Some(s"""WITH ev AS (SELECT * FROM ${Tables.duckEvents} e)
           |SELECT err.event_id AS error_event_id, v.event_id AS view_event_id,
           |  err.user_id, v.ts AS view_ts
           |FROM ev err JOIN ev v
           |  ON err.user_id = v.user_id
           |  AND err.event_type = 'error' AND v.event_type = 'view'
           |  AND v.ts >= err.ts AND v.ts <= err.ts + INTERVAL 60 MINUTE""".stripMargin)),

    // Pivot: per-user event counts spread into one column per event type.
    // The pivot values are DECLARED (not discovered) — at scale an undeclared
    // pivot first runs a distinct-values job and then builds an arbitrarily
    // wide schema; declaring them keeps this a single pass.
    QueryDef(
      "q38_pivot",
      (s, dir) => pivotWide(s, dir),
      Some(s"""SELECT user_id,
           |  COUNT(*) FILTER (event_type = 'click') AS n_click,
           |  COUNT(*) FILTER (event_type = 'view') AS n_view,
           |  COUNT(*) FILTER (event_type = 'signup') AS n_signup,
           |  COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
           |  COUNT(*) FILTER (event_type = 'error') AS n_error
           |FROM ${Tables.duckEvents} ev GROUP BY user_id""".stripMargin)),

    // Unpivot (melt): the wide per-user counts back to long (user_id,
    // event_type, n) rows — the pivot round-trip, dropping zero cells to
    // match the sparse original.
    QueryDef(
      "q39_unpivot",
      (s, dir) => {
        val wide = pivotWide(s, dir)
        wide.unpivot(
            Array(col("user_id")),
            Array(col("n_click"), col("n_view"), col("n_signup"),
              col("n_purchase"), col("n_error")),
            "event_type", "n")
          .where(col("n") > 0)
          .withColumn("event_type", expr("substring(event_type, 3)"))
      },
      Some(s"""SELECT user_id, event_type, COUNT(*) AS n
           |FROM ${Tables.duckEvents} ev GROUP BY 1, 2""".stripMargin)),

    // Analytic window function: top-3 orders per customer (rank + tie-break).
    QueryDef(
      "q17_window_topk_per_group",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        orders
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           |  SELECT o_custkey, o_orderkey, o_totalprice,
           |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           |  FROM orders) WHERE rn <= 3""".stripMargin)),

    // The remaining analytic-function surface in one query: lag/lead,
    // dense_rank, ntile, percent_rank, cume_dist over a deterministic
    // per-customer order (orderdate, orderkey — unique, so every function
    // is reproducible).
    QueryDef(
      "q80_analytic_suite",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        orders.select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          dense_rank().over(w).as("drank"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
           |  lag(o_totalprice, 1) OVER w AS prev_price,
           |  lead(o_totalprice, 1) OVER w AS next_price,
           |  CAST(dense_rank() OVER w AS INT) AS drank,
           |  CAST(ntile(4) OVER w AS INT) AS quartile,
           |  percent_rank() OVER w AS prank,
           |  cume_dist() OVER w AS cdist
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin)),

    // Map-typed column surface: per-user (event_type -> count) maps built
    // with map_from_entries, consumed via cardinality / element_at /
    // map_values — outputs scalarized for the oracle (DuckDB computes the
    // same facts relationally).
    QueryDef(
      "q81_map_funcs",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val counts = ev.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        counts.groupBy(col("user_id"))
          .agg(map_from_entries(
            sort_array(collect_list(struct(col("event_type"), col("n"))))).as("m"))
          .select(
            col("user_id"),
            size(col("m")).as("n_types"),
            element_at(col("m"), "click").as("n_click"),
            array_max(map_values(col("m"))).as("max_type_count"),
            array_min(map_keys(col("m"))).as("first_type"))
      },
      Some(s"""WITH c AS (
           |  SELECT user_id, event_type, COUNT(*) AS n
           |  FROM ${Tables.duckEvents} ev GROUP BY 1, 2)
           |SELECT user_id,
           |  CAST(COUNT(*) AS INT) AS n_types,
           |  MAX(CASE WHEN event_type = 'click' THEN n END) AS n_click,
           |  MAX(n) AS max_type_count,
           |  MIN(event_type) AS first_type
           |FROM c GROUP BY user_id""".stripMargin)),

    // Running (cumulative) aggregate over an ordered frame.
    QueryDef(
      "q18_running_sum",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        orders.select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").as("running_spend"))
      },
      Some("""SELECT o_custkey, o_orderkey,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
           |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
           |FROM orders""".stripMargin)),

    // Global sort + limit (top-k).
    QueryDef(
      "q19_orderby_limit",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        orders
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin)),

    // INTERSECT (set semantics).
    QueryDef(
      "q20_intersect",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val a = orders.where(col("o_orderstatus") === "O").select(col("o_custkey"))
        val b = orders.where(col("o_orderstatus") === "F").select(col("o_custkey"))
        a.intersect(b)
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
           |INTERSECT
           |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),

    // EXCEPT (set semantics).
    QueryDef(
      "q21_except",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val a = orders.where(col("o_orderstatus") === "O").select(col("o_custkey"))
        val b = orders.where(col("o_orderstatus") === "F").select(col("o_custkey"))
        a.except(b)
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
           |EXCEPT
           |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),

    // UNION ALL with a provenance tag.
    QueryDef(
      "q22_union_all",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val supp = Tables.load(s, dir, "supplier")
        cust.select(lit("customer").as("kind"), col("c_name").as("name"), col("c_acctbal").as("acctbal"))
          .unionByName(
            supp.select(lit("supplier").as("kind"), col("s_name").as("name"), col("s_acctbal").as("acctbal")))
      },
      Some("""SELECT 'customer' AS kind, c_name AS name, c_acctbal AS acctbal FROM customer
           |UNION ALL
           |SELECT 'supplier' AS kind, s_name AS name, s_acctbal AS acctbal FROM supplier""".stripMargin)),

    // ROLLUP (hierarchical grouping sets).
    QueryDef(
      "q23_rollup",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val nation = Tables.load(s, dir, "nation")
        val region = Tables.load(s, dir, "region")
        cust
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_cust"), Num.dsum(col("c_acctbal")).as("sum_bal"))
      },
      Some(s"""SELECT r_name, n_name, COUNT(*) AS n_cust,
           |  ${Num.duckDsum("c_acctbal")} AS sum_bal
           |FROM customer
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY ROLLUP (r_name, n_name)""".stripMargin)),

    // Explicit GROUPING SETS with grouping_id — the general form behind
    // rollup/cube, with the bitmask disambiguating real nulls from
    // grouping-set placeholder nulls.
    QueryDef(
      "q76_grouping_sets",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupingSets(
            Seq(Seq(col("event_type"), col("user_id")), Seq(col("event_type")), Seq()),
            col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n"),
            grouping_id().cast("long").as("gid"))
      },
      Some(s"""SELECT event_type, user_id, COUNT(*) AS n,
           |  CAST(GROUPING(event_type, user_id) AS BIGINT) AS gid
           |FROM ${Tables.duckEvents} ev
           |GROUP BY GROUPING SETS ((event_type, user_id), (event_type), ())""".stripMargin)),

    // JSON scalar functions over the events props column: typed extraction
    // via from_json, path extraction via get_json_object, plus an aggregate
    // over the extracted value (F2's json surface beyond the article parse).
    QueryDef(
      "q77_json_props",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val k = from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k")
        ev.select(col("event_type"), k.as("k"),
            get_json_object(col("props"), "$.k").cast("long").as("k_path"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            sum(when(col("k") === col("k_path"), 1L).otherwise(0L)).as("n_path_agree"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
      },
      Some(s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           |  CAST(SUM(CASE WHEN CAST(props->>'k' AS BIGINT) = CAST(json_extract_string(props, '$$.k') AS BIGINT)
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_path_agree,
           |  MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
           |  MAX(CAST(props->>'k' AS BIGINT)) AS max_k
           |FROM ${Tables.duckEvents} ev GROUP BY event_type""".stripMargin)),

    // Approximate percentiles (Greenwald-Khanna sketch): the sketch value is
    // partition-merge-order dependent, so (like q26) the query outputs the
    // deterministic verdict — DISCRETE exact percentiles (the value at rank
    // ⌈p·n⌉, an actual data element: no interpolation arithmetic to diverge
    // cross-engine; rank arithmetic in DECIMAL to match DuckDB's literals)
    // plus an in-query `within_bound` boolean (both approx percentiles
    // within 5% of the group's value range — the same bound CatalogSpec
    // pins; the disc-vs-interpolated gap is absorbed by it). The oracle
    // computes the same discrete percentiles and literal `true`.
    QueryDef(
      "q78_approx_percentile",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events").select(col("event_type"), col("value"))
        val half = lit(java.math.BigDecimal.valueOf(0.5))
        val p95 = lit(java.math.BigDecimal.valueOf(0.95))
        val stats = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), max(col("value")).as("mx"), min(col("value")).as("mn"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("value").asc)
        val exact = ev.withColumn("rn", row_number().over(w))
          .join(stats, "event_type")
          .groupBy(col("event_type"), col("mx"), col("mn"))
          .agg(
            max(when(col("rn") === ceil(half * col("n")), col("value"))).as("exact_p50"),
            max(when(col("rn") === ceil(p95 * col("n")), col("value"))).as("exact_p95"))
        val approx = ev.groupBy(col("event_type"))
          .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000))
            .as("approx_p"))
          .select(col("event_type"),
            element_at(col("approx_p"), 1).as("approx_p50"),
            element_at(col("approx_p"), 2).as("approx_p95"))
        exact.join(approx, "event_type")
          .select(col("event_type"), col("exact_p50"), col("exact_p95"),
            ((abs(col("approx_p50") - col("exact_p50")) <= lit(0.05) * (col("mx") - col("mn")))
              && (abs(col("approx_p95") - col("exact_p95")) <= lit(0.05) * (col("mx") - col("mn"))))
              .as("within_bound"))
      },
      Some(s"""WITH ev AS (SELECT event_type, value FROM ${Tables.duckEvents} e),
           |stats AS (
           |  SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1),
           |r AS (
           |  SELECT event_type, value,
           |    row_number() OVER (PARTITION BY event_type ORDER BY value ASC) AS rn
           |  FROM ev)
           |SELECT event_type,
           |  MAX(CASE WHEN rn = ceil(0.5 * n) THEN value END) AS exact_p50,
           |  MAX(CASE WHEN rn = ceil(0.95 * n) THEN value END) AS exact_p95,
           |  TRUE AS within_bound
           |FROM r JOIN stats USING (event_type) GROUP BY event_type""".stripMargin)),

    // CUBE (all grouping-set combinations).
    QueryDef(
      "q24_cube",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        orders.cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), Num.dsum(col("o_totalprice")).as("sum_price"))
      },
      Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           |  ${Num.duckDsum("o_totalprice")} AS sum_price
           |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    // Exact distinct count per group.
    QueryDef(
      "q25_count_distinct",
      (s, dir) => {
        val events = Tables.load(s, dir, "events")
        events.groupBy(col("event_type"))
          .agg(
            countDistinct(col("user_id")).as("n_users"),
            count(lit(1)).as("n_events"))
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
           |FROM events GROUP BY event_type""".stripMargin)),

    // Approximate distinct (HLL++) — the sketch value itself is
    // engine-specific, so the query OUTPUTS the deterministic verdict
    // instead: the exact count plus an in-query `within_bound` boolean
    // (|approx − exact| ≤ 5·rsd·exact). The oracle computes the same exact
    // count and the literal `true` the sketch must earn — a hash-checkable
    // contract for an approximate operator.
    QueryDef(
      "q26_approx_count_distinct",
      (s, dir) => {
        val events = Tables.load(s, dir, "events")
        // pre-distinct once: HLL insertion is idempotent, so the sketch of
        // the distinct set equals the sketch of the multiset — and plain
        // count + approx on the deduped frame avoids the Expand a mixed
        // countDistinct/approx aggregate would plan (one shuffle, not two
        // passes; 2.3 s -> 0.3 s warm at sf0.1)
        events.select(col("event_type"), col("user_id")).distinct()
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("exact_users"),
            approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("approx_users").cast("double") - col("exact_users").cast("double"))
              <= lit(0.05) * col("exact_users").cast("double")).as("within_bound"))
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           |  TRUE AS within_bound
           |FROM events GROUP BY event_type""".stripMargin)),

    // Scalar string functions (F1/F8 generalization).
    QueryDef(
      "q27_string_funcs",
      (s, dir) => {
        val part = Tables.load(s, dir, "part")
        part.select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          lower(col("p_brand")).as("brand_lower"),
          substring(col("p_type"), 1, 6).as("type_prefix"),
          length(col("p_name")).as("name_len"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
      },
      Some("""SELECT p_partkey, upper(p_name) AS name_upper, lower(p_brand) AS brand_lower,
           |  substring(p_type, 1, 6) AS type_prefix, length(p_name) AS name_len,
           |  concat_ws('/', p_brand, p_type) AS brand_type
           |FROM part""".stripMargin)),

    // Scalar date/time functions (F3 generalization).
    QueryDef(
      "q28_date_funcs",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        orders
          .groupBy(
            year(col("o_orderdate")).as("y"),
            month(col("o_orderdate")).as("m"))
          .agg(count(lit(1)).as("n"), Num.dsum(col("o_totalprice")).as("sum_price"))
      },
      Some(s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
           |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
           |  COUNT(*) AS n, ${Num.duckDsum("o_totalprice")} AS sum_price
           |FROM orders GROUP BY 1, 2""".stripMargin)),

    // CASE WHEN bucketing + conditional aggregation.
    QueryDef(
      "q29_case_when",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        orders
          .withColumn("bucket",
            when(col("o_totalprice") < 1000, "low")
              .when(col("o_totalprice") < 5000, "mid")
              .otherwise("high"))
          .groupBy(col("bucket"))
          .agg(
            count(lit(1)).as("n"),
            Num.dsum(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("sum_f_price"))
      },
      Some(s"""SELECT CASE WHEN o_totalprice < 1000 THEN 'low'
           |            WHEN o_totalprice < 5000 THEN 'mid' ELSE 'high' END AS bucket,
           |  COUNT(*) AS n,
           |  ${Num.duckDsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS sum_f_price
           |FROM orders GROUP BY 1""".stripMargin)),

    // HAVING (post-aggregation filter).
    QueryDef(
      "q30_having",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        li.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n"), Num.dsum(col("l_quantity")).as("sum_qty"))
          .where(col("n") >= 5)
      },
      Some(s"""SELECT l_partkey, COUNT(*) AS n, ${Num.duckDsum("l_quantity")} AS sum_qty
           |FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 5""".stripMargin)),

    // Exact interpolated percentiles per group (Spark `percentile` ==
    // DuckDB `quantile_cont`, both linear interpolation over the sorted set).
    QueryDef(
      "q32_percentiles",
      (s, dir) => {
        val events = Tables.load(s, dir, "events")
        events.groupBy(col("event_type"))
          .agg(
            expr("percentile(value, 0.5)").as("p50"),
            expr("percentile(value, 0.95)").as("p95"),
            min(col("value")).as("vmin"),
            max(col("value")).as("vmax"))
      },
      Some("""SELECT event_type,
           |  quantile_cont(value, 0.5) AS p50,
           |  quantile_cont(value, 0.95) AS p95,
           |  min(value) AS vmin, max(value) AS vmax
           |FROM events GROUP BY event_type""".stripMargin)),

    // Dispersion + correlation aggregates (sample stddev/variance, Pearson
    // corr, sample covariance — canonicalization rounds to 6dp, absorbing
    // partial-aggregation merge-order float noise).
    QueryDef(
      "q33_dispersion_stats",
      (s, dir) => {
        val events = Tables.load(s, dir, "events")
        events.groupBy(col("event_type"))
          .agg(
            stddev_samp(col("value")).as("sd"),
            var_samp(col("value")).as("vr"),
            corr(col("value"), col("user_id").cast("double")).as("cr"),
            covar_samp(col("value"), col("user_id").cast("double")).as("cv"))
      },
      Some("""SELECT event_type,
           |  stddev_samp(value) AS sd,
           |  var_samp(value) AS vr,
           |  corr(value, CAST(user_id AS DOUBLE)) AS cr,
           |  covar_samp(value, CAST(user_id AS DOUBLE)) AS cv
           |FROM events GROUP BY event_type""".stripMargin)),

    // RANGE-frame analytic window: per-user trailing 1-hour moving average
    // keyed on event time (value-based frame, not row count).
    QueryDef(
      "q34_range_frame_avg",
      (s, dir) => {
        val events = Tables.load(s, dir, "events")
        // frame on MICROsecond epoch — unix_timestamp would truncate to
        // seconds and silently shift frame boundaries for sub-second events
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts_us"))
          .rangeBetween(-3600L * 1000000L, 0L)
        events
          .withColumn("ts_us", unix_micros(col("ts")))
          .select(col("event_id"), col("user_id"),
            avg(col("value")).over(w).as("avg_1h"),
            count(lit(1)).over(w).as("n_1h"))
      },
      Some(s"""SELECT event_id, user_id,
           |  AVG(value) OVER w AS avg_1h,
           |  COUNT(*) OVER w AS n_1h
           |FROM ${Tables.duckEvents} ev
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts
           |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Scalar subquery (orders above the global average price).
    QueryDef(
      "q31_scalar_subquery",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val avgPrice = orders.agg(Num.davg(col("o_totalprice")).as("ap"))
        orders.crossJoin(broadcast(avgPrice))
          .where(col("o_totalprice") > col("ap"))
          .select(col("o_orderkey"), col("o_totalprice"))
      },
      Some(s"""SELECT o_orderkey, o_totalprice FROM orders
           |WHERE o_totalprice > (SELECT ${Num.duckDavg("o_totalprice")} FROM orders)""".stripMargin)),

    // EXACT equi-depth histogram of order prices (16 buckets): global rank
    // via the distributed two-phase (range partition + per-partition
    // row_number + broadcast count offsets — no single-task global sort),
    // every bucket exactly floor/ceil(N/16) rows, id-tiebroken on
    // duplicate values. The oracle is the plain single-window row_number.
    QueryDef(
      "q128_equidepth_histogram",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        graft.ops.Sampling.equiDepthHistogram(orders, col("o_totalprice"),
          col("o_orderkey"), buckets = 16)
      },
      Some("""WITH r AS (
           |  SELECT o_totalprice AS v,
           |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rank,
           |    COUNT(*) OVER () AS n
           |  FROM orders)
           |SELECT ((rank - 1) * 16) // n AS bucket, COUNT(*) AS n_rows,
           |  MIN(v) AS lo, MAX(v) AS hi
           |FROM r GROUP BY 1""".stripMargin)),

    // Hilbert-curve layout key (order-8, 256×256 grid) over part: the
    // space-filling-curve code Layout.hilbertCode computes, verified
    // cell by cell against a DuckDB twin that unrolls the xy2d state
    // machine one CTE per bit level (the k-means unrolling discipline) —
    // all-integer arithmetic, exact hash match.
    QueryDef(
      "q126_hilbert_code",
      (s, dir) => {
        val part = Tables.load(s, dir, "part")
        part.select(col("p_partkey"),
            (col("p_partkey") % 256).as("hx"),
            col("p_size").cast("long").as("hy"))
          .withColumn("hcode", graft.ops.Layout.hilbertCode(col("hx"), col("hy"), 8))
      },
      Some {
        val bits = 8
        val n = 1L << bits
        val levels = (1 to bits).map { i =>
          val sz = 1L << (bits - i)
          s"""h$i AS (
             |  SELECT p_partkey, hx, hy,
             |    CASE WHEN (y // $sz) % 2 = 0
             |         THEN CASE WHEN (x // $sz) % 2 = 1 THEN ${n - 1} - y ELSE y END
             |         ELSE x END AS x,
             |    CASE WHEN (y // $sz) % 2 = 0
             |         THEN CASE WHEN (x // $sz) % 2 = 1 THEN ${n - 1} - x ELSE x END
             |         ELSE y END AS y,
             |    d + ${sz * sz} * xor(3 * ((x // $sz) % 2), (y // $sz) % 2) AS d
             |  FROM h${i - 1})""".stripMargin
        }
        s"""WITH h0 AS (
           |  SELECT p_partkey, p_partkey % 256 AS hx, CAST(p_size AS BIGINT) AS hy,
           |    p_partkey % 256 AS x, CAST(p_size AS BIGINT) AS y, CAST(0 AS BIGINT) AS d
           |  FROM part),
           |${levels.mkString(",\n")}
           |SELECT p_partkey, hx, hy, d AS hcode FROM h$bits""".stripMargin
      }),

    // MERGEABLE exact-moment shard tables: per-event-type (n, Σv, Σv²) in
    // decimal, with the __total__ row rolled up FROM THE SHARD FRAME (a sum
    // over #groups stored rows — the no-rescan merge path, the numeric
    // companion of the q125/q136 sketch tables; moments merge EXACTLY, so
    // unlike a sketch no within_bound verdict is needed). The oracle
    // mirrors the decimal sums and the final double arithmetic order.
    QueryDef(
      "q144_moment_shards",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        graft.ops.Stats.momentShards(ev, col("value"), col("event_type"))
      },
      Some("""WITH shard AS (
           |  SELECT event_type AS scope, COUNT(*) AS n,
           |    SUM(CAST(value AS DECIMAL(38,18))) AS s1,
           |    SUM(CAST(value * value AS DECIMAL(38,18))) AS s2
           |  FROM events GROUP BY 1),
           |allrows AS (
           |  SELECT scope, n, s1, s2 FROM shard
           |  UNION ALL
           |  SELECT '__total__', CAST(SUM(n) AS BIGINT), SUM(s1), SUM(s2) FROM shard)
           |SELECT scope, CAST(n AS BIGINT) AS n,
           |  CAST(s1 AS DOUBLE) AS sum_v,
           |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           |  (CAST(s2 AS DOUBLE)
           |    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           |    / CAST(n AS DOUBLE) AS variance
           |FROM allrows""".stripMargin)),

    // Event FUNNEL: per-user ordered view -> click -> purchase conversion
    // (each step's timestamp strictly after the previous step's first
    // occurrence), reported as per-stage reached-user counts. Two keyed
    // aggregation passes — no window over all users, no driver loop.
    QueryDef(
      "q145_event_funnel",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val tView = ev.where(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
        val tClick = ev.join(tView, "user_id")
          .where(col("event_type") === "click" && col("ts") > col("t_view"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
        val tPurchase = ev.join(tClick, "user_id")
          .where(col("event_type") === "purchase" && col("ts") > col("t_click"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
        val stages = Seq(
          ("1_view", tView), ("2_click_after_view", tClick),
          ("3_purchase_after_click", tPurchase))
        stages.map { case (name, frame) =>
          frame.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
        }.reduce(_ unionByName _)
      },
      Some("""WITH tv AS (
           |  SELECT user_id, min(ts) AS t_view FROM events
           |  WHERE event_type = 'view' GROUP BY 1),
           |tc AS (
           |  SELECT e.user_id, min(e.ts) AS t_click
           |  FROM events e JOIN tv ON tv.user_id = e.user_id
           |  WHERE e.event_type = 'click' AND e.ts > tv.t_view GROUP BY 1),
           |tp AS (
           |  SELECT e.user_id, min(e.ts) AS t_purchase
           |  FROM events e JOIN tc ON tc.user_id = e.user_id
           |  WHERE e.event_type = 'purchase' AND e.ts > tc.t_click GROUP BY 1)
           |SELECT '1_view' AS stage, COUNT(*) AS n_users FROM tv
           |UNION ALL SELECT '2_click_after_view', COUNT(*) FROM tc
           |UNION ALL SELECT '3_purchase_after_click', COUNT(*) FROM tp""".stripMargin)),

    // Batch SESSIONIZATION (gaps-and-islands): per-user sessions split at
    // >10-minute silence — the batch twin of q07's streaming session
    // windows. The lag/cumsum windows are PER-USER (keyed partitions, never
    // a global window); ties order by (ts, event_id) so session ids are
    // total-order deterministic.
    QueryDef(
      "q146_event_sessions",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val wUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val flagged = ev.select(col("user_id"), col("event_id"), col("ts"))
          .withColumn("prev_ts", lag(col("ts"), 1).over(wUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 600000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id",
            sum(col("new_session")).over(
              wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        flagged.groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      },
      Some("""WITH flagged AS (
           |  SELECT user_id, event_id, ts,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000 THEN 1 ELSE 0 END AS ns
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sess AS (
           |  SELECT user_id, event_id, ts,
           |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS UNBOUNDED PRECEDING) AS session_id
           |  FROM flagged)
           |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           |  COUNT(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
           |FROM sess GROUP BY 1, 2""".stripMargin)),

    // SLIDING 3-hour distinct users from STORED hourly theta sketches —
    // the time-series rollup form of the sketch-table pattern: the raw
    // events are scanned once into 720 hourly sketches; every window is a
    // union over stored bytes (an exact sliding count_distinct re-scans
    // the events per window). Exact counts + verdict per the q26/q125
    // discipline (reproduced by the oracle as exact + TRUE).
    QueryDef(
      "q150_sliding_distinct_sketch",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        graft.ops.Stats.slidingThetaDistinct(ev, col("ts"), col("user_id"),
          windowHours = 3, lgK = 12)
      },
      Some("""WITH ev AS (
           |  SELECT date_trunc('hour', ts) AS h, user_id AS k FROM events),
           |win AS (SELECT DISTINCT h AS win_end FROM ev)
           |SELECT w.win_end,
           |  CAST(COUNT(DISTINCT e.h) AS BIGINT) AS n_hours,
           |  CAST(COUNT(DISTINCT e.k) AS BIGINT) AS exact_distinct,
           |  TRUE AS within_bound
           |FROM win w JOIN ev e
           |  ON e.h <= w.win_end AND e.h > w.win_end - INTERVAL 3 HOUR
           |GROUP BY 1""".stripMargin)),

    // Retention COHORT matrix: users grouped by first-signup day, activity
    // counted per day offset — the classic growth-analytics table. Plain
    // keyed aggregations over (user, day) distinct rows; day arithmetic on
    // midnight-truncated timestamps is integer-exact in both engines.
    QueryDef(
      "q151_retention_cohorts",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cohort = ev.where(col("event_type") === "signup")
          .groupBy(col("user_id"))
          .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
        val act = ev.select(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .distinct()
        act.join(cohort, "user_id")
          .where(col("day") >= col("cohort_day"))
          .select(col("user_id"), col("cohort_day"),
            datediff(col("day"), col("cohort_day")).as("day_offset"))
          .groupBy(col("cohort_day"), col("day_offset"))
          .agg(count_distinct(col("user_id")).as("n_users"))
      },
      Some("""WITH cohort AS (
           |  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
           |  FROM events WHERE event_type = 'signup' GROUP BY 1),
           |act AS (
           |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
           |SELECT c.cohort_day,
           |  CAST(date_diff('day', c.cohort_day, a.day) AS INTEGER) AS day_offset,
           |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
           |FROM act a JOIN cohort c ON c.user_id = a.user_id
           |WHERE a.day >= c.cohort_day
           |GROUP BY 1, 2""".stripMargin)),

    // EXACT global percentiles via the distributed two-phase rank (the
    // exact complement of q78's approximate sketch): p50/p90/p99 of
    // l_extendedprice as the value at rank ceil(q·N) — nearest-rank
    // definition, integer arithmetic on exact ranks, deterministic on
    // duplicate values via the (v, id) total order. No single-task sort
    // anywhere (the q128 machinery).
    QueryDef(
      "q153_exact_percentiles",
      (s, dir) => {
        import s.implicits._
        // lineitem has no single-column key; rank ties break on the
        // (orderkey, linenumber) composite
        val li = Tables.load(s, dir, "lineitem")
          .select((col("l_orderkey") * 100 + col("l_linenumber")).as("rid"),
            col("l_extendedprice"))
        val ranked = graft.ops.Sampling.globalRank(li, col("l_extendedprice"), col("rid"))
        val n = ranked.agg(count(lit(1)).as("n"))
        val pcts = Seq(50, 90, 99).toDF("pct")
        ranked.crossJoin(broadcast(n))
          .join(broadcast(pcts),
            // ceil(p*N/100) with nonnegative inputs: both Spark `div` and
            // DuckDB `//` truncate toward zero, so the add-99 form is the
            // only portable ceil (double-negation is an identity here)
            col("rank") === expr("(pct * n + 99) div 100"))
          .select(col("pct"), col("rank"), col("v").as("value"))
      },
      Some("""WITH ranked AS (
           |  SELECT l_extendedprice AS v,
           |    row_number() OVER (ORDER BY l_extendedprice,
           |      l_orderkey * 100 + l_linenumber) AS rank
           |  FROM lineitem),
           |n AS (SELECT COUNT(*) AS n FROM ranked),
           |pcts AS (SELECT unnest([50, 90, 99]) AS pct)
           |SELECT pct, CAST(rank AS BIGINT) AS rank, v AS value
           |FROM ranked CROSS JOIN n JOIN pcts
           |  ON rank = (pct * n + 99) // 100""".stripMargin)),

    // TPC-H Q5-style six-table star join ("local supplier volume"): revenue
    // from lineitems where customer and supplier sit in the same EUROPE
    // nation, orders in 1996 — region/nation broadcast, customer/supplier
    // shuffle on their keys, decimal-exact revenue sums.
    QueryDef(
      "q154_local_supplier_volume",
      (s, dir) => {
        val region = Tables.load(s, dir, "region").where(col("r_name") === "EUROPE")
        val nation = Tables.load(s, dir, "nation")
        val customer = Tables.load(s, dir, "customer")
        val orders = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
        val lineitem = Tables.load(s, dir, "lineitem")
        val supplier = Tables.load(s, dir, "supplier")
        lineitem
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .join(customer, col("o_custkey") === col("c_custkey"))
          .join(supplier, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(Num.dsum38(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
            count(lit(1)).as("n_lineitems"))
      },
      Some(s"""SELECT n_name,
           |  ${Num.duckDsum38("l_extendedprice * (1.0 - l_discount)")} AS revenue,
           |  COUNT(*) AS n_lineitems
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'EUROPE'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01'
           |  AND o_orderdate < TIMESTAMP '1997-01-01'
           |GROUP BY 1""".stripMargin)),

    // TPC-H Q3-style shipping-priority top-k: unshipped revenue per order for
    // one market segment, top 10 by revenue. Customer (segment-filtered)
    // broadcasts into orders; lineitem shuffles on l_orderkey only. Revenue
    // is decimal-exact (identical doubles both engines), and the ordering is
    // made total with the orderkey tie-break, so the LIMIT boundary is
    // deterministic cross-engine. Top-k is TakeOrderedAndProject — no global
    // sort materializes at scale.
    QueryDef(
      "q162_shipping_priority",
      (s, dir) => {
        val cutoff = "1996-06-01"
        val customer = Tables.load(s, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING")
        val orders = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") < lit(cutoff))
        val lineitem = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") > lit(cutoff))
        lineitem
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(Num.dsum38(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
          .limit(10)
      },
      Some(s"""WITH agg AS (
           |  SELECT l_orderkey, o_orderdate, o_orderpriority,
           |    ${Num.duckDsum38("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  WHERE c_mktsegment = 'BUILDING'
           |    AND o_orderdate < TIMESTAMP '1996-06-01'
           |    AND l_shipdate > TIMESTAMP '1996-06-01'
           |  GROUP BY 1, 2, 3)
           |SELECT * FROM agg
           |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
           |LIMIT 10""".stripMargin)),

    // TPC-H Q18-style large-volume customers: orders whose total lineitem
    // quantity exceeds the threshold, with the owning customer. The HAVING
    // subquery aggregates lineitem on l_orderkey (the only corpus-scale
    // shuffle); the surviving keys are a vanishing fraction, so the join
    // back to orders is AQE-broadcastable at any scale. Quantities are
    // integral doubles (exact under any summation order — no decimal ladder
    // needed).
    QueryDef(
      "q163_large_volume_customers",
      (s, dir) => {
        val big = Tables.load(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("total_qty"))
          .where(col("total_qty") > 250)
        val orders = Tables.load(s, dir, "orders")
        val customer = Tables.load(s, dir, "customer")
        orders
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(customer, col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      },
      Some("""WITH big AS (
           |  SELECT l_orderkey, SUM(l_quantity) AS total_qty
           |  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250)
           |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
           |FROM orders
           |JOIN big ON o_orderkey = l_orderkey
           |JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // TPC-H Q7-style bilateral trade volume: revenue shipped between a
    // nation pair, by supplier nation × customer nation × ship year. The
    // q154/q162 multi-dimension discipline: lineitem→orders is the ONE
    // fact-to-fact shuffle; supplier, customer, and both nation copies are
    // broadcast dimensions, and the nation filter prunes the supplier/
    // customer broadcasts BEFORE they reach the fact rows. Revenue folds
    // decimal(38,18); year extraction is UTC-pinned in both engines.
    QueryDef(
      "q171_nation_trade_volume",
      (s, dir) => {
        val pair = Seq("NATION_1", "NATION_2")
        val nation = Tables.load(s, dir, "nation")
          .where(col("n_name").isin(pair: _*))
        val supplier = Tables.load(s, dir, "supplier")
          .join(broadcast(nation.select(col("n_nationkey").as("s_nationkey"),
            col("n_name").as("supp_nation"))), "s_nationkey")
        val customer = Tables.load(s, dir, "customer")
          .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
            col("n_name").as("cust_nation"))), "c_nationkey")
        val lineitem = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1998-01-01"))
        lineitem
          .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supplier.select(col("s_suppkey"), col("supp_nation"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(customer.select(col("c_custkey"), col("cust_nation"))),
            col("o_custkey") === col("c_custkey"))
          .where(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(Num.dsum38(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           |  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
           |  ${Num.duckDsum38("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation n1 ON s_nationkey = n1.n_nationkey
           |JOIN nation n2 ON c_nationkey = n2.n_nationkey
           |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
           |  AND n2.n_name IN ('NATION_1', 'NATION_2')
           |  AND n1.n_name <> n2.n_name
           |  AND l_shipdate >= TIMESTAMP '1996-01-01'
           |  AND l_shipdate < TIMESTAMP '1998-01-01'
           |GROUP BY 1, 2, 3""".stripMargin)),

    // TPC-H Q8-style market share: the target supplier nation's share of
    // PROMO-part revenue sold into the AMERICA region, by order year. Two
    // decimal(38,18) sums (conditional numerator via a CASE inside the
    // fold, total denominator) divided AFTER the final cast — the division
    // is the only double op and both operands are bit-reproducible. Part,
    // supplier(+nation), customer(+nation+region) all broadcast; the fact
    // shuffle is lineitem→orders on the order key.
    QueryDef(
      "q172_nation_market_share",
      (s, dir) => {
        val target = "NATION_3"
        val region = Tables.load(s, dir, "region").where(col("r_name") === "AMERICA")
        val custNation = Tables.load(s, dir, "nation")
          .join(broadcast(region.select(col("r_regionkey").as("n_regionkey"))),
            "n_regionkey")
        val customer = Tables.load(s, dir, "customer")
          .join(broadcast(custNation.select(col("n_nationkey").as("c_nationkey"))),
            "c_nationkey")
        val supplier = Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")
            .select(col("n_nationkey").as("s_nationkey"),
              col("n_name").as("supp_nation"))), "s_nationkey")
        val part = Tables.load(s, dir, "part").where(col("p_type") === "PROMO")
        val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(part.select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(supplier.select(col("s_suppkey"), col("supp_nation"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(customer.select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            Num.dsum38(when(col("supp_nation") === target, vol).otherwise(lit(0.0)))
              .as("target_revenue"),
            Num.dsum38(vol).as("total_revenue"))
          .withColumn("mkt_share", col("target_revenue") / col("total_revenue"))
      },
      Some(s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           |  ${Num.duckDsum38("CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS target_revenue,
           |  ${Num.duckDsum38("l_extendedprice * (1.0 - l_discount)")} AS total_revenue,
           |  ${Num.duckDsum38("CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} /
           |    ${Num.duckDsum38("l_extendedprice * (1.0 - l_discount)")} AS mkt_share
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN part ON l_partkey = p_partkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation n1 ON c_nationkey = n1.n_nationkey
           |JOIN region ON n1.n_regionkey = r_regionkey
           |JOIN nation n2 ON s_nationkey = n2.n_nationkey
           |WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
           |GROUP BY 1""".stripMargin)),

    // TPC-H Q10-style returned-item customer ranking: revenue lost to
    // returns per customer over one year, top 20. The q163 discipline:
    // the FACT side aggregates to o_custkey grain first (one lineitem
    // shuffle on l_orderkey, one on o_custkey), and customer — NOT
    // broadcastable at 100 TB — joins the already-#customers-bounded
    // aggregate; only nation broadcasts. Revenue is the decimal-exact fold
    // and the top-20 ordering is made total with the c_custkey tie-break,
    // so the LIMIT boundary is deterministic — the plan ends in
    // TakeOrderedAndProject, no global sort.
    QueryDef(
      "q186_returned_item_ranking",
      (s, dir) => {
        val customer = Tables.load(s, dir, "customer")
        val nation = Tables.load(s, dir, "nation")
        val orders = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
        val lineitem = Tables.load(s, dir, "lineitem")
          .where(col("l_returnflag") === "R")
        val byCust = lineitem
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(
            Num.dsum38(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"),
            count(lit(1)).as("n_items"))
        byCust
          .join(customer, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            col("revenue"), col("n_items"))
          .orderBy(col("revenue").desc, col("c_custkey").asc)
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name,
           |  ${Num.duckDsum38("l_extendedprice * (1.0 - l_discount)")} AS revenue,
           |  COUNT(*) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |WHERE l_returnflag = 'R'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01'
           |  AND o_orderdate < TIMESTAMP '1997-01-01'
           |GROUP BY 1, 2, 3
           |ORDER BY revenue DESC, c_custkey ASC
           |LIMIT 20""".stripMargin)),

    // TPC-H Q13-style customer order-count distribution: how many customers
    // placed exactly N qualifying orders, zeros included — the LEFT OUTER
    // join with the filter INSIDE the join condition (pushing it to a WHERE
    // would silently drop the zero-order customers, the classic Q13 trap).
    // Orders shuffle on o_custkey once; the second aggregation's input is
    // #customers rows.
    QueryDef(
      "q187_order_count_distribution",
      (s, dir) => {
        val customer = Tables.load(s, dir, "customer")
        val orders = Tables.load(s, dir, "orders")
        val joined = customer.join(orders,
          col("c_custkey") === col("o_custkey") &&
            col("o_orderpriority") =!= "1-URGENT", "left_outer")
        joined.groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
           |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
           |  FROM customer LEFT OUTER JOIN orders
           |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           |  GROUP BY c_custkey)
           |GROUP BY c_count""".stripMargin)),

    // TPC-H Q14-style promo revenue share: one month of lineitems against
    // the broadcast part dimension, conditional decimal fold over the same
    // aggregation pass (no second scan for the numerator), the single
    // double division at the end.
    QueryDef(
      "q188_promo_revenue_share",
      (s, dir) => {
        val part = Tables.load(s, dir, "part")
        val lineitem = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-03-01") &&
            col("l_shipdate") < lit("1996-04-01"))
        val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        lineitem
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .agg(
            Num.dsum38(when(col("p_type") === "PROMO", vol).otherwise(lit(0.0)))
              .as("promo_revenue"),
            Num.dsum38(vol).as("total_revenue"))
          .withColumn("promo_share",
            lit(100.0) * col("promo_revenue") / col("total_revenue"))
      },
      Some(s"""SELECT
           |  ${Num.duckDsum38("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS promo_revenue,
           |  ${Num.duckDsum38("l_extendedprice * (1.0 - l_discount)")} AS total_revenue,
           |  100.0 * ${Num.duckDsum38("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} /
           |    ${Num.duckDsum38("l_extendedprice * (1.0 - l_discount)")} AS promo_share
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
           |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin)),

    // TPC-H Q22-style dormant high-value customers: above-average-balance
    // customers with NO qualifying order in 1996, grouped by nation. The
    // global average is a 1-row broadcast (scalar-subquery shape); the
    // no-orders predicate is a LEFT ANTI join against the year's orders —
    // both sides reduced before joining. Balance sums are decimal-exact.
    QueryDef(
      "q189_dormant_high_balance",
      (s, dir) => {
        val customer = Tables.load(s, dir, "customer")
        val orders = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
        // decimal-exact mean: a plain double avg() would sum in partition
        // order and could flip a boundary customer across the threshold
        val avgBal = customer.where(col("c_acctbal") > 0.0)
          .agg((Num.dsum38(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
        customer
          .crossJoin(broadcast(avgBal))
          .where(col("c_acctbal") > col("avg_bal"))
          .join(orders.select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_cust"),
            Num.dsum38(col("c_acctbal")).as("total_bal"))
      },
      Some(s"""SELECT c_nationkey, COUNT(*) AS n_cust,
           |  ${Num.duckDsum38("c_acctbal")} AS total_bal
           |FROM customer
           |WHERE c_acctbal > (SELECT ${Num.duckDsum38("c_acctbal")} / COUNT(*)
           |                   FROM customer WHERE c_acctbal > 0.0)
           |  AND NOT EXISTS (
           |    SELECT 1 FROM orders
           |    WHERE o_custkey = c_custkey
           |      AND o_orderdate >= TIMESTAMP '1996-01-01'
           |      AND o_orderdate < TIMESTAMP '1997-01-01')
           |GROUP BY 1""".stripMargin)),

    // TPC-H Q6-style forecast revenue change: the pure scan-filter-fold
    // query — zero joins, one decimal fold; the plan is a single
    // WholeStageCodegen span over the pushed-down parquet scan, the
    // throughput yardstick every other lineitem query is read against.
    QueryDef(
      "q195_forecast_revenue_change",
      (s, dir) => {
        val lineitem = Tables.load(s, dir, "lineitem")
        lineitem
          .where(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01") &&
            col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
            col("l_quantity") < 24)
          .agg(Num.dsum38(col("l_extendedprice") * col("l_discount"))
            .as("revenue_change"),
            count(lit(1)).as("n_lineitems"))
      },
      Some(s"""SELECT
           |  ${Num.duckDsum38("l_extendedprice * l_discount")} AS revenue_change,
           |  COUNT(*) AS n_lineitems
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           |  AND l_shipdate < TIMESTAMP '1997-01-01'
           |  AND l_discount >= 0.03 AND l_discount <= 0.05
           |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q4-style order priority check: orders in a quarter that had at
    // least one lineitem shipped >60 days after the order date (the testdata
    // lacks commit/receipt dates; ship-lag preserves the shape), counted per
    // priority. The EXISTS is a LEFT SEMI join whose condition mixes the
    // orderkey equi-key with a non-equi date predicate referencing BOTH
    // sides — Catalyst keeps the equi part as the hash key and evaluates the
    // date compare as a join residual, so both facts shuffle exactly once on
    // orderkey and the semi join emits each order at most once (no distinct
    // needed, unlike an inner-join + dedup formulation).
    QueryDef(
      "q200_order_priority_check",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-07-01") &&
            col("o_orderdate") < lit("1996-10-01"))
        val lineitem = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"))
        orders
          .join(lineitem,
            col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
           |FROM orders
           |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
           |  AND o_orderdate < TIMESTAMP '1996-10-01'
           |  AND EXISTS (
           |    SELECT 1 FROM lineitem
           |    WHERE l_orderkey = o_orderkey
           |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
           |GROUP BY 1""".stripMargin)),

    // TPC-H Q12-style priority counts per line status (linestatus stands in
    // for the absent shipmode column): one year of qualifying lineitems
    // against orders — a genuine FACT-FACT join, so both sides shuffle on
    // orderkey (neither is broadcastable at 100 TB) and the high/low
    // priority split is a conditional fold riding the same aggregation
    // pass, not a second scan.
    QueryDef(
      "q201_linestatus_priority",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        val lineitem = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01") &&
            col("l_returnflag").isin("A", "R"))
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        lineitem
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(
            sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      },
      // DuckDB SUM(integer) widens to HUGEINT (pandas object) — cast back to
      // BIGINT so the dtype matches Spark's LongType in the hash compare.
      Some("""SELECT l_linestatus,
           |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           |  AND l_shipdate < TIMESTAMP '1997-01-01'
           |  AND l_returnflag IN ('A', 'R')
           |GROUP BY 1""".stripMargin)),

    // TPC-H Q15-style top supplier(s): suppliers whose quarterly revenue
    // equals the global maximum. Revenue stays DECIMAL through the max
    // comparison (casting to double first could in principle collapse two
    // near-max values; exact decimals cannot), and the max itself is a
    // 1-row broadcast joined back scalar-subquery-style — the #suppliers-row
    // aggregate is the only shuffled frame; lineitem shuffles once on
    // suppkey. Ties all surface, ordered by suppkey, so the result is
    // deterministic either way.
    QueryDef(
      "q202_top_revenue_suppliers",
      (s, dir) => {
        val supplier = Tables.load(s, dir, "supplier")
        val lineitem = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1996-04-01"))
        val rev = lineitem
          .groupBy(col("l_suppkey"))
          .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,18)")).as("rev"))
        val maxRev = rev.agg(max(col("rev")).as("max_rev"))
        rev
          .crossJoin(broadcast(maxRev))
          .where(col("rev") === col("max_rev"))
          .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("rev").cast("double").as("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH rev AS (
           |  SELECT l_suppkey, SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,18))) AS r
           |  FROM lineitem
           |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           |    AND l_shipdate < TIMESTAMP '1996-04-01'
           |  GROUP BY 1)
           |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
           |FROM supplier JOIN rev ON s_suppkey = l_suppkey
           |WHERE r = (SELECT MAX(r) FROM rev)
           |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q17-style small-quantity revenue: average yearly revenue lost if
    // small orders (below 20% of the part's average quantity) were not
    // filled. The correlated AVG subquery decorrelates to a per-partkey
    // pre-aggregate joined back — the classic rewrite. The brand filter
    // reduces part to a broadcastable key list FIRST, so lineitem is cut to
    // the brand's rows before either the pre-agg or the join-back; the
    // per-part average is dsum38/count (a double avg() folds in partition
    // order and could flip a boundary lineitem across the 0.2× threshold
    // cross-engine).
    QueryDef(
      "q203_small_quantity_revenue",
      (s, dir) => {
        val bparts = Tables.load(s, dir, "part")
          .where(col("p_brand") === "Brand#3")
          .select(col("p_partkey"))
        val li = Tables.load(s, dir, "lineitem")
          .join(broadcast(bparts), col("l_partkey") === col("p_partkey"))
        val avgq = li.groupBy(col("l_partkey").as("a_partkey"))
          .agg((Num.dsum38(col("l_quantity")) / count(lit(1))).as("avg_qty"))
        li.join(avgq, col("l_partkey") === col("a_partkey"))
          .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
          .agg(
            (Num.dsum38(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
            count(lit(1)).as("n_small"))
      },
      Some(s"""SELECT
           |  ${Num.duckDsum38("l_extendedprice")} / 7.0 AS avg_yearly,
           |  COUNT(*) AS n_small
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE p_brand = 'Brand#3'
           |  AND l_quantity < 0.2 * (
           |    SELECT ${Num.duckDsum38("l_quantity")} / COUNT(*)
           |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // TPC-H Q19-style disjunctive revenue: three OR'd conjunct blocks mixing
    // part attributes (brand, size) with lineitem attributes (quantity).
    // Part broadcasts; the disjunction evaluates as a post-join residual in
    // one codegen'd pass — no union-of-three-scans rewrite needed, and the
    // partkey equi-join stays the single hash key under all three blocks.
    QueryDef(
      "q204_disjunctive_revenue",
      (s, dir) => {
        val part = Tables.load(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        val lineitem = Tables.load(s, dir, "lineitem")
        val blocks =
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(11, 25) &&
            col("l_quantity").between(10, 25)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(26, 50) &&
            col("l_quantity").between(20, 40))
        lineitem
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .where(blocks)
          .agg(
            Num.dsum38(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"),
            count(lit(1)).as("n_lineitems"))
      },
      Some(s"""SELECT
           |  ${Num.duckDsum38("l_extendedprice * (1.0 - l_discount)")} AS revenue,
           |  COUNT(*) AS n_lineitems
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
           |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10 AND 25)
           |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin)),

    // TPC-H Q21-style waiting suppliers: suppliers who were the ONLY late
    // shipper (>90-day ship lag) on a multi-supplier order, ranked by how
    // many lineitems they held up. The oracle keeps Q21's literal
    // EXISTS / NOT-EXISTS self-joins; the engine decorrelates BOTH into one
    // orderkey-grain aggregation — n_supp (multi-supplier test), n_late
    // (sole-late test), and, because n_late = 1 pins a unique late supplier,
    // max(when(late, suppkey)) recovers WHO without any join-back and
    // sum(when(late, 1)) recovers their held-up row count. Net dataflow:
    // one fact-fact shuffle on orderkey + one #orders-row aggregation +
    // one #suppliers-row aggregation, vs the textbook THREE lineitem
    // self-joins.
    QueryDef(
      "q205_waiting_suppliers",
      (s, dir) => {
        val supplier = Tables.load(s, dir, "supplier")
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"))
        val lineitem = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")
        val grain = lineitem
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"))
          .agg(
            countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(when(late, col("l_suppkey"))).as("n_late"),
            max(when(late, col("l_suppkey"))).as("late_supp"),
            sum(when(late, 1L).otherwise(0L)).as("late_rows"))
        grain
          .where(col("n_supp") > 1 && col("n_late") === 1)
          .groupBy(col("late_supp"))
          .agg(sum(col("late_rows")).as("numwait"))
          .join(broadcast(supplier), col("late_supp") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("numwait"))
          .orderBy(col("numwait").desc, col("s_suppkey").asc)
          .limit(10)
      },
      Some("""SELECT s_suppkey, s_name, COUNT(*) AS numwait
           |FROM supplier, lineitem l1, orders
           |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
           |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
           |  AND EXISTS (
           |    SELECT 1 FROM lineitem l2
           |    WHERE l2.l_orderkey = l1.l_orderkey
           |      AND l2.l_suppkey <> l1.l_suppkey)
           |  AND NOT EXISTS (
           |    SELECT 1 FROM lineitem l3
           |    WHERE l3.l_orderkey = l1.l_orderkey
           |      AND l3.l_suppkey <> l1.l_suppkey
           |      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
           |GROUP BY 1, 2
           |ORDER BY numwait DESC, s_suppkey ASC
           |LIMIT 10""".stripMargin)),

    // TPC-H Q9-style product-line profit by supplier nation × order year
    // (reference pattern adapted: the synthetic schema has no partsupp, so
    // supply cost is proxied as 60% of p_retailprice per unit — the join
    // topology and fold are Q9's). The q171 discipline: the name-filtered
    // part cut is a broadcastable key list applied BEFORE the fact rows
    // (it prunes ~7/8 of lineitem at the scan-side join), supplier and
    // nation broadcast, and lineitem→orders stays the ONE fact-fact
    // shuffle. Per-row profit arithmetic is plain IEEE double (identical
    // cross-engine), folded decimal(38,18).
    QueryDef(
      "q206_profit_by_nation_year",
      (s, dir) => {
        val part = Tables.load(s, dir, "part")
          .where(col("p_name").contains("widget"))
          .select(col("p_partkey"), col("p_retailprice"))
        val supplier = Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")
              .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("nation"))),
            "s_nationkey")
          .select(col("s_suppkey"), col("nation"))
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"))
        Tables.load(s, dir, "lineitem")
          .join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
          .agg(Num.dsum38(
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              - lit(0.6) * col("p_retailprice") * col("l_quantity"))
            .as("sum_profit"))
      },
      Some(s"""SELECT n_name AS nation,
           |  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           |  ${Num.duckDsum38(
               "l_extendedprice * (1.0 - l_discount) - 0.6 * p_retailprice * l_quantity")} AS sum_profit
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN nation ON s_nationkey = n_nationkey
           |WHERE p_name LIKE '%widget%'
           |GROUP BY 1, 2""".stripMargin)),

    // TPC-H Q2-style minimum-cost supplier (adapted: no partsupp table, so
    // supply cost is the observed MIN unit price min(l_extendedprice /
    // l_quantity) per (part, supplier) from lineitem — the same
    // "cheapest qualified supplier per part in a region" correlated-min
    // semantics). Scale discipline: the part cut is a broadcastable key
    // list applied BEFORE the (part, supplier) aggregation so the heavy
    // fact shuffle carries only the ~1/60 filtered slice (q206); supplier
    // × nation × region collapses to one broadcast dimension; the per-part
    // min-cost election is a WindowGroupLimit rank, ties → lowest suppkey.
    QueryDef(
      "q228_min_cost_supplier",
      (s, dir) => {
        val partCut = Tables.load(s, dir, "part")
          .where(col("p_type") === "PROMO" && pmod(col("p_size"), lit(10)) === 5)
          .select(col("p_partkey"), col("p_brand"))
        val eu = Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")
              .join(broadcast(Tables.load(s, dir, "region")
                  .where(col("r_name") === "EUROPE")),
                col("n_regionkey") === col("r_regionkey"))
              .select(col("n_nationkey"), col("n_name").as("nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("nation"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_partkey"))
          .orderBy(col("unit_cost").asc, col("l_suppkey").asc)
        Tables.load(s, dir, "lineitem")
          .join(broadcast(partCut), col("l_partkey") === col("p_partkey"))
          .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"), col("p_brand"),
            col("s_name"), col("s_acctbal"), col("nation"))
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") === 1)
          .select(col("s_acctbal"), col("s_name"), col("nation"),
            col("l_partkey").as("p_partkey"), col("p_brand"), col("unit_cost"))
          .orderBy(col("s_acctbal").desc, col("nation").asc, col("s_name").asc,
            col("p_partkey").asc)
          .limit(100)
      },
      Some("""WITH cost AS (
           |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
           |  FROM lineitem GROUP BY 1, 2),
           |eu AS (
           |  SELECT s_suppkey, s_name, s_acctbal, n_name
           |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
           |  JOIN region ON n_regionkey = r_regionkey
           |  WHERE r_name = 'EUROPE'),
           |ranked AS (
           |  SELECT c.l_partkey, c.l_suppkey, c.unit_cost,
           |    row_number() OVER (PARTITION BY c.l_partkey
           |      ORDER BY c.unit_cost ASC, c.l_suppkey ASC) AS rk
           |  FROM cost c JOIN eu ON eu.s_suppkey = c.l_suppkey)
           |SELECT eu.s_acctbal, eu.s_name, eu.n_name AS nation,
           |  p.p_partkey, p.p_brand, r.unit_cost
           |FROM ranked r
           |JOIN eu ON eu.s_suppkey = r.l_suppkey
           |JOIN part p ON p.p_partkey = r.l_partkey
           |WHERE r.rk = 1 AND p.p_type = 'PROMO' AND p.p_size % 10 = 5
           |ORDER BY eu.s_acctbal DESC, nation, eu.s_name, p.p_partkey
           |LIMIT 100""".stripMargin)),

    // TPC-H Q11-style important-part value concentration: revenue value per
    // part restricted to ONE nation's suppliers, keeping parts whose value
    // exceeds 1.5× the average part value (the scalar-subquery HAVING — a
    // share threshold, so the selectivity is scale-stable). BOTH folds are
    // decimal-exact (per-part dsum38, then dsum38 again over the per-part
    // doubles), so the threshold compare is engine-exact; the nation's
    // supplier list broadcasts and prunes the fact scan before its only
    // shuffle; the 1-row total rides a broadcast nested-loop join.
    QueryDef(
      "q229_important_parts",
      (s, dir) => {
        val natSupp = Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")
              .where(col("n_name") === "NATION_7")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val value = Tables.load(s, dir, "lineitem")
          .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"))
          .agg(Num.dsum38(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("value"))
          // two consumers (total + threshold filter): break the lineage so
          // the fact scan and its shuffle run once
          .localCheckpoint()
        val tot = value.agg(Num.dsum38(col("value")).as("total"),
          count(lit(1)).as("np"))
        value.crossJoin(broadcast(tot))
          .where(col("value") > lit(1.5) * col("total") / col("np"))
          .select(col("l_partkey"), col("value"))
          .orderBy(col("value").desc)
      },
      Some(s"""WITH val AS (
           |  SELECT l_partkey,
           |    ${Num.duckDsum38("l_extendedprice * (1.0 - l_discount)")} AS value
           |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation ON s_nationkey = n_nationkey
           |  WHERE n_name = 'NATION_7' GROUP BY 1),
           |tot AS (SELECT ${Num.duckDsum38("value")} AS total, COUNT(*) AS np FROM val)
           |SELECT l_partkey, value FROM val CROSS JOIN tot
           |WHERE value > 1.5 * total / np
           |ORDER BY value DESC""".stripMargin)),

    // TPC-H Q16-style supplier diversity by part attribute: how many
    // DISTINCT suppliers ship each (brand, type, size) bucket, excluding a
    // brand/type slice and the "complaint" suppliers (negative account
    // balance — the synthetic twin of Q16's comment filter, excluded by
    // anti-join). Scale: the part-attribute cut broadcasts and prunes
    // lineitem BEFORE the (part, supplier) distinct, the exclusion list is
    // a broadcast anti-join, and the final count-distinct groups by the
    // low-cardinality attribute triple.
    QueryDef(
      "q230_supplier_part_counts",
      (s, dir) => {
        val parts = Tables.load(s, dir, "part")
          .where(!(col("p_brand") === "Brand#4" || col("p_type") === "PROMO") &&
            col("p_size") <= 10)
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
        val excl = Tables.load(s, dir, "supplier")
          .where(col("s_acctbal") < 0).select(col("s_suppkey"))
        Tables.load(s, dir, "lineitem")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("l_suppkey"),
            col("p_brand"), col("p_type"), col("p_size"))
          .distinct()
          .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
            col("p_type").asc, col("p_size").asc)
      },
      Some("""WITH bridge AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
           |SELECT p_brand, p_type, p_size,
           |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
           |FROM bridge JOIN part ON p_partkey = l_partkey
           |WHERE NOT (p_brand = 'Brand#4' OR p_type = 'PROMO') AND p_size <= 10
           |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
           |GROUP BY 1, 2, 3
           |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q20-style dominant-supplier detection (adapted: no partsupp
    // availqty, so "excess" is a SHARE — a supplier is dominant in a part
    // when it shipped >30% of that part's 1997 volume). Both the per-
    // (part, supplier) quantities and the per-part totals are decimal-exact
    // folds, so the share threshold is engine-exact; the name-filtered
    // part cut broadcasts into the fact scan, the dominant-supplier set is
    // a distinct over (suppkey) only, and the region-filtered supplier
    // dimension joins it by broadcast.
    QueryDef(
      "q231_dominant_suppliers",
      (s, dir) => {
        val pkeys = Tables.load(s, dir, "part")
          .where(col("p_name").contains("a")).select(col("p_partkey"))
        val qty = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1997-01-01") &&
            col("l_shipdate") < lit("1998-01-01"))
          .join(broadcast(pkeys), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(Num.dsum38(col("l_quantity")).as("sq"))
          // two consumers (per-part totals + share filter): one fact pass
          .localCheckpoint()
        val tot = qty.groupBy(col("l_partkey"))
          .agg(Num.dsum38(col("sq")).as("tq"))
        val dom = qty.join(tot, "l_partkey")
          .where(col("sq") > lit(0.3) * col("tq"))
          .select(col("l_suppkey")).distinct()
        Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")
              .join(broadcast(Tables.load(s, dir, "region")
                  .where(col("r_name") === "ASIA")),
                col("n_regionkey") === col("r_regionkey"))
              .select(col("n_nationkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(dom, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_name"), col("s_acctbal"))
          .orderBy(col("s_name").asc)
      },
      Some(s"""WITH qty AS (
           |  SELECT l_partkey, l_suppkey, ${Num.duckDsum38("l_quantity")} AS sq
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           |    AND l_shipdate < TIMESTAMP '1998-01-01'
           |    AND p_name LIKE '%a%'
           |  GROUP BY 1, 2),
           |tot AS (SELECT l_partkey, ${Num.duckDsum38("sq")} AS tq FROM qty GROUP BY 1),
           |dom AS (
           |  SELECT DISTINCT q.l_suppkey FROM qty q
           |  JOIN tot t ON q.l_partkey = t.l_partkey
           |  WHERE q.sq > 0.3 * t.tq)
           |SELECT s_name, s_acctbal FROM supplier
           |JOIN dom ON s_suppkey = l_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |ORDER BY s_name""".stripMargin)),

    // Clickstream PATH analysis: the top-20 3-step event-type sequences
    // within visit sessions (q146's gaps-and-islands sessionization with
    // a 6-hour silence gap — the daily-visit grain where multi-step paths
    // exist; ties (ts, event_id)) — the "what do
    // users actually do" table next to q145's fixed funnel. Per-session
    // sequences assemble with the q106 sort_array(collect_list) n-gram
    // pattern (keyed windows only, never global); the top-20 is a
    // TakeOrdered over path counts with a path-string tiebreak.
    QueryDef(
      "q236_event_paths",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val wUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sess = ev.select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("prev_ts", lag(col("ts"), 1).over(wUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 21600000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id",
            sum(col("new_session")).over(
              wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val seqs = sess.groupBy(col("user_id"), col("session_id"))
          .agg(transform(
            sort_array(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")).as("t"))
          .where(size(col("t")) >= 3)
        seqs
          .select(explode(sequence(lit(1), size(col("t")) - 2)).as("i"), col("t"))
          .select(concat_ws(">", element_at(col("t"), col("i")),
            element_at(col("t"), col("i") + 1),
            element_at(col("t"), col("i") + 2)).as("path"))
          .groupBy(col("path"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path").asc)
          .limit(20)
      },
      Some("""WITH flagged AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
           |         THEN 1 ELSE 0 END AS ns
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sess AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS UNBOUNDED PRECEDING) AS session_id
           |  FROM flagged),
           |seqs AS (
           |  SELECT user_id, session_id,
           |    list(event_type ORDER BY ts, event_id) AS t
           |  FROM sess GROUP BY 1, 2),
           |tri AS (
           |  SELECT t[i] || '>' || t[i + 1] || '>' || t[i + 2] AS path
           |  FROM seqs, unnest(range(1, len(t) - 1)) AS u(i)
           |  WHERE len(t) >= 3)
           |SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM tri
           |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin)),

    // Data-quality CONSTRAINT REPORT (the Deequ-style gate a warehouse
    // runs before trusting a load): one row per declared constraint with
    // its violation count and verdict — key uniqueness, referential
    // integrity (lineitem→orders, lineitem→part, orders→customer),
    // completeness, and domain ranges. Scale shape: each check is one
    // narrow-column scan-aggregate; the FK checks are key-only anti joins
    // (broadcast where the parent is dimension-sized, shuffled key join
    // for orders at corpus scale); nothing carries payload columns.
    QueryDef(
      "q237_dq_report",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val orders = Tables.load(s, dir, "orders")
        val part = Tables.load(s, dir, "part")
        val customer = Tables.load(s, dir, "customer")
        def check(name: String,
            violations: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          violations.agg(count(lit(1)).as("n_violations"))
            .select(lit(name).as("check"), col("n_violations"),
              (col("n_violations") === 0L).as("pass"))
        val dupOrders = orders.groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("c")).where(col("c") > 1)
        val orphanOrder = li.select(col("l_orderkey"))
          .join(orders.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
        val orphanPart = li.select(col("l_partkey"))
          .join(broadcast(part.select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_anti")
        val orphanCust = orders.select(col("o_custkey"))
          .join(broadcast(customer.select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"), "left_anti")
        val badDiscount = li.where(col("l_discount") < 0.0 ||
          col("l_discount") > 1.0)
        val badQty = li.where(col("l_quantity").isNull ||
          col("l_quantity") <= 0.0)
        val nullDate = orders.where(col("o_orderdate").isNull)
        check("orders.o_orderkey unique", dupOrders)
          .unionByName(check("lineitem.l_orderkey in orders", orphanOrder))
          .unionByName(check("lineitem.l_partkey in part", orphanPart))
          .unionByName(check("orders.o_custkey in customer", orphanCust))
          .unionByName(check("lineitem.l_discount in [0,1]", badDiscount))
          .unionByName(check("lineitem.l_quantity positive", badQty))
          .unionByName(check("orders.o_orderdate complete", nullDate))
          .orderBy(col("check").asc)
      },
      Some("""SELECT 'orders.o_orderkey unique' AS "check",
           |  CAST((SELECT COUNT(*) FROM (
           |    SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1))
           |    AS BIGINT) AS n_violations,
           |  (SELECT COUNT(*) FROM (
           |    SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)) = 0 AS pass
           |UNION ALL
           |SELECT 'lineitem.l_orderkey in orders',
           |  (SELECT COUNT(*) FROM lineitem
           |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
           |  (SELECT COUNT(*) FROM lineitem
           |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0
           |UNION ALL
           |SELECT 'lineitem.l_partkey in part',
           |  (SELECT COUNT(*) FROM lineitem
           |   WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
           |  (SELECT COUNT(*) FROM lineitem
           |   WHERE l_partkey NOT IN (SELECT p_partkey FROM part)) = 0
           |UNION ALL
           |SELECT 'orders.o_custkey in customer',
           |  (SELECT COUNT(*) FROM orders
           |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
           |  (SELECT COUNT(*) FROM orders
           |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
           |UNION ALL
           |SELECT 'lineitem.l_discount in [0,1]',
           |  (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0.0 OR l_discount > 1.0),
           |  (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0.0 OR l_discount > 1.0) = 0
           |UNION ALL
           |SELECT 'lineitem.l_quantity positive',
           |  (SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL OR l_quantity <= 0.0),
           |  (SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL OR l_quantity <= 0.0) = 0
           |UNION ALL
           |SELECT 'orders.o_orderdate complete',
           |  (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL),
           |  (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL) = 0
           |ORDER BY "check"""".stripMargin)),

    // Volume-anomaly detection on the event stream: hourly counts per
    // event type scored against their own trailing 24-hour window (mean
    // and variance from EXACT integer sums — the z arithmetic is a ratio
    // of integer-derived doubles, engine-identical), flagging |z| ≥ 2.5
    // after 12 hours of warm-up. The monitoring table an operator alerts
    // on. Scale shape: the corpus reduces to (type, hour, count) in ONE
    // aggregation — the analytic window runs over type-keyed hourly rows
    // (dozens per type per day), never raw events.
    QueryDef(
      "q238_event_anomalies",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val hc = ev.groupBy(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Stats.volumeAnomalies(hc)
      },
      Some("""WITH hc AS (
           |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM events GROUP BY 1, 2),
           |w AS (
           |  SELECT event_type, hr, n,
           |    SUM(n) OVER tw AS s, COUNT(n) OVER tw AS c, SUM(n * n) OVER tw AS sq
           |  FROM hc
           |  WINDOW tw AS (PARTITION BY event_type ORDER BY hr
           |    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
           |SELECT event_type, hr, n,
           |  (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / c)
           |    / sqrt(CAST(sq AS DOUBLE) / c
           |      - (CAST(s AS DOUBLE) / c) * (CAST(s AS DOUBLE) / c)) AS z
           |FROM w
           |WHERE c >= 12
           |  AND CAST(sq AS DOUBLE) / c
           |    - (CAST(s AS DOUBLE) / c) * (CAST(s AS DOUBLE) / c) > 0
           |  AND abs((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / c)
           |    / sqrt(CAST(sq AS DOUBLE) / c
           |      - (CAST(s AS DOUBLE) / c) * (CAST(s AS DOUBLE) / c))) >= 2.5""".stripMargin)),

    // Seasonal (hour-of-day) volume anomalies: each (type, day, hour) cell
    // scores against the SAME hour on other days — the calendar-profile
    // complement of q238's trailing-window z (a nightly batch spike is
    // normal at 02:00, anomalous at 14:00). Day/hour keys are pure integer
    // arithmetic on epoch micros (no timezone functions); the profile is
    // #types × 24 rows of exact sums broadcast back onto the cells.
    QueryDef(
      "q262_seasonal_anomalies",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cells = ev.groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Stats.seasonalAnomalies(cells)
      },
      Some("""WITH cells AS (
           |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           |    (epoch_us(ts) // 3600000000) % 24 AS hod,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM events GROUP BY 1, 2, 3),
           |prof AS (
           |  SELECT event_type, hod, COUNT(*) AS c,
           |    CAST(SUM(n) AS BIGINT) AS s, CAST(SUM(n * n) AS BIGINT) AS sq
           |  FROM cells GROUP BY 1, 2)
           |SELECT cells.event_type, day, cells.hod, n,
           |  (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / c)
           |    / sqrt(CAST(sq AS DOUBLE) / c
           |      - (CAST(s AS DOUBLE) / c) * (CAST(s AS DOUBLE) / c)) AS z
           |FROM cells JOIN prof
           |  ON prof.event_type = cells.event_type AND prof.hod = cells.hod
           |WHERE c >= 3
           |  AND CAST(sq AS DOUBLE) / c
           |    - (CAST(s AS DOUBLE) / c) * (CAST(s AS DOUBLE) / c) > 0
           |  AND abs((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / c)
           |    / sqrt(CAST(sq AS DOUBLE) / c
           |      - (CAST(s AS DOUBLE) / c) * (CAST(s AS DOUBLE) / c))) >= 2.5""".stripMargin)),

    // k-ANONYMITY audit: quasi-identifier combinations (nation, market
    // segment, account-balance band) held by fewer than k=5 customers —
    // each violating row is a re-identification risk a release must
    // suppress or generalize. One keyed aggregation + a HAVING; the
    // governance twin of the PII redaction pass (q100 scrubs direct
    // identifiers; this catches identifying COMBINATIONS).
    QueryDef(
      "q274_k_anonymity",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        // band on exact integer cents, shifted positive so truncating and
        // floor integer division agree cross-engine on negative balances
        c.groupBy(col("c_nationkey"),
            col("c_mktsegment"),
            expr("(CAST(c_acctbal * 100 AS BIGINT) + 10000000) div 100000")
              .as("bal_band"))
          .agg(count(lit(1)).as("n"))
          .where(col("n") < 5)
      },
      Some("""SELECT c_nationkey, c_mktsegment,
           |  (CAST(c_acctbal * 100 AS BIGINT) + 10000000) // 100000 AS bal_band,
           |  COUNT(*) AS n
           |FROM customer
           |GROUP BY 1, 2, 3
           |HAVING COUNT(*) < 5""".stripMargin)),

    // Theil–Sen robust trend per event type over daily counts: the
    // median of all pairwise slopes — the trend one corrupted day cannot
    // move (q244's OLS breaks at a single outlier). Pair fan-out is
    // days² — a calendar bound, not a data bound; the median is exact
    // nearest-rank over a total order.
    QueryDef(
      "q286_theil_sen_trend",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cells = ev.groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Stats.theilSenTrend(cells)
      },
      Some("""WITH cells AS (
           |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM events GROUP BY 1, 2),
           |nd AS (SELECT event_type, COUNT(*) AS n_days FROM cells GROUP BY 1),
           |sl AS (
           |  SELECT a.event_type, a.day AS d1, b.day AS d2,
           |    CAST(b.n - a.n AS DOUBLE) / (b.day - a.day) AS sl
           |  FROM cells a JOIN cells b
           |    ON b.event_type = a.event_type AND b.day > a.day),
           |rk AS (
           |  SELECT event_type, sl,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY sl ASC, d1 ASC, d2 ASC) AS rn,
           |    COUNT(*) OVER (PARTITION BY event_type) AS np
           |  FROM sl)
           |SELECT rk.event_type, nd.n_days, CAST(np AS BIGINT) AS n_pairs,
           |  sl AS trend
           |FROM rk JOIN nd ON nd.event_type = rk.event_type
           |WHERE rn = FLOOR((np + 1) / 2.0)""".stripMargin)),

    // CUSUM change-point detection per event type over the daily count
    // series: cumulative deviation from the series mean accumulates slow
    // sustained shifts that the per-point z monitors (q238/q262) never
    // flag; the max |S_k| day is the most likely change point (earliest
    // day on ties). Exact integer cumulative sums; one double division.
    QueryDef(
      "q272_cusum_change_point",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cells = ev.groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Stats.cusumChangePoint(cells)
      },
      Some("""WITH cells AS (
           |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM events GROUP BY 1, 2),
           |w AS (
           |  SELECT event_type, day,
           |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS cum,
           |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
           |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
           |    COUNT(*) OVER (PARTITION BY event_type) AS nd
           |  FROM cells),
           |sst AS (
           |  SELECT event_type, day, nd,
           |    ABS(CAST(cum AS DOUBLE) - k * CAST(tot AS DOUBLE) / nd) AS s
           |  FROM w),
           |mx AS (
           |  SELECT event_type, MAX(nd) AS n_days, MAX(s) AS max_cusum
           |  FROM sst GROUP BY 1)
           |SELECT sst.event_type, MAX(sst.nd) AS n_days,
           |  MAX(sst.s) AS max_cusum, MIN(sst.day) AS change_day
           |FROM sst JOIN mx ON mx.event_type = sst.event_type
           |  AND sst.s = mx.max_cusum
           |GROUP BY 1""".stripMargin)),

    // SCD TYPE-2 dimension build — validity-interval history from a change
    // log (the warehouse pattern for slowly-changing attributes): each
    // customer's order-priority timeline collapses to rows where the
    // attribute CHANGES, with [valid_from, valid_to) from the change date
    // to the next change (NULL = current). Ties (two same-day orders)
    // break by o_orderkey in BOTH windows, so the interval chain is
    // total-order deterministic. All windows are customer-keyed — never
    // global.
    QueryDef(
      "q239_scd2_dimension",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val wC = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val ch = orders
          .withColumn("prev", lag(col("o_orderpriority"), 1).over(wC))
          .where(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
          .select(col("o_custkey"), col("o_orderpriority").as("prio"),
            col("o_orderdate").as("valid_from"), col("o_orderkey"))
        val wS = Window.partitionBy(col("o_custkey"))
          .orderBy(col("valid_from"), col("o_orderkey"))
        ch.withColumn("valid_to", lead(col("valid_from"), 1).over(wS))
          .select(col("o_custkey"), col("prio"), col("valid_from"),
            col("valid_to"))
      },
      Some("""WITH ch AS (
           |  SELECT o_custkey, o_orderpriority AS prio,
           |    o_orderdate AS valid_from, o_orderkey
           |  FROM (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
           |          lag(o_orderpriority) OVER (PARTITION BY o_custkey
           |            ORDER BY o_orderdate, o_orderkey) AS prev
           |        FROM orders)
           |  WHERE prev IS NULL OR prev <> o_orderpriority)
           |SELECT o_custkey, prio, valid_from,
           |  lead(valid_from) OVER (PARTITION BY o_custkey
           |    ORDER BY valid_from, o_orderkey) AS valid_to
           |FROM ch""".stripMargin)),

    // POINT-IN-TIME join against the q239 SCD2 dimension: revenue by the
    // customer's priority AS OF each lineitem's SHIP date (which can be
    // months after the order — the attribute may have changed in between;
    // the lookup every feature-store backfill runs). [from, to) intervals
    // partition each customer's timeline, so every fact row matches at
    // most one dimension row; facts shipping before the customer's first
    // change land in the explicit '0-NONE' bucket (LEFT join — row count
    // conserved, no silent drops). The SCD table is changes-sized
    // (≪ fact), so it broadcasts; lineitem→orders stays the one fact-fact
    // shuffle.
    QueryDef(
      "q240_pit_revenue_by_priority",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val wC = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val ch = orders
          .withColumn("prev", lag(col("o_orderpriority"), 1).over(wC))
          .where(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
          .select(col("o_custkey").as("sc_custkey"),
            col("o_orderpriority").as("prio"),
            col("o_orderdate").as("valid_from"), col("o_orderkey"))
        val wS = Window.partitionBy(col("sc_custkey"))
          .orderBy(col("valid_from"), col("o_orderkey"))
        val scd = ch.withColumn("valid_to", lead(col("valid_from"), 1).over(wS))
          .select(col("sc_custkey"), col("prio"), col("valid_from"),
            col("valid_to"))
          .localCheckpoint()
        val f = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
          .join(Tables.load(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
        f.join(broadcast(scd),
            col("o_custkey") === col("sc_custkey") &&
              col("l_shipdate") >= col("valid_from") &&
              (col("valid_to").isNull || col("l_shipdate") < col("valid_to")),
            "left_outer")
          .groupBy(coalesce(col("prio"), lit("0-NONE")).as("prio_asof"),
            year(col("l_shipdate")).as("yr"))
          .agg(Num.dsum38(col("rev")).as("revenue"),
            count(lit(1)).as("n"))
      },
      Some(s"""WITH ch AS (
           |  SELECT o_custkey, o_orderpriority AS prio,
           |    o_orderdate AS valid_from, o_orderkey
           |  FROM (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
           |          lag(o_orderpriority) OVER (PARTITION BY o_custkey
           |            ORDER BY o_orderdate, o_orderkey) AS prev
           |        FROM orders)
           |  WHERE prev IS NULL OR prev <> o_orderpriority),
           |scd AS (
           |  SELECT o_custkey AS sc_custkey, prio, valid_from,
           |    lead(valid_from) OVER (PARTITION BY o_custkey
           |      ORDER BY valid_from, o_orderkey) AS valid_to
           |  FROM ch),
           |f AS (
           |  SELECT o_custkey, l_shipdate,
           |    l_extendedprice * (1.0 - l_discount) AS rev
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
           |SELECT COALESCE(s.prio, '0-NONE') AS prio_asof,
           |  CAST(EXTRACT(year FROM f.l_shipdate) AS INTEGER) AS yr,
           |  ${Num.duckDsum38("f.rev")} AS revenue,
           |  CAST(COUNT(*) AS BIGINT) AS n
           |FROM f LEFT JOIN scd s ON s.sc_custkey = f.o_custkey
           |  AND f.l_shipdate >= s.valid_from
           |  AND (s.valid_to IS NULL OR f.l_shipdate < s.valid_to)
           |GROUP BY 1, 2""".stripMargin)),

    // Market-basket co-occurrence mining: the top-20 part PAIRS most often
    // ordered together, with lift (observed co-rate over the independence
    // expectation — integer-derived doubles, engine-exact). Scale shape:
    // ONE shuffle builds per-order sorted item sets (collect_set dedups
    // in-aggregate — no separate distinct pass), the pair explode is LOCAL
    // and bounded by basket size² (baskets are small — the classic a-priori
    // argument), pair counts shuffle (pa, pb) pairs only, and the top-20
    // is a TakeOrdered. Item counts and the basket total re-derive from
    // the basket frame (no second corpus scan) and broadcast.
    QueryDef(
      "q241_market_basket",
      (s, dir) => {
        val baskets = Tables.load(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
          .localCheckpoint()
        val pairCnt = baskets.where(size(col("items")) >= 2)
          .select(posexplode(col("items")).as(Seq("i", "pa")), col("items"))
          .select(col("pa"),
            explode(slice(col("items"), col("i") + lit(2),
              size(col("items")))).as("pb"))
          .groupBy(col("pa"), col("pb"))
          .agg(count(lit(1)).as("n_orders"))
        val itemCnt = baskets
          .select(explode(col("items")).as("pk"))
          .groupBy(col("pk")).agg(count(lit(1)).as("c"))
        val nb = baskets.agg(count(lit(1)).as("n_baskets"))
        pairCnt
          .join(broadcast(itemCnt.select(col("pk").as("pa"), col("c").as("ca"))),
            Seq("pa"))
          .join(broadcast(itemCnt.select(col("pk").as("pb"), col("c").as("cb"))),
            Seq("pb"))
          .crossJoin(broadcast(nb))
          .select(col("pa"), col("pb"), col("n_orders"),
            (col("n_orders").cast("double") * col("n_baskets").cast("double") /
              (col("ca").cast("double") * col("cb").cast("double"))).as("lift"))
          .orderBy(col("n_orders").desc, col("pa").asc, col("pb").asc)
          .limit(20)
      },
      Some("""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |pairs AS (
           |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
           |  FROM op a JOIN op b
           |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           |cnt AS (
           |  SELECT pa, pb, CAST(COUNT(*) AS BIGINT) AS n_orders
           |  FROM pairs GROUP BY 1, 2),
           |ic AS (SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM op GROUP BY 1),
           |nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
           |  FROM lineitem)
           |SELECT pa, pb, n_orders,
           |  CAST(n_orders AS DOUBLE) * CAST(n_baskets AS DOUBLE)
           |    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
           |FROM cnt
           |JOIN ic ca ON ca.pk = pa
           |JOIN ic cb ON cb.pk = pb
           |CROSS JOIN nb
           |ORDER BY n_orders DESC, pa, pb LIMIT 20""".stripMargin)),

    // LAST-TOUCH conversion attribution: each purchase credits the event
    // immediately before it in the same visit session (q236's 6-hour
    // sessionization; a purchase with no predecessor — session-opening —
    // credits 'direct'). The attribution table a growth analyst reads next
    // to q145's funnel. One keyed lag window over (user, ts, event_id)
    // rows, one tiny group-by — nothing global, nothing payload-sized.
    QueryDef(
      "q243_purchase_attribution",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val wUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val flagged = ev.select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("prev_ts", lag(col("ts"), 1).over(wUser))
          .withColumn("prev_type", lag(col("event_type"), 1).over(wUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 21600000000L, 1L)
              .otherwise(0L))
        flagged.where(col("event_type") === "purchase")
          .select(when(col("new_session") === 1L, lit("direct"))
            .otherwise(col("prev_type")).as("attributed_to"))
          .groupBy(col("attributed_to"))
          .agg(count(lit(1)).as("n_purchases"))
          .orderBy(col("n_purchases").desc, col("attributed_to").asc)
      },
      Some("""WITH flagged AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    lag(event_type) OVER w AS prev_type,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
           |         THEN 1 ELSE 0 END AS ns
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
           |SELECT CASE WHEN ns = 1 THEN 'direct' ELSE prev_type END
           |    AS attributed_to,
           |  CAST(COUNT(*) AS BIGINT) AS n_purchases
           |FROM flagged WHERE event_type = 'purchase'
           |GROUP BY 1 ORDER BY n_purchases DESC, attributed_to""".stripMargin)),

    // Per-group closed-form OLS: extended price regressed on quantity per
    // brand — slope, intercept, and R² from the five sufficient statistics
    // (n, Σx, Σy, Σxy, Σx², Σy²), each a decimal-exact fold, combined in
    // one fixed double expression per group. The distributed-regression
    // primitive (one aggregation pass, no iteration, no solver) that
    // answers "price elasticity per product line" at any scale.
    QueryDef(
      "q244_brand_price_ols",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .join(broadcast(Tables.load(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
        val stats = li.groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            Num.dsum38(col("l_quantity")).as("sx"),
            Num.dsum38(col("l_extendedprice")).as("sy"),
            Num.dsum38(col("l_quantity") * col("l_extendedprice")).as("sxy"),
            Num.dsum38(col("l_quantity") * col("l_quantity")).as("sxx"),
            Num.dsum38(col("l_extendedprice") * col("l_extendedprice")).as("syy"))
        val nD = col("n").cast("double")
        val slope = (nD * col("sxy") - col("sx") * col("sy")) /
          (nD * col("sxx") - col("sx") * col("sx"))
        val r2num = (nD * col("sxy") - col("sx") * col("sy")) *
          (nD * col("sxy") - col("sx") * col("sy"))
        val r2den = (nD * col("sxx") - col("sx") * col("sx")) *
          (nD * col("syy") - col("sy") * col("sy"))
        stats
          .select(col("p_brand"), col("n"),
            slope.as("slope"),
            ((col("sy") - slope * col("sx")) / nD).as("intercept"),
            (r2num / r2den).as("r2"))
          .orderBy(col("p_brand").asc)
      },
      Some(s"""WITH st AS (
           |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
           |    ${Num.duckDsum38("l_quantity")} AS sx,
           |    ${Num.duckDsum38("l_extendedprice")} AS sy,
           |    ${Num.duckDsum38("l_quantity * l_extendedprice")} AS sxy,
           |    ${Num.duckDsum38("l_quantity * l_quantity")} AS sxx,
           |    ${Num.duckDsum38("l_extendedprice * l_extendedprice")} AS syy
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  GROUP BY 1)
           |SELECT p_brand, n,
           |  (CAST(n AS DOUBLE) * sxy - sx * sy)
           |    / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
           |  (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
           |    / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
           |    / CAST(n AS DOUBLE) AS intercept,
           |  ((CAST(n AS DOUBLE) * sxy - sx * sy)
           |    * (CAST(n AS DOUBLE) * sxy - sx * sy))
           |    / ((CAST(n AS DOUBLE) * sxx - sx * sx)
           |      * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2
           |FROM st ORDER BY p_brand""".stripMargin)),

    // CDC MERGE-apply (the lakehouse MERGE INTO semantics as a query): a
    // change log derived from orders — each order an upsert of its
    // customer's balance, every 17th order a delete — applies to the
    // customer snapshot with LATEST-WINS conflict resolution per key
    // ((change ts, change id) descending, a keyed window — never global).
    // Deletes drop the row; upserts override the balance; untouched
    // customers keep theirs. Scale shape: one keyed window over the change
    // log, one key equi-join to the snapshot — both sides shuffle once on
    // the merge key (co-located under bucketing at scale).
    QueryDef(
      "q247_cdc_merge_apply",
      (s, dir) => {
        val cust = Tables.load(s, dir, "customer")
        val w = Window.partitionBy(col("key"))
          .orderBy(col("ts").desc, col("tie").desc)
        val latest = Tables.load(s, dir, "orders")
          .select(col("o_custkey").as("key"),
            when(pmod(col("o_orderkey"), lit(17)) === 0, "D").otherwise("U")
              .as("op"),
            col("o_totalprice").as("new_bal"),
            col("o_orderdate").as("ts"), col("o_orderkey").as("tie"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("key"), col("op"), col("new_bal"))
        cust.join(latest, col("c_custkey") === col("key"), "left_outer")
          .where(col("op").isNull || col("op") =!= "D")
          .select(col("c_custkey"),
            when(col("op") === "U", col("new_bal")).otherwise(col("c_acctbal"))
              .as("final_bal"),
            when(col("op") === "U", "updated").otherwise("kept").as("status"))
      },
      Some("""WITH ch AS (
           |  SELECT o_custkey AS key,
           |    CASE WHEN o_orderkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
           |    o_totalprice AS new_bal,
           |    row_number() OVER (PARTITION BY o_custkey
           |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           |  FROM orders),
           |latest AS (SELECT key, op, new_bal FROM ch WHERE rn = 1)
           |SELECT c_custkey,
           |  CASE WHEN op = 'U' THEN new_bal ELSE c_acctbal END AS final_bal,
           |  CASE WHEN op = 'U' THEN 'updated' ELSE 'kept' END AS status
           |FROM customer LEFT JOIN latest ON c_custkey = key
           |WHERE op IS NULL OR op <> 'D'""".stripMargin)),

    // EXACT weighted median per group: the smallest price whose cumulative
    // quantity weight reaches half the group total — quantity-weighted
    // "typical price" per return flag, the weighted complement of q153's
    // unweighted exact percentiles. The cumulative weight is a
    // decimal-exact fold (ties in the (x, wt) order can permute only
    // within equal-x runs, so the min-crossing price is total-order
    // deterministic). Catalog form uses the keyed analytic window; for
    // low-cardinality groups at corpus scale the q183 two-phase
    // range-partition cumsum is the drop-in replacement (the machinery is
    // Sampling.globalCumsumBy).
    QueryDef(
      "q248_weighted_median",
      (s, dir) => {
        val w = Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag").as("grp"),
            col("l_extendedprice").as("x"), col("l_quantity").as("wt"))
          .localCheckpoint()
        val tot = w.groupBy(col("grp")).agg(Num.dsum38(col("wt")).as("tw"))
        val cWin = Window.partitionBy(col("grp")).orderBy(col("x"), col("wt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        w.withColumn("cw",
            sum(col("wt").cast("decimal(38,18)")).over(cWin).cast("double"))
          .join(broadcast(tot), Seq("grp"))
          .where(col("cw") >= col("tw") / lit(2.0))
          .groupBy(col("grp"))
          .agg(min(col("x")).as("wmedian"))
          .orderBy(col("grp").asc)
      },
      Some(s"""WITH w AS (
           |  SELECT l_returnflag AS grp, l_extendedprice AS x, l_quantity AS wt
           |  FROM lineitem),
           |tot AS (SELECT grp, ${Num.duckDsum38("wt")} AS tw FROM w GROUP BY 1),
           |c AS (
           |  SELECT grp, x, wt,
           |    CAST(SUM(CAST(wt AS DECIMAL(38,18))) OVER (PARTITION BY grp
           |      ORDER BY x, wt
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cw
           |  FROM w)
           |SELECT c.grp, MIN(c.x) AS wmedian
           |FROM c JOIN tot ON tot.grp = c.grp
           |WHERE c.cw >= tot.tw / 2.0
           |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Order fulfillment-time distribution: days from order date to the
    // LAST line shipment, rolled up per priority — the operational SLA
    // table (does urgent actually ship faster?). Two keyed aggregations
    // (order grain → priority grain); day arithmetic is integer-exact and
    // the mean is a decimal fold over integers, so every cell is
    // engine-exact.
    QueryDef(
      "q249_fulfillment_by_priority",
      (s, dir) => {
        val fill = Tables.load(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(max(col("l_shipdate")).as("last_ship"))
          .join(Tables.load(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority"),
            datediff(col("last_ship"), col("o_orderdate")).as("fill_days"))
        fill.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            (Num.dsum(col("fill_days"), 0) / count(lit(1))).as("avg_fill_days"),
            max(col("fill_days")).cast("long").as("max_fill_days"))
          .orderBy(col("o_orderpriority").asc)
      },
      Some(s"""WITH fill AS (
           |  SELECT o_orderpriority,
           |    date_diff('day', o_orderdate, ls.last_ship) AS fill_days
           |  FROM (SELECT l_orderkey, MAX(l_shipdate) AS last_ship
           |        FROM lineitem GROUP BY 1) ls
           |  JOIN orders ON o_orderkey = ls.l_orderkey)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |  CAST(SUM(CAST(fill_days AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*)
           |    AS avg_fill_days,
           |  CAST(MAX(fill_days) AS BIGINT) AS max_fill_days
           |FROM fill GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Revenue concentration per nation: the exact Gini coefficient of
    // customer revenue — the inequality statistic for a mixture curator
    // ("is this market three whales or a thousand minnows?"). Per-customer
    // revenue folds decimal-exact; the rank is a nation-keyed window (never
    // global) with the custkey tiebreak making it total; Σ rank·revenue
    // stays decimal until the one fixed-form double expression. Formula:
    // G = 2·Σ(rn·x) / (n·Σx) − (n+1)/n over ascending ranks.
    QueryDef(
      "q257_nation_revenue_gini",
      (s, dir) => {
        val rev = Tables.load(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("rev"))
        val cust = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val nation = Tables.load(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        val base = rev
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("c_custkey").as("ck"),
            col("rev"))
        val w = Window.partitionBy(col("nation"))
          .orderBy(col("rev").asc, col("ck").asc)
        base.withColumn("rn", row_number().over(w))
          .groupBy(col("nation"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("rev")).as("s"),
            sum(col("rn") * col("rev")).as("wsum"))
          .select(col("nation"), col("n_customers"),
            col("s").cast("double").as("total_rev"),
            ((lit(2.0) * col("wsum").cast("double")) /
              (col("n_customers").cast("double") * col("s").cast("double")) -
              (col("n_customers") + 1).cast("double") /
                col("n_customers").cast("double")).as("gini"))
          .orderBy(col("nation").asc)
      },
      Some("""WITH rev AS (
           |  SELECT o_custkey,
           |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           |      AS rev
           |  FROM orders GROUP BY 1),
           |base AS (
           |  SELECT n_name AS nation, c_custkey AS ck, rev
           |  FROM rev
           |  JOIN customer ON c_custkey = o_custkey
           |  JOIN nation ON n_nationkey = c_nationkey),
           |r AS (
           |  SELECT nation, rev,
           |    row_number() OVER (PARTITION BY nation
           |      ORDER BY rev ASC, ck ASC) AS rn
           |  FROM base)
           |SELECT nation, COUNT(*) AS n_customers,
           |  CAST(SUM(rev) AS DOUBLE) AS total_rev,
           |  (2.0 * CAST(SUM(rn * rev) AS DOUBLE))
           |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE))
           |    - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           |    AS gini
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Winsorized robust mean: per-brand part price clipped at the exact
    // nearest-rank p05/p95 (klo = ⌈n/20⌉, khi = ⌈19n/20⌉ — the q153 ceil
    // convention) then decimal-mean'd — the outlier-robust location
    // estimate beside q33's dispersion stats. Ranks are brand-keyed
    // windows; the cut values come from one conditional aggregation (the
    // rank-klo row), never a sort-and-collect.
    QueryDef(
      "q258_winsorized_price",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
          .select(col("p_brand").as("brand"), col("p_partkey").as("pk"),
            col("p_retailprice").cast("decimal(15,2)").as("x"))
        val wr = Window.partitionBy(col("brand"))
          .orderBy(col("x").asc, col("pk").asc)
        val wn = Window.partitionBy(col("brand"))
        val ranked = p
          .withColumn("rn", row_number().over(wr))
          .withColumn("n", count(lit(1)).over(wn))
          .localCheckpoint()
        val bounds = ranked.groupBy(col("brand"))
          .agg(
            min(when(col("rn") === floor((col("n") + lit(19)) / lit(20.0)),
              col("x"))).as("lo"),
            min(when(col("rn") === floor((col("n") * 19 + lit(19)) / lit(20.0)),
              col("x"))).as("hi"))
        ranked.join(broadcast(bounds), "brand")
          .withColumn("cx",
            when(col("x") < col("lo"), col("lo"))
              .when(col("x") > col("hi"), col("hi"))
              .otherwise(col("x")))
          .groupBy(col("brand"))
          .agg(count(lit(1)).as("n_parts"),
            min(col("lo")).cast("double").as("lo"),
            min(col("hi")).cast("double").as("hi"),
            (Num.dsum(col("cx"), 2) / count(lit(1))).as("wins_mean"),
            (Num.dsum(col("x"), 2) / count(lit(1))).as("raw_mean"))
          .orderBy(col("brand").asc)
      },
      Some(s"""WITH p AS (
           |  SELECT p_brand AS brand, p_partkey AS pk,
           |    CAST(p_retailprice AS DECIMAL(15,2)) AS x
           |  FROM part),
           |r AS (
           |  SELECT brand, x,
           |    row_number() OVER (PARTITION BY brand ORDER BY x ASC, pk ASC)
           |      AS rn,
           |    COUNT(*) OVER (PARTITION BY brand) AS n
           |  FROM p),
           |b AS (
           |  SELECT brand,
           |    MIN(CASE WHEN rn = FLOOR((n + 19) / 20.0) THEN x END) AS lo,
           |    MIN(CASE WHEN rn = FLOOR((n * 19 + 19) / 20.0) THEN x END) AS hi
           |  FROM r GROUP BY 1),
           |c AS (
           |  SELECT r.brand,
           |    CASE WHEN r.x < b.lo THEN b.lo
           |         WHEN r.x > b.hi THEN b.hi
           |         ELSE r.x END AS cx,
           |    r.x, b.lo, b.hi
           |  FROM r JOIN b ON b.brand = r.brand)
           |SELECT brand, COUNT(*) AS n_parts,
           |  CAST(MIN(lo) AS DOUBLE) AS lo, CAST(MIN(hi) AS DOUBLE) AS hi,
           |  ${Num.duckDsum("cx", 2)} / COUNT(*) AS wins_mean,
           |  ${Num.duckDsum("x", 2)} / COUNT(*) AS raw_mean
           |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DURABLE equi-width histogram table: per-returnflag price counters
    // over a domain FROZEN on the base shard (the frozen-model
    // discipline), built per shard and merged additively (the CMS
    // maintenance class), then p50/p90 served from stored counters alone —
    // quantiles with no rescan and no sort, at bin-width resolution.
    // The oracle replays domain → bins → counters → cumulative pick
    // relationally; MIN/MAX are deterministic, so the replayed doubles are
    // bit-identical to the engine's frozen literals.
    QueryDef(
      "q260_hist_table_quantiles",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag").as("rf"), col("l_orderkey").as("ok"),
            col("l_extendedprice").as("x"))
        val base = li.where(pmod(col("ok"), lit(2)) === 0)
        val delta = li.where(pmod(col("ok"), lit(2)) =!= 0)
        val (lo, hi) = graft.ops.HistIndex.domain(base, col("x"))
        val merged = graft.ops.HistIndex.merge(Seq(
          graft.ops.HistIndex.build(base, col("rf"), col("x"), lo, hi, 32),
          graft.ops.HistIndex.build(delta, col("rf"), col("x"), lo, hi, 32)))
        graft.ops.HistIndex.quantiles(merged, lo, hi, 32, Seq(0.5, 0.9))
      },
      Some(s"""WITH li AS (
           |  SELECT l_returnflag AS key, l_orderkey AS ok, l_extendedprice AS x
           |  FROM lineitem),
           |b AS (
           |  SELECT MIN(CAST(x AS DOUBLE)) AS lo,
           |    (MAX(CAST(x AS DOUBLE)) - MIN(CAST(x AS DOUBLE))) / 32 AS width
           |  FROM li WHERE ok % 2 = 0),
           |h AS (
           |  SELECT key,
           |    ${graft.ops.HistIndex.duckBinOf("x", "b.lo", "b.width", 32)}
           |      AS bin,
           |    COUNT(*) AS cnt
           |  FROM li CROSS JOIN b GROUP BY 1, 2),
           |c AS (
           |  SELECT key, bin, cnt,
           |    CAST(SUM(cnt) OVER (PARTITION BY key ORDER BY bin
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS cum,
           |    CAST(SUM(cnt) OVER (PARTITION BY key) AS BIGINT) AS n
           |  FROM h),
           |qs(q) AS (VALUES (0.5), (0.9)),
           |sel AS (
           |  SELECT key, CAST(q AS DOUBLE) AS q, n, MIN(bin) AS bin
           |  FROM c CROSS JOIN qs
           |  WHERE cum >= CEIL(CAST(q AS DOUBLE) * n)
           |  GROUP BY 1, 2, 3)
           |SELECT key, q, n, b.lo + (bin + 1) * b.width AS est
           |FROM sel CROSS JOIN b""".stripMargin)),

    // KAPLAN–MEIER user-retention curve: per-user lifetime = first→last
    // event; users still active in the final 7 days are right-CENSORED
    // (their true lifetime is longer than observed) — the estimator that
    // makes retention curves honest about users who haven't churned yet.
    // The corpus reduces to per-user rows, then to a days-bounded duration
    // frame; the product-limit accumulation runs over that tiny frame.
    QueryDef(
      "q292_kaplan_meier",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val per = ev.groupBy(col("user_id"))
          .agg(min(col("ts")).as("fts"), max(col("ts")).as("lts"))
        val mx = ev.agg(max(col("ts")).as("mx"))
        val subj = per.crossJoin(broadcast(mx))
          .select(
            expr("(unix_micros(lts) - unix_micros(fts)) div 86400000000").as("t"),
            when(expr("unix_micros(lts)") <= expr("unix_micros(mx)") - lit(604800000000L),
              1L).otherwise(0L).as("ev"))
        graft.ops.Stats.kaplanMeier(subj)
      },
      Some("""WITH per AS (
           |  SELECT user_id, MIN(ts) AS fts, MAX(ts) AS lts FROM events GROUP BY 1),
           |mx AS (SELECT MAX(ts) AS m FROM events),
           |subj AS (
           |  SELECT (epoch_us(lts) - epoch_us(fts)) // 86400000000 AS t,
           |    CASE WHEN epoch_us(lts) <= epoch_us(m) - 604800000000
           |      THEN 1 ELSE 0 END AS ev
           |  FROM per CROSS JOIN mx),
           |cells AS (
           |  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
           |    CAST(SUM(1 - ev) AS BIGINT) AS c
           |  FROM subj GROUP BY 1),
           |w AS (
           |  SELECT t, d, c,
           |    CAST(SUM(d + c) OVER () AS BIGINT)
           |      - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |        AS BIGINT) AS n_risk
           |  FROM cells),
           |s AS (
           |  SELECT t, n_risk, d, c,
           |    SUM(CASE WHEN d < n_risk
           |        THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) END)
           |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS ls,
           |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
           |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS dead
           |  FROM w)
           |SELECT t, n_risk, d, c,
           |  CASE WHEN dead = 1 THEN 0.0 ELSE exp(ls) END AS surv
           |FROM s""".stripMargin)),

    // CUPED variance-reduced A/B readout (Deng et al.): pre-period spend
    // as the covariate, experiment-period spend as the metric, arms from
    // the deterministic user-id parity. θ = pooled cov(x,y)/var(x); the
    // adjusted means answer "what would the arms look like with pre-period
    // noise removed" — the standard trick that cuts experiment runtimes.
    QueryDef(
      "q293_cuped_adjustment",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val lo = ev.agg(min(expr("unix_micros(ts) div 86400000000")).as("d0"))
        val per = ev.crossJoin(broadcast(lo))
          .groupBy(col("user_id"))
          .agg(
            Num.dsum38(when(expr("unix_micros(ts) div 86400000000") - col("d0") < 15,
              col("value")).otherwise(lit(0.0))).as("x"),
            Num.dsum38(when(expr("unix_micros(ts) div 86400000000") - col("d0") >= 15,
              col("value")).otherwise(lit(0.0))).as("y"))
          .select(pmod(col("user_id"), lit(2)).as("arm"), col("x"), col("y"))
        graft.ops.Stats.cupedAdjust(per)
      },
      Some(s"""WITH d0 AS (
           |  SELECT MIN(epoch_us(ts) // 86400000000) AS d0 FROM events),
           |per AS (
           |  SELECT user_id,
           |    CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 - d0 < 15
           |      THEN CAST(value AS DECIMAL(38,18))
           |      ELSE CAST(0 AS DECIMAL(38,18)) END) AS DOUBLE) AS x,
           |    CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 - d0 >= 15
           |      THEN CAST(value AS DECIMAL(38,18))
           |      ELSE CAST(0 AS DECIMAL(38,18)) END) AS DOUBLE) AS y
           |  FROM events CROSS JOIN d0 GROUP BY 1),
           |g AS (
           |  SELECT COUNT(*) AS n,
           |    ${Num.duckDsum38("x")} AS sx, ${Num.duckDsum38("y")} AS sy,
           |    ${Num.duckDsum38("x * x")} AS sxx,
           |    ${Num.duckDsum38("x * y")} AS sxy
           |  FROM per),
           |th AS (
           |  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
           |    sx / n AS mean_x_all
           |  FROM g),
           |a AS (
           |  SELECT user_id % 2 AS arm, COUNT(*) AS n_arm,
           |    ${Num.duckDsum38("x")} AS asx, ${Num.duckDsum38("y")} AS asy
           |  FROM per GROUP BY 1)
           |SELECT arm, n_arm, asy / n_arm AS mean_y,
           |  asy / n_arm - theta * (asx / n_arm - mean_x_all) AS mean_y_cuped,
           |  theta
           |FROM a CROSS JOIN th""".stripMargin)),

    // BENFORD first-digit audit on order totals: observed digit counts vs
    // the log10(1+1/d) law with the χ² distance — the classic
    // fabricated-numbers smell test for any monetary column (synthetic
    // uniform-ish prices FAIL Benford loudly; the χ² says by how much).
    // Cents derive through an exact decimal cast, never double truncation.
    QueryDef(
      "q294_benford_audit",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        graft.ops.Stats.benfordAudit(o,
          (col("o_totalprice").cast("decimal(15,2)") * 100).cast("long"))
      },
      Some(s"""WITH cents AS (
           |  SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
           |    AS a
           |  FROM orders),
           |d AS (
           |  SELECT substring(CAST(a AS VARCHAR), 1, 1) AS digit,
           |    COUNT(*) AS n_obs
           |  FROM cents
           |  WHERE substring(CAST(a AS VARCHAR), 1, 1) BETWEEN '1' AND '9'
           |  GROUP BY 1),
           |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM d),
           |e AS (
           |  SELECT digit, n_obs,
           |    log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * n_total AS exp_n
           |  FROM d CROSS JOIN t),
           |x AS (
           |  SELECT digit, n_obs, exp_n,
           |    POWER(n_obs - exp_n, 2) / exp_n AS contrib
           |  FROM e),
           |c AS (SELECT ${Num.duckDsum38("contrib")} AS chi2 FROM x)
           |SELECT digit, n_obs, exp_n, contrib, chi2
           |FROM x CROSS JOIN c""".stripMargin)),

    // Two-sample KOLMOGOROV–SMIRNOV test: does `value` follow the same
    // distribution for purchases as for clicks? D = sup |F₁−F₂| stays
    // exact-integer (decimal cross products through the two-phase prefix
    // sum) until one final division; ks_z scales D for the Kolmogorov
    // quantile (reject equality at 1.358 for α=0.05). The distribution-free
    // drift test beside PSI's binned one (q263).
    QueryDef(
      "q295_ks_test",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val two = ev.where(col("event_type").isin("purchase", "click"))
        graft.ops.Stats.ksTest(two, col("value"), col("event_type") === "purchase")
      },
      Some("""WITH cells AS (
           |  SELECT value AS v,
           |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS na,
           |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
           |      AS BIGINT) AS nb
           |  FROM events WHERE event_type IN ('purchase', 'click')
           |  GROUP BY 1),
           |c AS (
           |  SELECT
           |    CAST(SUM(na) OVER (ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS cna,
           |    CAST(SUM(nb) OVER (ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS cnb
           |  FROM cells),
           |t AS (
           |  SELECT CAST(SUM(na) AS BIGINT) AS n1,
           |    CAST(SUM(nb) AS BIGINT) AS n2
           |  FROM cells),
           |m AS (
           |  SELECT n1, n2,
           |    MAX(ABS(CAST(cna AS DECIMAL(38,0)) * n2
           |      - CAST(cnb AS DECIMAL(38,0)) * n1)) AS mnum
           |  FROM c CROSS JOIN t GROUP BY 1, 2)
           |SELECT n1, n2,
           |  CAST(mnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) AS d_stat,
           |  CAST(mnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
           |    * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) AS ks_z
           |FROM m""".stripMargin)),

    // First-order MARKOV transition matrix over each user's event sequence:
    // P(next event type | current) from one per-user lag window + one keyed
    // aggregation — the behavioral model behind "what do users do after an
    // error?". The matrix is #states²-bounded regardless of corpus size.
    QueryDef(
      "q296_markov_transitions",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        graft.ops.Stats.markovTransitions(ev.select(col("user_id").as("u"),
          col("ts").as("o1"), col("event_id").as("o2"),
          col("event_type").as("cur")))
      },
      Some("""WITH nx AS (
           |  SELECT event_type AS cur,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS nxt
           |  FROM events),
           |counts AS (
           |  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
           |  FROM nx WHERE nxt IS NOT NULL GROUP BY 1, 2),
           |tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS tot FROM counts GROUP BY 1)
           |SELECT c.cur, c.nxt, c.n, CAST(c.n AS DOUBLE) / tot AS p
           |FROM counts c JOIN tot USING (cur)""".stripMargin)),

    // STATIONARY distribution of the q296 chain by 8 unrolled power-iteration
    // rounds from the uniform start — "where do user sessions spend their
    // time in the long run". Each round is one broadcast join + one keyed
    // aggregation over the #states²-bounded matrix; mass sums fold in
    // decimal so the oracle's unrolled CTEs replay bit-for-bit.
    QueryDef(
      "q297_markov_stationary",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val trans = graft.ops.Stats.markovTransitions(ev.select(
          col("user_id").as("u"), col("ts").as("o1"),
          col("event_id").as("o2"), col("event_type").as("cur")))
        graft.ops.Stats.markovStationary(trans, iters = 8)
      },
      Some {
        val rounds = (1 to 8).map { i =>
          s"""s$i AS (
             |  SELECT t.nxt AS state, ${Num.duckDsum38(s"s${i - 1}.p * t.tp")} AS p
             |  FROM t JOIN s${i - 1} ON s${i - 1}.state = t.cur GROUP BY 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH nx AS (
           |  SELECT event_type AS cur,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS nxt
           |  FROM events),
           |counts AS (
           |  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
           |  FROM nx WHERE nxt IS NOT NULL GROUP BY 1, 2),
           |tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS tot FROM counts GROUP BY 1),
           |t AS (
           |  SELECT c.cur, c.nxt, CAST(c.n AS DOUBLE) / tot.tot AS tp
           |  FROM counts c JOIN tot ON tot.cur = c.cur),
           |k AS (SELECT COUNT(DISTINCT cur) AS k FROM t),
           |s0 AS (SELECT DISTINCT cur AS state, 1.0 / k AS p FROM t CROSS JOIN k),
           |$rounds
           |SELECT state, p FROM s8""".stripMargin
      }),

    // MANN–KENDALL trend test per event type over the daily count series —
    // the significance twin of the Theil–Sen slope (q286): S counts
    // concordant-minus-discordant day pairs exactly, the variance carries
    // the standard tie correction, z applies the ±1 continuity correction.
    // Pair fan-out is days² — a calendar bound, not a data bound.
    QueryDef(
      "q298_mann_kendall_trend",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cells = ev.groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("n"))
          .select(col("event_type").as("key"), col("day"), col("n"))
        graft.ops.Stats.mannKendall(cells)
      },
      Some("""WITH cells AS (
           |  SELECT event_type AS key, epoch_us(ts) // 86400000000 AS day,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM events GROUP BY 1, 2),
           |p AS (
           |  SELECT a.key,
           |    CAST(SUM(CASE WHEN b.n > a.n THEN 1
           |      WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s
           |  FROM cells a JOIN cells b ON b.key = a.key AND b.day > a.day
           |  GROUP BY 1),
           |nd AS (SELECT key, COUNT(*) AS nd FROM cells GROUP BY 1),
           |ties AS (
           |  SELECT key, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
           |  FROM (SELECT key, n, COUNT(*) AS t FROM cells GROUP BY 1, 2)
           |  GROUP BY 1),
           |f AS (
           |  SELECT p.key, nd.nd AS n_days, p.s,
           |    CAST(nd.nd * (nd.nd - 1) * (2 * nd.nd + 5) - ties.tsum AS DOUBLE)
           |      / 18.0 AS var_s
           |  FROM p JOIN nd ON nd.key = p.key JOIN ties ON ties.key = p.key)
           |SELECT key, n_days, s, var_s,
           |  CASE WHEN var_s <= 0.0 THEN NULL
           |       WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
           |       WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
           |       ELSE 0.0 END AS z
           |FROM f""".stripMargin)),

    // POISSON-BOOTSTRAP confidence interval for mean order value: per-row
    // independent Poisson(1) weights from the cross-engine hash approximate
    // with-replacement resampling in ONE pass (the method that makes CIs
    // tractable at corpus scale — a true resample is a global shuffle per
    // replicate); 32 replicate means → nearest-rank ~94% interval.
    QueryDef(
      "q299_poisson_bootstrap",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        graft.ops.Sampling.poissonBootstrapMean(o, col("o_orderkey"),
          (col("o_totalprice").cast("decimal(15,2)") * 100).cast("long"), 32)
      },
      Some(s"""WITH o AS (
           |  SELECT CAST(o_orderkey AS VARCHAR) AS k,
           |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS x
           |  FROM orders),
           |r AS (
           |  SELECT k, x, b
           |  FROM o CROSS JOIN (SELECT unnest(range(0, 32)) AS b)),
           |w AS (
           |  SELECT x, b, ${graft.ops.Sampling.duckPoissonWeight("k", "b")} AS w
           |  FROM r),
           |m AS (
           |  SELECT b,
           |    CAST(SUM(w * CAST(x AS DECIMAL(38,0))) AS DOUBLE)
           |      / CAST(SUM(w) AS BIGINT) AS m
           |  FROM w GROUP BY 1),
           |rk AS (
           |  SELECT b, m, row_number() OVER (ORDER BY m ASC, b ASC) AS rn
           |  FROM m),
           |ci AS (
           |  SELECT MIN(CASE WHEN rn = 2 THEN m END) AS boot_lo,
           |    MIN(CASE WHEN rn = 31 THEN m END) AS boot_hi
           |  FROM rk),
           |base AS (
           |  SELECT COUNT(*) AS n,
           |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)
           |      AS mean_x
           |  FROM o)
           |SELECT n, mean_x, boot_lo, boot_hi, 32 AS n_boot
           |FROM base CROSS JOIN ci""".stripMargin)),

    // DURABLE Markov transition-count table: counts built per user-id
    // shard (users never straddle shards and the lag window is per-user,
    // so shard-local lags ARE the global lags — the locality argument),
    // merged by plain summation, and the stationary distribution served
    // from the MERGED table. The oracle is the never-saw-shards one-shot
    // rebuild (q297's verbatim SQL): merge == rebuild proved through the
    // model surface, the q221/q246 additive-table discipline.
    QueryDef(
      "q302_markov_table_merge",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val steps = ev.select(col("user_id").as("u"), col("ts").as("o1"),
          col("event_id").as("o2"), col("event_type").as("cur"))
        val shards = (0 to 2).map(i =>
          graft.ops.Stats.markovCountTable(
            steps.where(pmod(col("u"), lit(3)) === i)))
        val merged = graft.ops.Stats.markovMergeCounts(shards)
        graft.ops.Stats.markovStationary(
          graft.ops.Stats.markovFromCounts(merged), iters = 8)
      },
      Some {
        val rounds = (1 to 8).map { i =>
          s"""s$i AS (
             |  SELECT t.nxt AS state, ${Num.duckDsum38(s"s${i - 1}.p * t.tp")} AS p
             |  FROM t JOIN s${i - 1} ON s${i - 1}.state = t.cur GROUP BY 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH nx AS (
           |  SELECT event_type AS cur,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS nxt
           |  FROM events),
           |counts AS (
           |  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
           |  FROM nx WHERE nxt IS NOT NULL GROUP BY 1, 2),
           |tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS tot FROM counts GROUP BY 1),
           |t AS (
           |  SELECT c.cur, c.nxt, CAST(c.n AS DOUBLE) / tot.tot AS tp
           |  FROM counts c JOIN tot ON tot.cur = c.cur),
           |k AS (SELECT COUNT(DISTINCT cur) AS k FROM t),
           |s0 AS (SELECT DISTINCT cur AS state, 1.0 / k AS p FROM t CROSS JOIN k),
           |$rounds
           |SELECT state, p FROM s8""".stripMargin
      }),

    // LOG-RANK test: do purchasers and non-purchasers share a retention
    // curve? The hypothesis test beside q292's Kaplan–Meier estimate —
    // at each event time group-1's observed deaths compare against the
    // hypergeometric expectation under H0, and the standardized sum is
    // asymptotically N(0,1). Same calendar-bounded envelope as q292.
    QueryDef(
      "q303_logrank_test",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cohort = ev.groupBy(col("user_id")).agg(
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("g"),
          min(col("ts")).as("fts"), max(col("ts")).as("lts"))
        val mx = ev.agg(max(col("ts")).as("mx"))
        val subj = cohort.crossJoin(broadcast(mx))
          .select(
            expr("(unix_micros(lts) - unix_micros(fts)) div 86400000000").as("t"),
            when(expr("unix_micros(lts)") <= expr("unix_micros(mx)") - lit(604800000000L),
              1L).otherwise(0L).as("ev"),
            col("g"))
        graft.ops.Stats.logRankTest(subj)
      },
      Some("""WITH cohort AS (
           |  SELECT user_id,
           |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS g,
           |    MIN(ts) AS fts, MAX(ts) AS lts
           |  FROM events GROUP BY 1),
           |mx AS (SELECT MAX(ts) AS m FROM events),
           |subj AS (
           |  SELECT (epoch_us(lts) - epoch_us(fts)) // 86400000000 AS t,
           |    CASE WHEN epoch_us(lts) <= epoch_us(m) - 604800000000
           |      THEN 1 ELSE 0 END AS ev,
           |    g
           |  FROM cohort CROSS JOIN mx),
           |cells AS (
           |  SELECT t,
           |    CAST(SUM(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
           |    CAST(SUM(CASE WHEN g = 1 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c1,
           |    CAST(SUM(CASE WHEN g = 0 THEN ev ELSE 0 END) AS BIGINT) AS d0,
           |    CAST(SUM(CASE WHEN g = 0 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c0
           |  FROM subj GROUP BY 1),
           |tt AS (
           |  SELECT CAST(SUM(d1 + c1) AS BIGINT) AS tn1,
           |    CAST(SUM(d0 + c0) AS BIGINT) AS tn0
           |  FROM cells),
           |w AS (
           |  SELECT t, d1, d0,
           |    tn1 - CAST(COALESCE(SUM(d1 + c1) OVER (ORDER BY t
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS n1,
           |    tn0 - CAST(COALESCE(SUM(d0 + c0) OVER (ORDER BY t
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS n0
           |  FROM cells CROSS JOIN tt),
           |e AS (
           |  SELECT t, d1, n1, n0, d1 + d0 AS dj, n1 + n0 AS nj
           |  FROM w WHERE d1 + d0 > 0),
           |v AS (
           |  SELECT d1,
           |    CAST(dj AS DOUBLE) * n1 / nj AS e1,
           |    CASE WHEN nj > 1
           |      THEN CAST(dj AS DOUBLE) * n1 * n0 * (nj - dj)
           |        / (CAST(nj AS DOUBLE) * nj * (nj - 1))
           |      ELSE 0.0 END AS v
           |  FROM e),
           |f AS (
           |  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
           |    CAST(SUM(CAST(e1 AS DECIMAL(38,18))) AS DOUBLE) AS e1,
           |    CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE) AS var_lr
           |  FROM v)
           |SELECT o1, e1, var_lr,
           |  CASE WHEN var_lr > 0 THEN (o1 - e1) / sqrt(var_lr) END AS z,
           |  CASE WHEN var_lr > 0
           |    THEN POWER((o1 - e1) / sqrt(var_lr), 2) END AS chi2
           |FROM f""".stripMargin)),

    // 5-FOLD cross-validated ridge — q304's missing evaluation story, via
    // LEAVE-ONE-OUT MOMENT ALGEBRA: ONE corpus aggregation produces the
    // ten exact decimal moments PER FOLD (fold = orderkey mod 5); each
    // fold's training moments are total − fold (integer-exact decimal
    // subtraction), so all five models train from one pass, and the test
    // RMSE expands entirely in the held-out fold's own moments
    // (Σr² = Σy² + b1²Σx1² + … — no second data pass, no per-row scoring).
    // Every double derives from the same fixed formula text as the oracle.
    QueryDef(
      "q367_ridge_cv",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val li = Tables.load(s, dir, "lineitem")
        val per = li.groupBy(col("l_orderkey")).agg(
          count(lit(1)).as("x1"),
          sum(col("l_quantity").cast("long")).as("x2"))
        val j = o.join(per, col("o_orderkey") === col("l_orderkey"))
          .select(pmod(col("o_orderkey"), lit(5)).as("fold"),
            col("x1"), col("x2"),
            (col("o_totalprice").cast("decimal(15,2)") * 100).cast("long").as("y"))
        val mf = j.groupBy(col("fold")).agg(
          count(lit(1)).cast("decimal(38,0)").as("fn"),
          sum(col("x1").cast("decimal(38,0)")).as("f1"),
          sum(col("x2").cast("decimal(38,0)")).as("f2"),
          sum(col("y").cast("decimal(38,0)")).as("fy"),
          sum((col("x1") * col("x1")).cast("decimal(38,0)")).as("f11"),
          sum((col("x2") * col("x2")).cast("decimal(38,0)")).as("f22"),
          sum((col("x1") * col("x2")).cast("decimal(38,0)")).as("f12"),
          sum((col("x1") * col("y")).cast("decimal(38,0)")).as("f1y"),
          sum((col("x2") * col("y")).cast("decimal(38,0)")).as("f2y"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("fyy"))
          .localCheckpoint()
        val tot = mf.agg(sum(col("fn")).as("tn"), sum(col("f1")).as("t1"),
          sum(col("f2")).as("t2"), sum(col("fy")).as("ty"),
          sum(col("f11")).as("t11"), sum(col("f22")).as("t22"),
          sum(col("f12")).as("t12"), sum(col("f1y")).as("t1y"),
          sum(col("f2y")).as("t2y"), sum(col("fyy")).as("tyy"))
        // train = total − fold, all still exact decimals; THEN to double
        val tr = mf.crossJoin(broadcast(tot)).select(col("fold"),
          col("fn").cast("double").as("hn"), col("f1").cast("double").as("h1"),
          col("f2").cast("double").as("h2"), col("fy").cast("double").as("hy"),
          col("f11").cast("double").as("h11"), col("f22").cast("double").as("h22"),
          col("f12").cast("double").as("h12"), col("f1y").cast("double").as("h1y"),
          col("f2y").cast("double").as("h2y"), col("fyy").cast("double").as("hyy"),
          (col("tn") - col("fn")).cast("double").as("n"),
          (col("t1") - col("f1")).cast("double").as("s1"),
          (col("t2") - col("f2")).cast("double").as("s2"),
          (col("ty") - col("fy")).cast("double").as("sy"),
          (col("t11") - col("f11")).cast("double").as("s11"),
          (col("t22") - col("f22")).cast("double").as("s22"),
          (col("t12") - col("f12")).cast("double").as("s12"),
          (col("t1y") - col("f1y")).cast("double").as("s1y"),
          (col("t2y") - col("f2y")).cast("double").as("s2y"))
        val c = tr.select(col("fold"), col("hn"), col("h1"), col("h2"),
          col("hy"), col("h11"), col("h22"), col("h12"), col("h1y"),
          col("h2y"), col("hyy"), col("n"), col("s1"), col("s2"), col("sy"),
          (col("s11") - col("s1") * col("s1") / col("n")).as("c11"),
          (col("s22") - col("s2") * col("s2") / col("n")).as("c22"),
          (col("s12") - col("s1") * col("s2") / col("n")).as("c12"),
          (col("s1y") - col("s1") * col("sy") / col("n")).as("c1y"),
          (col("s2y") - col("s2") * col("sy") / col("n")).as("c2y"))
        val lam = lit(1000.0)
        val den = (col("c11") + lam) * (col("c22") + lam) -
          col("c12") * col("c12")
        val b = c.select(col("fold"), col("hn"), col("h1"), col("h2"),
          col("hy"), col("h11"), col("h22"), col("h12"), col("h1y"),
          col("h2y"), col("hyy"), col("n"), col("s1"), col("s2"), col("sy"),
          (((col("c22") + lam) * col("c1y") - col("c12") * col("c2y")) / den)
            .as("b1"),
          (((col("c11") + lam) * col("c2y") - col("c12") * col("c1y")) / den)
            .as("b2"))
          .withColumn("a", col("sy") / col("n")
            - col("b1") * (col("s1") / col("n"))
            - col("b2") * (col("s2") / col("n")))
        b.select(col("fold"), col("n").cast("long").as("n_train"),
          col("hn").cast("long").as("n_test"),
          col("b1"), col("b2"), col("a").as("intercept"),
          sqrt((col("hyy")
            + col("b1") * col("b1") * col("h11")
            + col("b2") * col("b2") * col("h22")
            + col("hn") * col("a") * col("a")
            + lit(2.0) * col("b1") * col("b2") * col("h12")
            - lit(2.0) * col("b1") * col("h1y")
            - lit(2.0) * col("b2") * col("h2y")
            + lit(2.0) * col("a") * col("b1") * col("h1")
            + lit(2.0) * col("a") * col("b2") * col("h2")
            - lit(2.0) * col("a") * col("hy")) / col("hn")).as("rmse_cents"))
      },
      Some("""WITH per AS (
           |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x1,
           |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2
           |  FROM lineitem GROUP BY 1),
           |j AS (
           |  SELECT o_orderkey % 5 AS fold, x1, x2,
           |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS y
           |  FROM orders JOIN per ON per.l_orderkey = orders.o_orderkey),
           |mf AS (
           |  SELECT fold,
           |    CAST(COUNT(*) AS DECIMAL(38,0)) AS fn,
           |    SUM(CAST(x1 AS DECIMAL(38,0))) AS f1,
           |    SUM(CAST(x2 AS DECIMAL(38,0))) AS f2,
           |    SUM(CAST(y AS DECIMAL(38,0))) AS fy,
           |    SUM(CAST(x1 * x1 AS DECIMAL(38,0))) AS f11,
           |    SUM(CAST(x2 * x2 AS DECIMAL(38,0))) AS f22,
           |    SUM(CAST(x1 * x2 AS DECIMAL(38,0))) AS f12,
           |    SUM(CAST(x1 * y AS DECIMAL(38,0))) AS f1y,
           |    SUM(CAST(x2 * y AS DECIMAL(38,0))) AS f2y,
           |    SUM(CAST(y * y AS DECIMAL(38,0))) AS fyy
           |  FROM j GROUP BY 1),
           |tot AS (
           |  SELECT SUM(fn) AS tn, SUM(f1) AS t1, SUM(f2) AS t2,
           |    SUM(fy) AS ty, SUM(f11) AS t11, SUM(f22) AS t22,
           |    SUM(f12) AS t12, SUM(f1y) AS t1y, SUM(f2y) AS t2y,
           |    SUM(fyy) AS tyy
           |  FROM mf),
           |tr AS (
           |  SELECT fold,
           |    CAST(fn AS DOUBLE) AS hn, CAST(f1 AS DOUBLE) AS h1,
           |    CAST(f2 AS DOUBLE) AS h2, CAST(fy AS DOUBLE) AS hy,
           |    CAST(f11 AS DOUBLE) AS h11, CAST(f22 AS DOUBLE) AS h22,
           |    CAST(f12 AS DOUBLE) AS h12, CAST(f1y AS DOUBLE) AS h1y,
           |    CAST(f2y AS DOUBLE) AS h2y, CAST(fyy AS DOUBLE) AS hyy,
           |    CAST(tn - fn AS DOUBLE) AS n, CAST(t1 - f1 AS DOUBLE) AS s1,
           |    CAST(t2 - f2 AS DOUBLE) AS s2, CAST(ty - fy AS DOUBLE) AS sy,
           |    CAST(t11 - f11 AS DOUBLE) AS s11,
           |    CAST(t22 - f22 AS DOUBLE) AS s22,
           |    CAST(t12 - f12 AS DOUBLE) AS s12,
           |    CAST(t1y - f1y AS DOUBLE) AS s1y,
           |    CAST(t2y - f2y AS DOUBLE) AS s2y
           |  FROM mf CROSS JOIN tot),
           |c AS (
           |  SELECT fold, hn, h1, h2, hy, h11, h22, h12, h1y, h2y, hyy,
           |    n, s1, s2, sy,
           |    s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
           |    s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y,
           |    s2y - s2 * sy / n AS c2y
           |  FROM tr),
           |b AS (
           |  SELECT fold, hn, h1, h2, hy, h11, h22, h12, h1y, h2y, hyy,
           |    n, s1, s2, sy,
           |    ((c22 + 1000.0) * c1y - c12 * c2y)
           |      / ((c11 + 1000.0) * (c22 + 1000.0) - c12 * c12) AS b1,
           |    ((c11 + 1000.0) * c2y - c12 * c1y)
           |      / ((c11 + 1000.0) * (c22 + 1000.0) - c12 * c12) AS b2
           |  FROM c),
           |ba AS (
           |  SELECT *, sy / n - b1 * (s1 / n) - b2 * (s2 / n) AS a FROM b)
           |SELECT fold, CAST(n AS BIGINT) AS n_train,
           |  CAST(hn AS BIGINT) AS n_test, b1, b2, a AS intercept,
           |  sqrt((hyy
           |    + b1 * b1 * h11
           |    + b2 * b2 * h22
           |    + hn * a * a
           |    + 2.0 * b1 * b2 * h12
           |    - 2.0 * b1 * h1y
           |    - 2.0 * b2 * h2y
           |    + 2.0 * a * b1 * h1
           |    + 2.0 * a * b2 * h2
           |    - 2.0 * a * hy) / hn) AS rmse_cents
           |FROM ba""".stripMargin)),

    // SPLIT-CONFORMAL prediction interval around the ridge model — the
    // distribution-free "how wide must the error bar be for 90% coverage"
    // guarantee: train on folds {0,1,2}, q̂ = the ⌈(n_cal+1)·0.9⌉-th
    // smallest |residual| on the calibration fold (EXACT nearest-rank via
    // the two-phase globalRank — never a global window), then the
    // empirical coverage of ŷ ± q̂ on the untouched test fold (≈ 0.9 is
    // the conformal promise). Model and q̂ are 1-row broadcasts; residuals
    // are fixed-formula doubles identical in both engines.
    QueryDef(
      "q368_conformal_interval",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val li = Tables.load(s, dir, "lineitem")
        val per = li.groupBy(col("l_orderkey")).agg(
          count(lit(1)).as("x1"),
          sum(col("l_quantity").cast("long")).as("x2"))
        val j = o.join(per, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey").as("oid"),
            pmod(col("o_orderkey"), lit(5)).as("fold"),
            col("x1"), col("x2"),
            (col("o_totalprice").cast("decimal(15,2)") * 100).cast("long").as("y"))
          .localCheckpoint()
        val m = j.where(col("fold") <= 2).agg(
          count(lit(1)).as("nt"),
          sum(col("x1").cast("decimal(38,0)")).cast("double").as("s1"),
          sum(col("x2").cast("decimal(38,0)")).cast("double").as("s2"),
          sum(col("y").cast("decimal(38,0)")).cast("double").as("sy"),
          sum((col("x1") * col("x1")).cast("decimal(38,0)")).cast("double").as("s11"),
          sum((col("x2") * col("x2")).cast("decimal(38,0)")).cast("double").as("s22"),
          sum((col("x1") * col("x2")).cast("decimal(38,0)")).cast("double").as("s12"),
          sum((col("x1") * col("y")).cast("decimal(38,0)")).cast("double").as("s1y"),
          sum((col("x2") * col("y")).cast("decimal(38,0)")).cast("double").as("s2y"))
        val lam = lit(1000.0)
        val n = col("nt").cast("double")
        val c11 = col("s11") - col("s1") * col("s1") / n
        val c22 = col("s22") - col("s2") * col("s2") / n
        val c12 = col("s12") - col("s1") * col("s2") / n
        val c1y = col("s1y") - col("s1") * col("sy") / n
        val c2y = col("s2y") - col("s2") * col("sy") / n
        val den = (c11 + lam) * (c22 + lam) - c12 * c12
        val model = m.select(col("nt"),
            (((c22 + lam) * c1y - c12 * c2y) / den).as("b1"),
            (((c11 + lam) * c2y - c12 * c1y) / den).as("b2"),
            col("s1"), col("s2"), col("sy"), n.as("n"))
          .select(col("nt"), col("b1"), col("b2"),
            (col("sy") / col("n") - col("b1") * (col("s1") / col("n"))
              - col("b2") * (col("s2") / col("n"))).as("a"))
          .localCheckpoint()
        def resid: org.apache.spark.sql.Column = abs(col("y").cast("double") -
          (col("a") + col("b1") * col("x1").cast("double")
            + col("b2") * col("x2").cast("double")))
        val calRes = j.where(col("fold") === 3)
          .crossJoin(broadcast(model))
          .select(col("oid"), resid.as("r"))
        val ranked = graft.ops.Sampling.globalRank(calRes, col("r"), col("oid"))
          .localCheckpoint()
        val nc = ranked.agg(count(lit(1)).as("n_cal"))
        val qhat = ranked.crossJoin(broadcast(nc))
          .where(col("rank") ===
            least(expr("((n_cal + 1) * 9 + 9) div 10"), col("n_cal")))
          .select(col("v").as("qhat"), col("n_cal"))
        val test = j.where(col("fold") === 4)
          .crossJoin(broadcast(model))
          .select(resid.as("r"))
        test.crossJoin(broadcast(qhat))
          .crossJoin(broadcast(model.select(col("nt"), col("b1"), col("b2"),
            col("a"))))
          .agg(max(col("nt")).as("n_train"), max(col("n_cal")).as("n_cal"),
            count(lit(1)).as("n_test"),
            max(col("b1")).as("b1"), max(col("b2")).as("b2"),
            max(col("a")).as("intercept"),
            max(col("qhat")).as("qhat_cents"),
            (sum(when(col("r") <= col("qhat"), 1L).otherwise(0L)).cast("double") /
              count(lit(1)).cast("double")).as("coverage"))
      },
      Some("""WITH per AS (
           |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x1,
           |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2
           |  FROM lineitem GROUP BY 1),
           |j AS (
           |  SELECT o_orderkey AS oid, o_orderkey % 5 AS fold, x1, x2,
           |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS y
           |  FROM orders JOIN per ON per.l_orderkey = orders.o_orderkey),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS nt,
           |    CAST(SUM(CAST(x1 AS DECIMAL(38,0))) AS DOUBLE) AS s1,
           |    CAST(SUM(CAST(x2 AS DECIMAL(38,0))) AS DOUBLE) AS s2,
           |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           |    CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,0))) AS DOUBLE) AS s11,
           |    CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s22,
           |    CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s12,
           |    CAST(SUM(CAST(x1 * y AS DECIMAL(38,0))) AS DOUBLE) AS s1y,
           |    CAST(SUM(CAST(x2 * y AS DECIMAL(38,0))) AS DOUBLE) AS s2y
           |  FROM j WHERE fold <= 2),
           |model AS (
           |  SELECT nt, b1, b2,
           |    sy / n - b1 * (s1 / n) - b2 * (s2 / n) AS a
           |  FROM (
           |    SELECT nt, s1, s2, sy, CAST(nt AS DOUBLE) AS n,
           |      ((s22 - s2 * s2 / CAST(nt AS DOUBLE) + 1000.0)
           |          * (s1y - s1 * sy / CAST(nt AS DOUBLE))
           |        - (s12 - s1 * s2 / CAST(nt AS DOUBLE))
           |          * (s2y - s2 * sy / CAST(nt AS DOUBLE)))
           |      / ((s11 - s1 * s1 / CAST(nt AS DOUBLE) + 1000.0)
           |          * (s22 - s2 * s2 / CAST(nt AS DOUBLE) + 1000.0)
           |        - (s12 - s1 * s2 / CAST(nt AS DOUBLE))
           |          * (s12 - s1 * s2 / CAST(nt AS DOUBLE))) AS b1,
           |      ((s11 - s1 * s1 / CAST(nt AS DOUBLE) + 1000.0)
           |          * (s2y - s2 * sy / CAST(nt AS DOUBLE))
           |        - (s12 - s1 * s2 / CAST(nt AS DOUBLE))
           |          * (s1y - s1 * sy / CAST(nt AS DOUBLE)))
           |      / ((s11 - s1 * s1 / CAST(nt AS DOUBLE) + 1000.0)
           |          * (s22 - s2 * s2 / CAST(nt AS DOUBLE) + 1000.0)
           |        - (s12 - s1 * s2 / CAST(nt AS DOUBLE))
           |          * (s12 - s1 * s2 / CAST(nt AS DOUBLE))) AS b2
           |    FROM m)),
           |calres AS (
           |  SELECT j.oid,
           |    abs(CAST(j.y AS DOUBLE) - (model.a
           |      + model.b1 * CAST(j.x1 AS DOUBLE)
           |      + model.b2 * CAST(j.x2 AS DOUBLE))) AS r
           |  FROM j CROSS JOIN model WHERE j.fold = 3),
           |ranked AS (
           |  SELECT r, row_number() OVER (ORDER BY r, oid) AS rank FROM calres),
           |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM ranked),
           |qh AS (
           |  SELECT ranked.r AS qhat, nc.n_cal
           |  FROM ranked CROSS JOIN nc
           |  WHERE ranked.rank = LEAST(((n_cal + 1) * 9 + 9) // 10, n_cal)),
           |test AS (
           |  SELECT abs(CAST(j.y AS DOUBLE) - (model.a
           |      + model.b1 * CAST(j.x1 AS DOUBLE)
           |      + model.b2 * CAST(j.x2 AS DOUBLE))) AS r
           |  FROM j CROSS JOIN model WHERE j.fold = 4)
           |SELECT MAX(model.nt) AS n_train, MAX(qh.n_cal) AS n_cal,
           |  CAST(COUNT(*) AS BIGINT) AS n_test,
           |  MAX(model.b1) AS b1, MAX(model.b2) AS b2,
           |  MAX(model.a) AS intercept, MAX(qh.qhat) AS qhat_cents,
           |  CAST(SUM(CASE WHEN test.r <= qh.qhat THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE) AS coverage
           |FROM test CROSS JOIN qh CROSS JOIN model""".stripMargin)),

    // Closed-form RIDGE regression (λ=1000, intercept unpenalized):
    // order total ~ (line count, total quantity). Every moment is an
    // EXACT decimal sum of integer-valued products — one corpus
    // aggregation to nine numbers, then fixed-form double arithmetic on
    // the centered 2×2 normal equations (Cramer). The regularized sibling
    // of q244's per-group OLS; coefficients are deterministic at any
    // partitioning because nothing double-valued is ever shuffled.
    QueryDef(
      "q304_ridge_regression",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val li = Tables.load(s, dir, "lineitem")
        val per = li.groupBy(col("l_orderkey")).agg(
          count(lit(1)).as("x1"),
          sum(col("l_quantity").cast("long")).as("x2"))
        val j = o.join(per, col("o_orderkey") === col("l_orderkey"))
          .select(col("x1"), col("x2"),
            (col("o_totalprice").cast("decimal(15,2)") * 100).cast("long").as("y"))
        val m = j.agg(count(lit(1)).as("n"),
          sum(col("x1").cast("decimal(38,0)")).as("s1"),
          sum(col("x2").cast("decimal(38,0)")).as("s2"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x1") * col("x1")).cast("decimal(38,0)")).as("s11"),
          sum((col("x2") * col("x2")).cast("decimal(38,0)")).as("s22"),
          sum((col("x1") * col("x2")).cast("decimal(38,0)")).as("s12"),
          sum((col("x1") * col("y")).cast("decimal(38,0)")).as("s1y"),
          sum((col("x2") * col("y")).cast("decimal(38,0)")).as("s2y"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
        val d = m.select(col("n").cast("double").as("n"),
          col("s1").cast("double").as("s1"), col("s2").cast("double").as("s2"),
          col("sy").cast("double").as("sy"), col("s11").cast("double").as("s11"),
          col("s22").cast("double").as("s22"), col("s12").cast("double").as("s12"),
          col("s1y").cast("double").as("s1y"), col("s2y").cast("double").as("s2y"),
          col("syy").cast("double").as("syy"))
        val c = d.select(col("n"), col("s1"), col("s2"), col("sy"),
          (col("s11") - col("s1") * col("s1") / col("n")).as("c11"),
          (col("s22") - col("s2") * col("s2") / col("n")).as("c22"),
          (col("s12") - col("s1") * col("s2") / col("n")).as("c12"),
          (col("s1y") - col("s1") * col("sy") / col("n")).as("c1y"),
          (col("s2y") - col("s2") * col("sy") / col("n")).as("c2y"),
          (col("syy") - col("sy") * col("sy") / col("n")).as("cyy"))
        val lam = lit(1000.0)
        c.select(col("n").cast("long").as("n"),
            (((col("c22") + lam) * col("c1y") - col("c12") * col("c2y")) /
              ((col("c11") + lam) * (col("c22") + lam) - col("c12") * col("c12")))
              .as("b1"),
            (((col("c11") + lam) * col("c2y") - col("c12") * col("c1y")) /
              ((col("c11") + lam) * (col("c22") + lam) - col("c12") * col("c12")))
              .as("b2"),
            col("s1"), col("s2"), col("sy"), col("c1y"), col("c2y"), col("cyy"))
          .select(col("n"), col("b1"), col("b2"),
            (col("sy") / col("n") - col("b1") * (col("s1") / col("n"))
              - col("b2") * (col("s2") / col("n"))).as("intercept"),
            ((col("b1") * col("c1y") + col("b2") * col("c2y")) / col("cyy"))
              .as("r2"))
      },
      Some("""WITH per AS (
           |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x1,
           |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2
           |  FROM lineitem GROUP BY 1),
           |j AS (
           |  SELECT x1, x2,
           |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS y
           |  FROM orders JOIN per ON per.l_orderkey = orders.o_orderkey),
           |m AS (
           |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           |    CAST(SUM(CAST(x1 AS DECIMAL(38,0))) AS DOUBLE) AS s1,
           |    CAST(SUM(CAST(x2 AS DECIMAL(38,0))) AS DOUBLE) AS s2,
           |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           |    CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,0))) AS DOUBLE) AS s11,
           |    CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s22,
           |    CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s12,
           |    CAST(SUM(CAST(x1 * y AS DECIMAL(38,0))) AS DOUBLE) AS s1y,
           |    CAST(SUM(CAST(x2 * y AS DECIMAL(38,0))) AS DOUBLE) AS s2y,
           |    CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
           |  FROM j),
           |c AS (
           |  SELECT n, s1, s2, sy,
           |    s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
           |    s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y,
           |    s2y - s2 * sy / n AS c2y, syy - sy * sy / n AS cyy
           |  FROM m),
           |b AS (
           |  SELECT n, s1, s2, sy, c1y, c2y, cyy,
           |    ((c22 + 1000.0) * c1y - c12 * c2y)
           |      / ((c11 + 1000.0) * (c22 + 1000.0) - c12 * c12) AS b1,
           |    ((c11 + 1000.0) * c2y - c12 * c1y)
           |      / ((c11 + 1000.0) * (c22 + 1000.0) - c12 * c12) AS b2
           |  FROM c)
           |SELECT CAST(n AS BIGINT) AS n, b1, b2,
           |  sy / n - b1 * (s1 / n) - b2 * (s2 / n) AS intercept,
           |  (b1 * c1y + b2 * c2y) / cyy AS r2
           |FROM b""".stripMargin)),

    // KISH effective sample size of the temperature mixture: the q113
    // acceptance rates define a weighted sample; ESS = (Σw)²/Σw² and the
    // design effect n·Σw²/(Σw)² quantify how much the mixture's
    // re-weighting costs in statistical efficiency — the "is my mixture
    // too peaked" audit a curator reads before freezing rates. Everything
    // reduces through the #sources-row weight frame.
    QueryDef(
      "q305_effective_sample_size",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val w = graft.ops.Sampling.temperatureMixWeights(docs, col("source"),
          graft.ops.Text.wordCount(col("text")), budget = 50000L)
        w.agg(
            sum(col("n_docs")).as("n"),
            Num.dsum38(col("n_docs") * col("acceptance_rate")).as("sw"),
            Num.dsum38(col("n_docs") * col("acceptance_rate")
              * col("acceptance_rate")).as("sw2"))
          .select(col("n"), col("sw"), col("sw2"),
            (col("sw") * col("sw") / col("sw2")).as("ess"),
            (col("n") * col("sw2") / (col("sw") * col("sw")))
              .as("design_effect"))
      },
      Some(s"""WITH per AS (
           |  SELECT source, COUNT(*) AS n_docs,
           |    CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
           |      AS n_tokens
           |  FROM documents GROUP BY 1),
           |z AS (
           |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
           |    (a, b) -> a + b) AS z
           |  FROM per),
           |rates AS (
           |  SELECT n_docs, LEAST(CAST(1 AS DOUBLE),
           |    sqrt(CAST(n_tokens AS DOUBLE)) / z * 50000
           |      / CAST(n_tokens AS DOUBLE)) AS rate
           |  FROM per CROSS JOIN z),
           |g AS (
           |  SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
           |    ${Num.duckDsum38("n_docs * rate")} AS sw,
           |    ${Num.duckDsum38("n_docs * rate * rate")} AS sw2
           |  FROM rates)
           |SELECT n, sw, sw2, sw * sw / sw2 AS ess,
           |  n * sw2 / (sw * sw) AS design_effect
           |FROM g""".stripMargin)),

    // RFM customer segmentation: recency/frequency/monetary quintiles from
    // EXACT global ranks — the classic CRM cut, computed scale-safely: each
    // metric ranks through the two-phase prefix machinery (globalRank —
    // range partition + local window + offset broadcast, never one global
    // window over all customers), and quintile = ((rank−1)·5) div n + 1 is
    // pure integer arithmetic. Quintile 1 = lowest metric value; low
    // recency_days (recent buyers) therefore means r_q = 1.
    QueryDef(
      "q309_rfm_segments",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val day = datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date"))
        val per = o.groupBy(col("o_custkey").as("cust"))
          .agg(max(day).as("last_day"), count(lit(1)).as("frequency"),
            sum((col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
              .cast("decimal(38,0)")).as("m"))
        val mx = o.agg(max(day).as("mxd"))
        val base = per.crossJoin(broadcast(mx))
          .select(col("cust"), (col("mxd") - col("last_day")).cast("long").as("recency_days"),
            col("frequency"), col("m").cast("long").as("monetary_cents"))
          .localCheckpoint()
        val tot = base.agg(count(lit(1)).as("n"))
        def rk(c: String) = graft.ops.Sampling.globalRank(base, col(c), col("cust"))
          .select(col("rid").as("cust"), col("rank").as(s"${c}_rank"))
        base.join(rk("recency_days"), "cust")
          .join(rk("frequency"), "cust")
          .join(rk("monetary_cents"), "cust")
          .crossJoin(broadcast(tot))
          .select(col("cust"), col("recency_days"), col("frequency"),
            col("monetary_cents"),
            expr("(recency_days_rank - 1) * 5 div n + 1").as("r_q"),
            expr("(frequency_rank - 1) * 5 div n + 1").as("f_q"),
            expr("(monetary_cents_rank - 1) * 5 div n + 1").as("m_q"))
          .withColumn("segment", concat_ws("-", col("r_q"), col("f_q"), col("m_q")))
      },
      Some("""WITH per AS (
           |  SELECT o_custkey AS cust,
           |    MAX(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
           |      AS last_day,
           |    COUNT(*) AS frequency,
           |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT))
           |      AS BIGINT) AS monetary_cents
           |  FROM orders GROUP BY 1),
           |mx AS (
           |  SELECT MAX(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
           |    AS mxd
           |  FROM orders),
           |base AS (
           |  SELECT cust, CAST(mxd - last_day AS BIGINT) AS recency_days,
           |    frequency, monetary_cents
           |  FROM per CROSS JOIN mx),
           |nn AS (SELECT COUNT(*) AS n FROM base),
           |r AS (
           |  SELECT cust,
           |    row_number() OVER (ORDER BY recency_days, cust) AS rr,
           |    row_number() OVER (ORDER BY frequency, cust) AS fr,
           |    row_number() OVER (ORDER BY monetary_cents, cust) AS mr
           |  FROM base)
           |SELECT b.cust, b.recency_days, b.frequency, b.monetary_cents,
           |  (rr - 1) * 5 // n + 1 AS r_q,
           |  (fr - 1) * 5 // n + 1 AS f_q,
           |  (mr - 1) * 5 // n + 1 AS m_q,
           |  CAST((rr - 1) * 5 // n + 1 AS VARCHAR) || '-'
           |    || CAST((fr - 1) * 5 // n + 1 AS VARCHAR) || '-'
           |    || CAST((mr - 1) * 5 // n + 1 AS VARCHAR) AS segment
           |FROM base b JOIN r USING (cust) CROSS JOIN nn""".stripMargin)),

    // COHORT retention triangle: users grouped by first-seen week, activity
    // tracked by week offset — the (cohort × age) matrix every product
    // review reads. Two keyed aggregations + one id-join + one broadcast of
    // the #weeks-bounded cohort sizes; the matrix itself is weeks²-bounded
    // (a calendar bound, not a data bound).
    QueryDef(
      "q310_cohort_retention",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val days = ev.select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        val first = days.groupBy(col("user_id")).agg(min(col("day")).as("d0"))
        val uw = days.join(first, "user_id")
          .select(col("user_id"), expr("d0 div 7").as("cohort_week"),
            expr("(day div 7) - (d0 div 7)").as("week_offset"))
          .distinct()
        val sizes = first.groupBy(expr("d0 div 7").as("cohort_week"))
          .agg(count(lit(1)).as("n_cohort"))
        uw.groupBy(col("cohort_week"), col("week_offset"))
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(sizes), "cohort_week")
          .select(col("cohort_week"), col("week_offset"), col("n_active"),
            col("n_cohort"),
            (col("n_active").cast("double") / col("n_cohort")).as("rate"))
      },
      Some("""WITH days AS (
           |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
           |fst AS (SELECT user_id, MIN(day) AS d0 FROM days GROUP BY 1),
           |uw AS (
           |  SELECT DISTINCT d.user_id, f.d0 // 7 AS cohort_week,
           |    d.day // 7 - f.d0 // 7 AS week_offset
           |  FROM days d JOIN fst f USING (user_id)),
           |sizes AS (
           |  SELECT d0 // 7 AS cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
           |  FROM fst GROUP BY 1),
           |a AS (
           |  SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
           |  FROM uw GROUP BY 1, 2)
           |SELECT a.cohort_week, a.week_offset, a.n_active, s.n_cohort,
           |  CAST(a.n_active AS DOUBLE) / s.n_cohort AS rate
           |FROM a JOIN sizes s USING (cohort_week)""".stripMargin)),

    // χ² INDEPENDENCE test with Cramér's V: is document language
    // independent of source? The full contingency grid INCLUDES
    // zero-observed cells (margins cross-joined, observed LEFT-joined —
    // omitting empty cells understates χ²); expected counts and the χ²
    // fold are fixed-form over exact integers, decimal-summed over the
    // #sources×#langs-bounded grid. V normalizes χ² to [0,1] for an
    // effect-size read independent of corpus size.
    QueryDef(
      "q311_chi2_independence",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val obs = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
        val rowT = obs.groupBy(col("source")).agg(sum(col("o")).as("rt"))
        val colT = obs.groupBy(col("lang")).agg(sum(col("o")).as("ct"))
        val nTot = obs.agg(sum(col("o")).as("n"),
          countDistinct(col("source")).as("nr"),
          countDistinct(col("lang")).as("nc"))
        val grid = rowT.crossJoin(colT)
          .join(obs, Seq("source", "lang"), "left_outer")
          .select(coalesce(col("o"), lit(0L)).as("o"), col("rt"), col("ct"))
        grid.crossJoin(broadcast(nTot))
          .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
          .withColumn("contrib", pow(col("o") - col("e"), 2) / col("e"))
          .agg(max(col("n")).as("n"), max(col("nr")).as("n_rows"),
            max(col("nc")).as("n_cols"), Num.dsum38(col("contrib")).as("chi2"))
          .select(col("n"), col("n_rows"), col("n_cols"), col("chi2"),
            ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
            sqrt(col("chi2") /
              (col("n") * least(col("n_rows") - 1, col("n_cols") - 1)))
              .as("cramers_v"))
      },
      Some("""WITH obs AS (
           |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
           |  FROM documents GROUP BY 1, 2),
           |rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
           |ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
           |nt AS (
           |  SELECT CAST(SUM(o) AS BIGINT) AS n,
           |    CAST(COUNT(DISTINCT source) AS BIGINT) AS nr,
           |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS nc
           |  FROM obs),
           |grid AS (
           |  SELECT COALESCE(o.o, 0) AS o, rt.rt, ct.ct
           |  FROM rt CROSS JOIN ct
           |  LEFT JOIN obs o ON o.source = rt.source AND o.lang = ct.lang),
           |cells AS (
           |  SELECT o, CAST(rt AS DOUBLE) * ct / n AS e, n, nr, nc
           |  FROM grid CROSS JOIN nt),
           |f AS (
           |  SELECT MAX(n) AS n, MAX(nr) AS n_rows, MAX(nc) AS n_cols,
           |    CAST(SUM(CAST(POWER(o - e, 2) / e AS DECIMAL(38,18))) AS DOUBLE)
           |      AS chi2
           |  FROM cells)
           |SELECT n, n_rows, n_cols, chi2,
           |  (n_rows - 1) * (n_cols - 1) AS dof,
           |  sqrt(chi2 / (n * LEAST(n_rows - 1, n_cols - 1))) AS cramers_v
           |FROM f""".stripMargin)),

    // SPEARMAN rank correlation between account balance and total spend:
    // ranks come from the two-phase globalRank machinery (never a global
    // window), ties broken deterministically by customer id (the house
    // total-order discipline — both engines rank the identical
    // permutation, so ρ = 1 − 6Σd²/(n(n²−1)) is EXACT); Σd² and n(n²−1)
    // stay in decimal(38,0) — n³ overflows int64 past ~2M rows.
    QueryDef(
      "q313_spearman_correlation",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
        val spend = o.groupBy(col("o_custkey"))
          .agg(sum((col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
            .cast("decimal(38,0)")).as("sp"))
        val base = c.join(spend, col("c_custkey") === col("o_custkey"), "left_outer")
          .select(col("c_custkey").as("cust"),
            (col("c_acctbal").cast("decimal(15,2)") * 100).cast("long").as("x"),
            coalesce(col("sp").cast("long"), lit(0L)).as("y"))
          .localCheckpoint()
        val rx = graft.ops.Sampling.globalRank(base, col("x"), col("cust"))
          .select(col("rid").as("cust"), col("rank").as("rx"))
        val ry = graft.ops.Sampling.globalRank(base, col("y"), col("cust"))
          .select(col("rid").as("cust"), col("rank").as("ry"))
        rx.join(ry, "cust")
          .select(((col("rx") - col("ry")) * (col("rx") - col("ry")))
            .cast("decimal(38,0)").as("d2"))
          .agg(count(lit(1)).as("n"), sum(col("d2")).as("sd2"))
          .select(col("n"), col("sd2").cast("double").as("sum_d2"),
            (lit(1.0) - lit(6.0) * col("sd2").cast("double") /
              (col("n").cast("decimal(38,0)") *
                (col("n").cast("decimal(38,0)") * col("n") - 1)).cast("double"))
              .as("rho"))
      },
      Some("""WITH spend AS (
           |  SELECT o_custkey,
           |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT))
           |      AS BIGINT) AS sp
           |  FROM orders GROUP BY 1),
           |base AS (
           |  SELECT c_custkey AS cust,
           |    CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT) AS x,
           |    COALESCE(sp, 0) AS y
           |  FROM customer LEFT JOIN spend ON o_custkey = c_custkey),
           |r AS (
           |  SELECT cust,
           |    row_number() OVER (ORDER BY x, cust) AS rx,
           |    row_number() OVER (ORDER BY y, cust) AS ry
           |  FROM base),
           |d AS (
           |  SELECT CAST((rx - ry) * (rx - ry) AS DECIMAL(38,0)) AS d2 FROM r),
           |f AS (
           |  SELECT COUNT(*) AS n, SUM(d2) AS sd2 FROM d)
           |SELECT n, CAST(sd2 AS DOUBLE) AS sum_d2,
           |  1.0 - 6.0 * CAST(sd2 AS DOUBLE)
           |    / CAST(CAST(n AS DECIMAL(38,0))
           |        * (CAST(n AS DECIMAL(38,0)) * n - 1) AS DOUBLE) AS rho
           |FROM f""".stripMargin)),

    // AUTOCORRELATION function (lags 1–7) per event type over the daily
    // count series: ACF_k = Σ(x_t−x̄)(x_{t+k}−x̄)/Σ(x_t−x̄)² — the
    // weekly-seasonality read (lag-7 spikes) beside q262's profile
    // deviations. All windows are per-key over the calendar-bounded day
    // frame; products fold in decimal.
    QueryDef(
      "q314_autocorrelation",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cells = ev.groupBy(col("event_type").as("key"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("n"))
        val m = cells.groupBy(col("key")).agg(
          (sum(col("n").cast("decimal(38,0)")).cast("double") / count(lit(1)))
            .as("mean"),
          count(lit(1)).as("nd"))
        val cm = cells.join(broadcast(m), "key")
        val ss = cm.groupBy(col("key"))
          .agg(Num.dsum38((col("n") - col("mean")) * (col("n") - col("mean")))
            .as("ss"))
        val base = cm.join(broadcast(ss), "key").localCheckpoint()
        val wk = Window.partitionBy(col("key")).orderBy(col("day").asc)
        (1 to 7).map { k =>
          base.withColumn("nk", lead(col("n"), k).over(wk))
            .where(col("nk").isNotNull)
            .groupBy(col("key"))
            .agg(max(col("nd")).as("n_days"), max(col("ss")).as("ss"),
              Num.dsum38((col("n") - col("mean")) * (col("nk") - col("mean")))
                .as("num"),
              count(lit(1)).as("n_terms"))
            .select(col("key"), lit(k).as("lag"), col("n_days"), col("n_terms"),
              (col("num") / col("ss")).as("acf"))
        }.reduce(_ unionByName _)
      },
      Some {
        val sels = (1 to 7).map { k =>
          s"""SELECT key, $k AS lag, MAX(nd) AS n_days,
             |  CAST(COUNT(*) AS BIGINT) AS n_terms,
             |  CAST(SUM(CAST((n - mean) * (n$k - mean) AS DECIMAL(38,18)))
             |    AS DOUBLE) / MAX(ss) AS acf
             |FROM l WHERE n$k IS NOT NULL GROUP BY key""".stripMargin
        }.mkString("\nUNION ALL\n")
        val leads = (1 to 7).map(k => s"lead(n, $k) OVER w AS n$k").mkString(",\n    ")
        s"""WITH cells AS (
           |  SELECT event_type AS key, epoch_us(ts) // 86400000000 AS day,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM events GROUP BY 1, 2),
           |m AS (
           |  SELECT key,
           |    CAST(SUM(CAST(n AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) AS mean,
           |    COUNT(*) AS nd
           |  FROM cells GROUP BY 1),
           |cm AS (SELECT c.*, m.mean, m.nd FROM cells c JOIN m ON m.key = c.key),
           |ss AS (
           |  SELECT key,
           |    CAST(SUM(CAST((n - mean) * (n - mean) AS DECIMAL(38,18)))
           |      AS DOUBLE) AS ss
           |  FROM cm GROUP BY 1),
           |base AS (SELECT cm.*, ss.ss FROM cm JOIN ss ON ss.key = cm.key),
           |l AS (
           |  SELECT key, day, n, mean, nd, ss,
           |    $leads
           |  FROM base WINDOW w AS (PARTITION BY key ORDER BY day ASC))
           |$sels""".stripMargin
      }),

    // Frequent clickstream TRIGRAMS: each user's ordered event-type
    // 3-grams (two per-user lead windows — no positional self-join),
    // counted and cut to the global top-20 — the path-pattern miner
    // between q236's linear paths and q296's memoryless transitions
    // (a trigram sees what a first-order chain cannot).
    QueryDef(
      "q315_path_trigrams",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        ev.select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("e1"))
          .withColumn("e2", lead(col("e1"), 1).over(w))
          .withColumn("e3", lead(col("e1"), 2).over(w))
          .where(col("e3").isNotNull)
          .groupBy(col("e1"), col("e2"), col("e3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("e1").asc, col("e2").asc, col("e3").asc)
          .limit(20)
      },
      Some("""WITH g AS (
           |  SELECT event_type AS e1,
           |    lead(event_type, 1) OVER w AS e2,
           |    lead(event_type, 2) OVER w AS e3
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
           |c AS (
           |  SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
           |  FROM g WHERE e3 IS NOT NULL GROUP BY 1, 2, 3)
           |SELECT e1, e2, e3, n FROM c
           |ORDER BY n DESC, e1 ASC, e2 ASC, e3 ASC LIMIT 20""".stripMargin)),

    // INTER-ARRIVAL time percentiles: seconds between a user's consecutive
    // events of the same type, exact nearest-rank p50/p90 per type — the
    // cadence profile behind rate-limit and bot-detection thresholds. Gap
    // extraction is a per-(user,type) window (co-located, scale-safe); the
    // per-type rank window is the q153 discipline (corpus/#types rows per
    // partition; the documented 100 TB drop-in is q260's stored-histogram
    // quantiles).
    QueryDef(
      "q316_interarrival_percentiles",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val wu = Window.partitionBy(col("event_type"), col("user_id"))
          .orderBy(col("us").asc, col("event_id").asc)
        val gaps = ev
          .select(col("event_type"), col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("nxt", lead(col("us"), 1).over(wu))
          .where(col("nxt").isNotNull)
          .select(col("event_type"), col("user_id"), col("event_id"),
            expr("(nxt - us) div 1000000").as("gap_s"))
        val wr = Window.partitionBy(col("event_type"))
          .orderBy(col("gap_s").asc, col("user_id").asc, col("event_id").asc)
        gaps.withColumn("rn", row_number().over(wr))
          .withColumn("nn", count(lit(1)).over(Window.partitionBy(col("event_type"))))
          .groupBy(col("event_type"))
          .agg(max(col("nn")).as("n_gaps"),
            min(when(col("rn") === ceil(col("nn") * 0.5), col("gap_s"))).as("p50_s"),
            min(when(col("rn") === ceil(col("nn") * 0.9), col("gap_s"))).as("p90_s"),
            (sum(col("gap_s").cast("decimal(38,0)")).cast("double") / count(lit(1)))
              .as("mean_s"))
      },
      Some("""WITH gaps AS (
           |  SELECT event_type, user_id, event_id,
           |    (lead(epoch_us(ts)) OVER (PARTITION BY event_type, user_id
           |       ORDER BY ts ASC, event_id ASC) - epoch_us(ts)) // 1000000
           |      AS gap_s
           |  FROM events),
           |g AS (SELECT * FROM gaps WHERE gap_s IS NOT NULL),
           |r AS (
           |  SELECT event_type, gap_s,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY gap_s ASC, user_id ASC, event_id ASC) AS rn,
           |    COUNT(*) OVER (PARTITION BY event_type) AS nn
           |  FROM g)
           |SELECT event_type, MAX(nn) AS n_gaps,
           |  MIN(CASE WHEN rn = CEIL(nn * 0.5) THEN gap_s END) AS p50_s,
           |  MIN(CASE WHEN rn = CEIL(nn * 0.9) THEN gap_s END) AS p90_s,
           |  CAST(SUM(CAST(gap_s AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)
           |    AS mean_s
           |FROM r GROUP BY 1""".stripMargin)),

    // PARETO frontier per brand (skyline query): parts no other same-brand
    // part dominates on (price ↓, size ↑). Dominance tests are two
    // per-brand analytic windows — a RANGE frame (max size at strictly
    // lower price) and a same-price partition max — never a self-join, so
    // the skyline costs one sort per brand regardless of part count.
    QueryDef(
      "q318_pareto_frontier",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
        val base = p.select(col("p_brand").as("brand"), col("p_partkey").as("pk"),
          (col("p_retailprice").cast("decimal(15,2)") * 100).cast("long").as("price"),
          col("p_size").cast("long").as("size"))
        val wLower = Window.partitionBy(col("brand")).orderBy(col("price").asc)
          .rangeBetween(Window.unboundedPreceding, -1)
        val wSame = Window.partitionBy(col("brand"), col("price"))
        base
          .withColumn("m_lower", max(col("size")).over(wLower))
          .withColumn("m_same", max(col("size")).over(wSame))
          .where(coalesce(col("m_lower"), lit(Long.MinValue)) < col("size") &&
            col("m_same") <= col("size"))
          .select(col("brand"), col("pk"), col("price"), col("size"))
      },
      Some("""WITH base AS (
           |  SELECT p_brand AS brand, p_partkey AS pk,
           |    CAST(CAST(p_retailprice AS DECIMAL(15,2)) * 100 AS BIGINT)
           |      AS price,
           |    CAST(p_size AS BIGINT) AS size
           |  FROM part),
           |w AS (
           |  SELECT brand, pk, price, size,
           |    MAX(size) OVER (PARTITION BY brand ORDER BY price
           |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lower,
           |    MAX(size) OVER (PARTITION BY brand, price) AS m_same
           |  FROM base)
           |SELECT brand, pk, price, size FROM w
           |WHERE COALESCE(m_lower, -9223372036854775808) < size
           |  AND m_same <= size""".stripMargin)),

    // Median-absolute-deviation robust z (Iglewicz–Hoaglin): per-brand
    // exact nearest-rank median, MAD from a second rank pass over
    // |x − med|, outliers at |0.6745·(x−med)/MAD| > 3.5 — the outlier
    // flag a single corrupted price cannot move (unlike q237's σ-based
    // checks). All windows brand-partitioned; cents stay integer until
    // the one z division.
    QueryDef(
      "q319_mad_robust_z",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
        val base = p.select(col("p_brand").as("brand"), col("p_partkey").as("pk"),
          (col("p_retailprice").cast("decimal(15,2)") * 100).cast("long").as("x"))
        val w1 = Window.partitionBy(col("brand"))
          .orderBy(col("x").asc, col("pk").asc)
        val med = base
          .withColumn("rn", row_number().over(w1))
          .withColumn("nn", count(lit(1)).over(Window.partitionBy(col("brand"))))
          .groupBy(col("brand"))
          .agg(max(col("nn")).as("n"),
            min(when(col("rn") === ceil(col("nn") * 0.5), col("x"))).as("med"))
        val dev = base.join(broadcast(med), "brand")
          .withColumn("d", abs(col("x") - col("med")))
        val w2 = Window.partitionBy(col("brand"))
          .orderBy(col("d").asc, col("pk").asc)
        val mad = dev
          .withColumn("rn", row_number().over(w2))
          .groupBy(col("brand"))
          .agg(min(when(col("rn") === ceil(col("n") * 0.5), col("d"))).as("mad"))
        dev.join(broadcast(mad), "brand")
          .groupBy(col("brand"))
          .agg(max(col("n")).as("n"), max(col("med")).as("med"),
            max(col("mad")).as("mad"),
            sum(when(col("mad") > 0 &&
              abs(lit(0.6745) * (col("x") - col("med")).cast("double") / col("mad"))
                > 3.5, 1L).otherwise(0L)).as("n_outliers"))
      },
      Some("""WITH base AS (
           |  SELECT p_brand AS brand, p_partkey AS pk,
           |    CAST(CAST(p_retailprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS x
           |  FROM part),
           |r1 AS (
           |  SELECT brand, pk, x,
           |    row_number() OVER (PARTITION BY brand ORDER BY x ASC, pk ASC)
           |      AS rn,
           |    COUNT(*) OVER (PARTITION BY brand) AS nn
           |  FROM base),
           |med AS (
           |  SELECT brand, MAX(nn) AS n,
           |    MIN(CASE WHEN rn = CEIL(nn * 0.5) THEN x END) AS med
           |  FROM r1 GROUP BY 1),
           |dev AS (
           |  SELECT b.brand, b.pk, b.x, m.n, m.med, ABS(b.x - m.med) AS d
           |  FROM base b JOIN med m ON m.brand = b.brand),
           |r2 AS (
           |  SELECT brand, d, n,
           |    row_number() OVER (PARTITION BY brand ORDER BY d ASC, pk ASC)
           |      AS rn
           |  FROM dev),
           |mad AS (
           |  SELECT brand, MIN(CASE WHEN rn = CEIL(n * 0.5) THEN d END) AS mad
           |  FROM r2 GROUP BY 1)
           |SELECT dev.brand, MAX(dev.n) AS n, MAX(dev.med) AS med,
           |  MAX(mad.mad) AS mad,
           |  CAST(SUM(CASE WHEN mad.mad > 0 AND
           |    ABS(0.6745 * CAST(dev.x - dev.med AS DOUBLE) / mad.mad) > 3.5
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           |FROM dev JOIN mad ON mad.brand = dev.brand
           |GROUP BY 1""".stripMargin)),

    // NEYMAN optimal stratified allocation: sample budget 1000 split
    // n_h ∝ N_h·S_h (stratum size × stratum std dev) — minimum-variance
    // stratified sampling, with the largest-remainder rounding making
    // Σ n_h == budget EXACTLY (the q290 integer-distribution discipline:
    // floor shares, then +1 to the largest fractional remainders, ties by
    // stratum key). Variances come from one exact decimal moment
    // aggregation; everything after runs on the #strata-row frame.
    QueryDef(
      "q320_neyman_allocation",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val budget = 1000L
        val m = li.groupBy(col("l_returnflag").as("stratum"))
          .agg(count(lit(1)).as("nh"),
            sum((col("l_extendedprice").cast("decimal(15,2)") * 100).cast("long")
              .cast("decimal(38,0)")).as("s1"),
            sum(((col("l_extendedprice").cast("decimal(15,2)") * 100).cast("long")
              * (col("l_extendedprice").cast("decimal(15,2)") * 100).cast("long"))
              .cast("decimal(38,0)")).as("s2"))
          .select(col("stratum"), col("nh"),
            sqrt((col("s2").cast("double") -
              col("s1").cast("double") * col("s1").cast("double") / col("nh"))
              / col("nh")).as("sd"))
        val z = m.agg(Num.dsum38(col("nh") * col("sd")).as("z"))
        val shares = m.crossJoin(broadcast(z))
          .withColumn("share", col("nh") * col("sd") / col("z") * budget)
          .withColumn("fl", floor(col("share")))
          .withColumn("frac", col("share") - col("fl"))
        val rem = shares.agg((lit(budget) - sum(col("fl"))).as("rem"))
        val wf = Window.orderBy(col("frac").desc, col("stratum").asc)
        shares.crossJoin(broadcast(rem))
          .withColumn("rk", row_number().over(wf))
          .select(col("stratum"), col("nh"), col("sd"),
            (col("fl") + when(col("rk") <= col("rem"), 1L).otherwise(0L))
              .as("alloc"))
      },
      Some("""WITH m AS (
           |  SELECT l_returnflag AS stratum, COUNT(*) AS nh,
           |    CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100
           |      AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS s1,
           |    CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100
           |      AS BIGINT) * CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100
           |      AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS s2
           |  FROM lineitem GROUP BY 1),
           |sdv AS (
           |  SELECT stratum, nh, sqrt((s2 - s1 * s1 / nh) / nh) AS sd FROM m),
           |z AS (
           |  SELECT CAST(SUM(CAST(nh * sd AS DECIMAL(38,18))) AS DOUBLE) AS z
           |  FROM sdv),
           |shares AS (
           |  SELECT stratum, nh, sd, nh * sd / z * 1000 AS share,
           |    FLOOR(nh * sd / z * 1000) AS fl,
           |    nh * sd / z * 1000 - FLOOR(nh * sd / z * 1000) AS frac
           |  FROM sdv CROSS JOIN z),
           |rem AS (SELECT 1000 - CAST(SUM(fl) AS BIGINT) AS rem FROM shares),
           |rk AS (
           |  SELECT stratum, nh, sd, fl,
           |    row_number() OVER (ORDER BY frac DESC, stratum ASC) AS rk
           |  FROM shares)
           |SELECT stratum, nh, sd,
           |  CAST(fl + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT) AS alloc
           |FROM rk CROSS JOIN rem""".stripMargin)),

    // ITEM-ITEM collaborative filtering: cosine similarity over order
    // co-occurrence (sim = c_ij/√(c_i·c_j)), top-3 recommendations per
    // part — the q241 basket machinery pointed at recommendation instead
    // of association. Pair emission stays LOCAL and basket-size²-bounded;
    // the symmetric direction is a projection of the same pair frame, not
    // a second scan; item counts broadcast.
    QueryDef(
      "q321_item_item_cf",
      (s, dir) => {
        val baskets = Tables.load(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
          .localCheckpoint()
        val pairCnt = baskets.where(size(col("items")) >= 2)
          .select(posexplode(col("items")).as(Seq("i", "pa")), col("items"))
          .select(col("pa"),
            explode(slice(col("items"), col("i") + lit(2),
              size(col("items")))).as("pb"))
          .groupBy(col("pa"), col("pb"))
          .agg(count(lit(1)).as("n_co"))
          .where(col("n_co") >= 2)
        val sym = pairCnt.unionByName(pairCnt.select(col("pb").as("pa"),
          col("pa").as("pb"), col("n_co")))
        val itemCnt = baskets
          .select(explode(col("items")).as("pk"))
          .groupBy(col("pk")).agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("pa"))
          .orderBy(col("cosine").desc, col("pb").asc)
        sym
          .join(broadcast(itemCnt.select(col("pk").as("pa"), col("c").as("ca"))),
            Seq("pa"))
          .join(broadcast(itemCnt.select(col("pk").as("pb"), col("c").as("cb"))),
            Seq("pb"))
          .withColumn("cosine", col("n_co").cast("double") /
            sqrt(col("ca").cast("double") * col("cb")))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("pa"), col("pb"), col("n_co"), col("cosine"), col("rank"))
      },
      Some("""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |pairs AS (
           |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
           |  FROM op a JOIN op b
           |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           |cnt AS (
           |  SELECT pa, pb, CAST(COUNT(*) AS BIGINT) AS n_co
           |  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |ic AS (SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM op GROUP BY 1),
           |sc AS (
           |  SELECT pa, pb, n_co,
           |    CAST(n_co AS DOUBLE)
           |      / sqrt(CAST(ca.c AS DOUBLE) * cb.c) AS cosine
           |  FROM cnt JOIN ic ca ON ca.pk = pa JOIN ic cb ON cb.pk = pb),
           |rk AS (
           |  SELECT pa, pb, n_co, cosine,
           |    row_number() OVER (PARTITION BY pa
           |      ORDER BY cosine DESC, pb ASC) AS rank
           |  FROM sc)
           |SELECT pa, pb, n_co, cosine, rank FROM rk WHERE rank <= 3"""
        .stripMargin)),

    // SEASONAL-NAIVE forecast backtest: predict each day's count with the
    // count 7 days earlier, score MAE/MAPE/SMAPE per event type — the
    // baseline every forecasting effort must beat, and the honest way to
    // quantify weekly structure (cf. q314's lag-7 ACF). One per-key lag
    // window over the calendar-bounded day frame; error folds are
    // decimal-exact.
    QueryDef(
      "q322_seasonal_naive_backtest",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cells = ev.groupBy(col("event_type").as("key"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("n"))
        val wk = Window.partitionBy(col("key")).orderBy(col("day").asc)
        cells.withColumn("pred", lag(col("n"), 7).over(wk))
          .where(col("pred").isNotNull)
          .groupBy(col("key"))
          .agg(count(lit(1)).as("n_days_eval"),
            (Num.dsum38(abs(col("n") - col("pred")).cast("double"))
              / count(lit(1))).as("mae"),
            (Num.dsum38(abs(col("n") - col("pred")).cast("double") / col("n"))
              / count(lit(1))).as("mape"),
            (Num.dsum38(lit(2.0) * abs(col("n") - col("pred")).cast("double")
              / (col("n") + col("pred"))) / count(lit(1))).as("smape"))
      },
      Some("""WITH cells AS (
           |  SELECT event_type AS key, epoch_us(ts) // 86400000000 AS day,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM events GROUP BY 1, 2),
           |l AS (
           |  SELECT key, day, n,
           |    lag(n, 7) OVER (PARTITION BY key ORDER BY day ASC) AS pred
           |  FROM cells)
           |SELECT key, CAST(COUNT(*) AS BIGINT) AS n_days_eval,
           |  CAST(SUM(CAST(CAST(ABS(n - pred) AS DOUBLE) AS DECIMAL(38,18)))
           |    AS DOUBLE) / COUNT(*) AS mae,
           |  CAST(SUM(CAST(CAST(ABS(n - pred) AS DOUBLE) / n AS DECIMAL(38,18)))
           |    AS DOUBLE) / COUNT(*) AS mape,
           |  CAST(SUM(CAST(2.0 * CAST(ABS(n - pred) AS DOUBLE) / (n + pred)
           |    AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS smape
           |FROM l WHERE pred IS NOT NULL GROUP BY 1""".stripMargin)),

    // Differentially-private histogram RELEASE (ε = 0.1): per-type counts
    // + Laplace(b=10) noise via the inverse CDF over a hash-derived
    // uniform — the governance release path beside q274's k-anonymity
    // audit. The hash seed makes the release DETERMINISTIC (testable
    // cross-engine); a production release swaps the seeded uniform for a
    // real RNG — the sensitivity/ε accounting and the release shape are
    // what this operator pins. p is bounded away from {0,1} by
    // construction, so ln never sees 0 in either engine.
    QueryDef(
      "q323_dp_histogram",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val u = (pmod(graft.ops.Hashing.hash60(
          concat(lit("dp-"), col("event_type"))), lit(999999L)).cast("double")
          + 0.5) / 1000000.0
        ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("true_n"))
          .withColumn("p", u)
          .withColumn("noise",
            lit(-10.0) * signum(col("p") - 0.5) *
              log(lit(1.0) - lit(2.0) * abs(col("p") - 0.5)))
          .select(col("event_type"), col("true_n"),
            (col("true_n") + col("noise")).as("released"),
            lit(0.1).as("epsilon"))
      },
      Some(s"""WITH c AS (
           |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_n
           |  FROM events GROUP BY 1),
           |p AS (
           |  SELECT event_type, true_n,
           |    (CAST(${graft.ops.Hashing.duckHash60("('dp-' || event_type)")}
           |      % 999999 AS DOUBLE) + 0.5) / 1000000.0 AS p
           |  FROM c)
           |SELECT event_type, true_n,
           |  true_n + (-10.0 * SIGN(p - 0.5) * ln(1.0 - 2.0 * ABS(p - 0.5)))
           |    AS released,
           |  CAST(0.1 AS DOUBLE) AS epsilon
           |FROM p""".stripMargin)),

    // Rank-2 ALS matrix factorization, ONE alternating round, closed form:
    // item factors init deterministically from the cross-engine hash, the
    // user half-step solves every user's 2×2 ridge normal equations by
    // Cramer (one keyed aggregation — no solver library, no gradient
    // loop), the item half-step re-solves items against those users, and
    // the fit reports training RMSE. Every sufficient statistic folds in
    // decimal; factors and RMSE are deterministic at any partitioning.
    // The recommender-TRAINING complement of q321's neighborhood CF.
    QueryDef(
      "q324_als_rank2",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val li = Tables.load(s, dir, "lineitem")
        val ratings = o.join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
          .agg(sum(col("l_quantity").cast("long")).as("r"))
          .localCheckpoint()
        val g0 = ratings.select(col("i")).distinct()
          .withColumn("g1", lit(1.0))
          .withColumn("g2",
            pmod(graft.ops.Hashing.hash60(concat(lit("als-"), col("i"))),
              lit(1000L)).cast("double") / 1000.0 - 0.5)
        val users = graft.ops.Select.rank2Solve(ratings.join(g0, "i"),
            col("u"), col("g1"), col("g2"), col("r"), 0.1)
          .select(col("ent").as("u"), col("f1").as("u1"), col("f2").as("u2"))
          .localCheckpoint()
        val items = graft.ops.Select.rank2Solve(ratings.join(users, "u"),
            col("i"), col("u1"), col("u2"), col("r"), 0.1)
          .select(col("ent").as("i"), col("f1").as("g1n"), col("f2").as("g2n"))
          .localCheckpoint()
        ratings.join(users, "u").join(items, "i")
          .select(col("u"), col("i"),
            (col("r").cast("double")
              - (col("u1") * col("g1n") + col("u2") * col("g2n"))).as("e"))
          .agg(count(lit(1)).as("n_ratings"),
            countDistinct(col("u")).as("n_users"),
            countDistinct(col("i")).as("n_items"),
            sqrt(Num.dsum38(col("e") * col("e")) / count(lit(1))).as("rmse"))
      },
      Some(s"""WITH ratings AS (
           |  SELECT o_custkey AS u, l_partkey AS i,
           |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |  GROUP BY 1, 2),
           |g0 AS (
           |  SELECT DISTINCT i, CAST(1.0 AS DOUBLE) AS g1,
           |    CAST(${graft.ops.Hashing.duckHash60("('als-' || CAST(i AS VARCHAR))")}
           |      % 1000 AS DOUBLE) / 1000.0 - 0.5 AS g2
           |  FROM ratings),
           |uj AS (
           |  SELECT r.u, CAST(r.r AS DOUBLE) AS r, g.g1, g.g2
           |  FROM ratings r JOIN g0 g USING (i)),
           |us AS (
           |  SELECT u,
           |    ${Num.duckDsum38("g1 * g1")} AS s11,
           |    ${Num.duckDsum38("g1 * g2")} AS s12,
           |    ${Num.duckDsum38("g2 * g2")} AS s22,
           |    ${Num.duckDsum38("r * g1")} AS b1,
           |    ${Num.duckDsum38("r * g2")} AS b2
           |  FROM uj GROUP BY 1),
           |uf AS (
           |  SELECT u,
           |    ((s22 + 0.1) * b1 - s12 * b2)
           |      / ((s11 + 0.1) * (s22 + 0.1) - s12 * s12) AS u1,
           |    ((s11 + 0.1) * b2 - s12 * b1)
           |      / ((s11 + 0.1) * (s22 + 0.1) - s12 * s12) AS u2
           |  FROM us),
           |ij AS (
           |  SELECT r.i, CAST(r.r AS DOUBLE) AS r, f.u1 AS g1, f.u2 AS g2
           |  FROM ratings r JOIN uf f USING (u)),
           |it AS (
           |  SELECT i,
           |    ${Num.duckDsum38("g1 * g1")} AS s11,
           |    ${Num.duckDsum38("g1 * g2")} AS s12,
           |    ${Num.duckDsum38("g2 * g2")} AS s22,
           |    ${Num.duckDsum38("r * g1")} AS b1,
           |    ${Num.duckDsum38("r * g2")} AS b2
           |  FROM ij GROUP BY 1),
           |if2 AS (
           |  SELECT i,
           |    ((s22 + 0.1) * b1 - s12 * b2)
           |      / ((s11 + 0.1) * (s22 + 0.1) - s12 * s12) AS g1n,
           |    ((s11 + 0.1) * b2 - s12 * b1)
           |      / ((s11 + 0.1) * (s22 + 0.1) - s12 * s12) AS g2n
           |  FROM it),
           |e AS (
           |  SELECT r.u, r.i,
           |    CAST(r.r AS DOUBLE) - (f.u1 * g.g1n + f.u2 * g.g2n) AS e
           |  FROM ratings r JOIN uf f USING (u) JOIN if2 g USING (i))
           |SELECT CAST(COUNT(*) AS BIGINT) AS n_ratings,
           |  CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
           |  CAST(COUNT(DISTINCT i) AS BIGINT) AS n_items,
           |  sqrt(${Num.duckDsum38("e * e")} / COUNT(*)) AS rmse
           |FROM e""".stripMargin)),

    // ALS RECOMMENDATION serve: per-user top-3 unseen items from the q324
    // factors, scored only against the top-50-popular candidate HEAD —
    // the standard industry cut that turns an intractable user×catalog
    // cross into users × 50 with the candidate set BROADCAST (at rank 2
    // the exact argmax also lives on the item-factor convex hull, but the
    // popularity head is what production serving actually does). Bought
    // pairs anti-join out; ties break by item id.
    QueryDef(
      "q325_als_recommend",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val li = Tables.load(s, dir, "lineitem")
        val ratings = o.join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
          .agg(sum(col("l_quantity").cast("long")).as("r"))
          .localCheckpoint()
        val g0 = ratings.select(col("i")).distinct()
          .withColumn("g1", lit(1.0))
          .withColumn("g2",
            pmod(graft.ops.Hashing.hash60(concat(lit("als-"), col("i"))),
              lit(1000L)).cast("double") / 1000.0 - 0.5)
        val users = graft.ops.Select.rank2Solve(ratings.join(g0, "i"),
            col("u"), col("g1"), col("g2"), col("r"), 0.1)
          .select(col("ent").as("u"), col("f1").as("u1"), col("f2").as("u2"))
          .localCheckpoint()
        val items = graft.ops.Select.rank2Solve(ratings.join(users, "u"),
            col("i"), col("u1"), col("u2"), col("r"), 0.1)
          .select(col("ent").as("i"), col("f1").as("g1n"), col("f2").as("g2n"))
          .localCheckpoint()
        val head = ratings.groupBy(col("i")).agg(count(lit(1)).as("pop"))
          .orderBy(col("pop").desc, col("i").asc).limit(50)
          .join(items, "i")
          .select(col("i"), col("g1n"), col("g2n"))
        val w = Window.partitionBy(col("u"))
          .orderBy(col("score").desc, col("i").asc)
        users.crossJoin(broadcast(head))
          .join(ratings.select(col("u"), col("i")), Seq("u", "i"), "left_anti")
          .withColumn("score",
            col("u1") * col("g1n") + col("u2") * col("g2n"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("u"), col("i"), col("score"), col("rank"))
      },
      Some(s"""WITH ratings AS (
           |  SELECT o_custkey AS u, l_partkey AS i,
           |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |  GROUP BY 1, 2),
           |g0 AS (
           |  SELECT DISTINCT i, CAST(1.0 AS DOUBLE) AS g1,
           |    CAST(${graft.ops.Hashing.duckHash60("('als-' || CAST(i AS VARCHAR))")}
           |      % 1000 AS DOUBLE) / 1000.0 - 0.5 AS g2
           |  FROM ratings),
           |uj AS (
           |  SELECT r.u, CAST(r.r AS DOUBLE) AS r, g.g1, g.g2
           |  FROM ratings r JOIN g0 g USING (i)),
           |us AS (
           |  SELECT u,
           |    ${Num.duckDsum38("g1 * g1")} AS s11,
           |    ${Num.duckDsum38("g1 * g2")} AS s12,
           |    ${Num.duckDsum38("g2 * g2")} AS s22,
           |    ${Num.duckDsum38("r * g1")} AS b1,
           |    ${Num.duckDsum38("r * g2")} AS b2
           |  FROM uj GROUP BY 1),
           |uf AS (
           |  SELECT u,
           |    ((s22 + 0.1) * b1 - s12 * b2)
           |      / ((s11 + 0.1) * (s22 + 0.1) - s12 * s12) AS u1,
           |    ((s11 + 0.1) * b2 - s12 * b1)
           |      / ((s11 + 0.1) * (s22 + 0.1) - s12 * s12) AS u2
           |  FROM us),
           |ij AS (
           |  SELECT r.i, CAST(r.r AS DOUBLE) AS r, f.u1 AS g1, f.u2 AS g2
           |  FROM ratings r JOIN uf f USING (u)),
           |it AS (
           |  SELECT i,
           |    ${Num.duckDsum38("g1 * g1")} AS s11,
           |    ${Num.duckDsum38("g1 * g2")} AS s12,
           |    ${Num.duckDsum38("g2 * g2")} AS s22,
           |    ${Num.duckDsum38("r * g1")} AS b1,
           |    ${Num.duckDsum38("r * g2")} AS b2
           |  FROM ij GROUP BY 1),
           |if2 AS (
           |  SELECT i,
           |    ((s22 + 0.1) * b1 - s12 * b2)
           |      / ((s11 + 0.1) * (s22 + 0.1) - s12 * s12) AS g1n,
           |    ((s11 + 0.1) * b2 - s12 * b1)
           |      / ((s11 + 0.1) * (s22 + 0.1) - s12 * s12) AS g2n
           |  FROM it),
           |head AS (
           |  SELECT p.i, if2.g1n, if2.g2n FROM (
           |    SELECT i FROM (
           |      SELECT i, COUNT(*) AS pop FROM ratings GROUP BY 1) pp
           |    ORDER BY pop DESC, i ASC LIMIT 50) p
           |  JOIN if2 ON if2.i = p.i),
           |sc AS (
           |  SELECT f.u, h.i, f.u1 * h.g1n + f.u2 * h.g2n AS score
           |  FROM uf f CROSS JOIN head h
           |  WHERE NOT EXISTS (SELECT 1 FROM ratings r
           |    WHERE r.u = f.u AND r.i = h.i)),
           |rk AS (
           |  SELECT u, i, score,
           |    row_number() OVER (PARTITION BY u
           |      ORDER BY score DESC, i ASC) AS rank
           |  FROM sc)
           |SELECT u, i, score, rank FROM rk WHERE rank <= 3""".stripMargin)),

    // TIME-TO-CONVERT: first signup → first subsequent purchase per user,
    // conversion rate + exact nearest-rank p50/p90 of the delay — the
    // activation metric product teams steer by. Per-user reductions first;
    // the converting-user delay ranks through the two-phase globalRank
    // machinery (never a global window over users).
    QueryDef(
      "q326_time_to_convert",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val su = ev.where(col("event_type") === "signup")
          .groupBy(col("user_id"))
          .agg(min(expr("unix_micros(ts)")).as("su"))
        val pu = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), expr("unix_micros(ts)").as("pt"))
          .join(su, "user_id")
          .where(col("pt") >= col("su"))
          .groupBy(col("user_id"))
          .agg(min(col("pt")).as("pu"), min(col("su")).as("su2"))
        val delays = pu
          .select(col("user_id"), expr("(pu - su2) div 1000000").as("delta_s"))
          .localCheckpoint()
        val ranked = graft.ops.Sampling.globalRank(delays, col("delta_s"),
          col("user_id"))
        val nConv = delays.agg(count(lit(1)).as("nc"))
        val nSign = su.agg(count(lit(1)).as("ns"))
        ranked.crossJoin(broadcast(nConv))
          .agg(
            min(when(col("rank") === ceil(col("nc") * 0.5), col("v"))).as("p50_s"),
            min(when(col("rank") === ceil(col("nc") * 0.9), col("v"))).as("p90_s"),
            max(col("nc")).as("n_converted"))
          .crossJoin(broadcast(nSign))
          .select(col("ns").as("n_signup_users"), col("n_converted"),
            (col("n_converted").cast("double") / col("ns")).as("conv_rate"),
            col("p50_s"), col("p90_s"))
      },
      Some("""WITH su AS (
           |  SELECT user_id, MIN(epoch_us(ts)) AS su FROM events
           |  WHERE event_type = 'signup' GROUP BY 1),
           |pu AS (
           |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS pu, MIN(su.su) AS su2
           |  FROM events e JOIN su ON su.user_id = e.user_id
           |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.su
           |  GROUP BY 1),
           |delays AS (
           |  SELECT user_id, (pu - su2) // 1000000 AS delta_s FROM pu),
           |r AS (
           |  SELECT delta_s,
           |    row_number() OVER (ORDER BY delta_s ASC, user_id ASC) AS rn,
           |    COUNT(*) OVER () AS nc
           |  FROM delays),
           |f AS (
           |  SELECT MIN(CASE WHEN rn = CEIL(nc * 0.5) THEN delta_s END) AS p50_s,
           |    MIN(CASE WHEN rn = CEIL(nc * 0.9) THEN delta_s END) AS p90_s,
           |    MAX(nc) AS n_converted
           |  FROM r),
           |ns AS (SELECT COUNT(*) AS ns FROM su)
           |SELECT ns AS n_signup_users, CAST(n_converted AS BIGINT) AS n_converted,
           |  CAST(n_converted AS DOUBLE) / ns AS conv_rate, p50_s, p90_s
           |FROM f CROSS JOIN ns""".stripMargin)),

    // Rolling 7-day ACTIVE USERS (WAU) per day + same-day DAU: each
    // distinct (day, user) activity row projects onto the 7 report days it
    // supports (one bounded explode — no range self-join), then one
    // count-distinct per report day. The DAU/WAU pair is the stickiness
    // read; report days past the observation window are cut by the
    // broadcast max-day.
    QueryDef(
      "q327_rolling_wau",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val du = ev.select(expr("unix_micros(ts) div 86400000000").as("day"),
          col("user_id")).distinct().localCheckpoint()
        val mx = du.agg(max(col("day")).as("mxd"))
        val wau = du
          .withColumn("report_day",
            explode(sequence(col("day"), col("day") + 6)))
          .crossJoin(broadcast(mx))
          .where(col("report_day") <= col("mxd"))
          .groupBy(col("report_day"))
          .agg(countDistinct(col("user_id")).as("wau"))
        val dau = du.groupBy(col("day").as("report_day"))
          .agg(countDistinct(col("user_id")).as("dau"))
        wau.join(dau, Seq("report_day"), "left_outer")
          .select(col("report_day"), coalesce(col("dau"), lit(0L)).as("dau"),
            col("wau"),
            (coalesce(col("dau"), lit(0L)).cast("double") / col("wau"))
              .as("stickiness"))
      },
      Some("""WITH du AS (
           |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
           |  FROM events),
           |mx AS (SELECT MAX(day) AS mxd FROM du),
           |w AS (
           |  SELECT day + o AS report_day, user_id
           |  FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS o)),
           |wau AS (
           |  SELECT report_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
           |  FROM w CROSS JOIN mx WHERE report_day <= mxd GROUP BY 1),
           |dau AS (
           |  SELECT day AS report_day,
           |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
           |  FROM du GROUP BY 1)
           |SELECT w.report_day, COALESCE(d.dau, 0) AS dau, w.wau,
           |  CAST(COALESCE(d.dau, 0) AS DOUBLE) / w.wau AS stickiness
           |FROM wau w LEFT JOIN dau d ON d.report_day = w.report_day"""
        .stripMargin)),

    // CSV + JSON sink/source ROUND-TRIP proof: the same aggregate written
    // as headered CSV and as JSON lines, read back through explicit
    // schemas, and unioned — grouping on EVERY column must find exactly 2
    // sources per row (a single lossy format — precision, quoting, type
    // coercion — splits its rows and breaks the count against the
    // direct-SQL oracle). The source/sink breadth check beyond parquet.
    QueryDef(
      "q328_csv_json_roundtrip",
      (s, dir) => {
        val agg = Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("rf"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("qty"))
        val tmp = graft.Scratch.dir("graft-rt")
        agg.write.mode("overwrite").option("header", "true").csv(tmp + "/csv")
        agg.write.mode("overwrite").json(tmp + "/json")
        val schema = "rf STRING, n BIGINT, qty BIGINT"
        val csv = s.read.option("header", "true").schema(schema).csv(tmp + "/csv")
        val js = s.read.schema(schema).json(tmp + "/json")
        csv.unionByName(js)
          .groupBy(col("rf"), col("n"), col("qty"))
          .agg(count(lit(1)).as("n_sources"))
      },
      Some("""SELECT l_returnflag AS rf, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           |  CAST(2 AS BIGINT) AS n_sources
           |FROM lineitem GROUP BY 1""".stripMargin)),

    // LINEAR multi-touch attribution: every session event preceding a
    // purchase shares the credit equally (1/k each; a purchase opening its
    // session credits 'direct') — the fairness counterpoint to q243's
    // last-touch, over the SAME 6-hour gap sessionization. The
    // purchase×predecessor join is SESSION-bounded (the q285 bounded-pair
    // discipline); fractional credits fold in decimal so the per-type
    // totals are partition-order independent.
    // EXACT SHAPLEY-VALUE attribution — the game-theoretic completion of
    // the attribution family (linear q330, U-shaped q333, direct): each
    // channel's credit is its average marginal contribution over ALL
    // orderings, computed EXACTLY over the 4-channel power set (16
    // coalitions — bounded by the channel alphabet, never the data). Per
    // converting session, the coalition is the bit_or of channels touched
    // before the FIRST purchase; v(S) = conversions whose coalition ⊆ S
    // (a 16×16 subset-sum join); φ_c = Σ_{S∌c} |S|!·(3−|S|)!·[v(S∪c)−v(S)]
    // / 4! with the factorial weights kept as INTEGERS {6,2,2,6} so the
    // whole computation is exact until the single division by 24. Efficiency
    // axiom Σφ = v(full) holds by construction and is emitted as a column.
    // One sessionization pass; everything after runs on ≤16-row frames.
    QueryDef(
      "q370_shapley_attribution",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val wUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sess = ev.select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("ns",
            when(lag(col("ts"), 1).over(wUser).isNull ||
              unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wUser))
                > 21600000000L, 1L).otherwise(0L))
          .withColumn("sess", sum(col("ns")).over(wUser))
          .localCheckpoint()
        // first purchase per session (total order: ts, then event_id)
        val fp = sess.where(col("event_type") === "purchase")
          .select(col("user_id"), col("sess"),
            unix_micros(col("ts")).as("ets"), col("event_id").as("eid"))
          .groupBy(col("user_id"), col("sess"))
          .agg(min(struct(col("ets"), col("eid"))).as("f"))
          .select(col("user_id"), col("sess"),
            col("f.ets").as("pts"), col("f.eid").as("pid"))
        val bit = when(col("event_type") === "click", 1)
          .when(col("event_type") === "error", 2)
          .when(col("event_type") === "signup", 4)
          .when(col("event_type") === "view", 8)
        val masks = sess
          .join(fp, Seq("user_id", "sess"))
          .where(col("event_type") =!= "purchase" &&
            (unix_micros(col("ts")) < col("pts") ||
              (unix_micros(col("ts")) === col("pts") &&
                col("event_id") < col("pid"))))
          .groupBy(col("user_id"), col("sess"))
          .agg(bit_or(bit).as("mask"))
        val cnt = masks.groupBy(col("mask"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val totals = fp.agg(count(lit(1)).as("n_conversions"))
          .crossJoin(broadcast(cnt.agg(sum(col("cnt")).as("n_attributed"))))
        val subsets = s.range(16).select(col("id").cast("int").as("coal"))
        val v = subsets.join(broadcast(cnt),
            col("mask").bitwiseAND(col("coal")) === col("mask"), "left_outer")
          .groupBy(col("coal"))
          .agg(coalesce(sum(col("cnt")), lit(0L)).as("v"))
          .localCheckpoint()
        val channels = s.createDataFrame(Seq(
          (1, "click"), (2, "error"), (4, "signup"), (8, "view")))
          .toDF("cbit", "channel")
        val wInt = when(bit_count(col("coal")) === 0, 6L)
          .when(bit_count(col("coal")) === 1, 2L)
          .when(bit_count(col("coal")) === 2, 2L)
          .otherwise(6L)
        broadcast(channels)
          .join(v.select(col("coal"), col("v").as("v_s")),
            col("coal").bitwiseAND(col("cbit")) === 0)
          .join(broadcast(v.select(col("coal").as("coal2"), col("v").as("v_sc"))),
            col("coal2") === col("coal").bitwiseOR(col("cbit")))
          .groupBy(col("channel"))
          .agg(sum(wInt * (col("v_sc") - col("v_s"))).as("num24"))
          .select(col("channel"),
            (col("num24").cast("double") / lit(24.0)).as("shapley"),
            col("num24"))
          .crossJoin(broadcast(totals))
      },
      Some("""WITH f AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
           |         THEN 1 ELSE 0 END AS ns
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sess AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS sess
           |  FROM f),
           |fpe AS (
           |  SELECT user_id, sess, pts, pid FROM (
           |    SELECT user_id, sess, epoch_us(ts) AS pts, event_id AS pid,
           |      row_number() OVER (PARTITION BY user_id, sess
           |        ORDER BY ts, event_id) AS rn
           |    FROM sess WHERE event_type = 'purchase')
           |  WHERE rn = 1),
           |masks AS (
           |  SELECT s.user_id, s.sess,
           |    BIT_OR(CASE s.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
           |      WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END) AS mask
           |  FROM sess s JOIN fpe ON fpe.user_id = s.user_id
           |    AND fpe.sess = s.sess
           |  WHERE s.event_type <> 'purchase'
           |    AND (epoch_us(s.ts) < fpe.pts
           |      OR (epoch_us(s.ts) = fpe.pts AND s.event_id < fpe.pid))
           |  GROUP BY 1, 2),
           |cnt AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM masks GROUP BY 1),
           |totals AS (
           |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fpe) AS n_conversions,
           |    (SELECT CAST(SUM(cnt) AS BIGINT) FROM cnt) AS n_attributed),
           |v AS (
           |  SELECT t.coal, CAST(COALESCE(SUM(cnt.cnt), 0) AS BIGINT) AS v
           |  FROM (SELECT unnest(range(0, 16)) AS coal) t
           |  LEFT OUTER JOIN cnt ON (cnt.mask & t.coal) = cnt.mask
           |  GROUP BY 1),
           |ch AS (SELECT * FROM (VALUES (1, 'click'), (2, 'error'),
           |  (4, 'signup'), (8, 'view')) AS t(cbit, channel)),
           |marg AS (
           |  SELECT ch.channel,
           |    CASE bit_count(vs.coal) WHEN 0 THEN 6 WHEN 1 THEN 2
           |      WHEN 2 THEN 2 ELSE 6 END * (vsc.v - vs.v) AS contrib
           |  FROM ch
           |  JOIN v vs ON (vs.coal & ch.cbit) = 0
           |  JOIN v vsc ON vsc.coal = (vs.coal | ch.cbit))
           |SELECT channel,
           |  CAST(SUM(contrib) AS DOUBLE) / 24.0 AS shapley,
           |  CAST(SUM(contrib) AS BIGINT) AS num24,
           |  totals.n_conversions, totals.n_attributed
           |FROM marg CROSS JOIN totals
           |GROUP BY 1, totals.n_conversions, totals.n_attributed""".stripMargin)),

    QueryDef(
      "q330_linear_attribution",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val wUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sess = ev.select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("ns",
            when(lag(col("ts"), 1).over(wUser).isNull ||
              unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wUser))
                > 21600000000L, 1L).otherwise(0L))
          .withColumn("sess", sum(col("ns")).over(wUser))
          .localCheckpoint()
        val p = sess.where(col("event_type") === "purchase")
          .select(col("user_id"), col("sess"),
            unix_micros(col("ts")).as("pts"), col("event_id").as("pid"))
        val e = sess.select(col("user_id"), col("sess"), col("event_type"),
          unix_micros(col("ts")).as("ets"), col("event_id").as("eid"))
        val pre = p.join(e, Seq("user_id", "sess"))
          .where(col("ets") < col("pts") ||
            (col("ets") === col("pts") && col("eid") < col("pid")))
          .localCheckpoint()
        val k = pre.groupBy(col("user_id"), col("sess"), col("pid"))
          .agg(count(lit(1)).as("k"))
        val credits = pre.join(k, Seq("user_id", "sess", "pid"))
          .select(col("event_type"), (lit(1.0) / col("k")).as("credit"))
        val direct = p.join(
            pre.select(col("user_id"), col("sess"), col("pid")).distinct(),
            Seq("user_id", "sess", "pid"), "left_anti")
          .select(lit("direct").as("event_type"), lit(1.0).as("credit"))
        credits.unionByName(direct)
          .groupBy(col("event_type"))
          .agg(Num.dsum38(col("credit")).as("credit"),
            count(lit(1)).as("n_rows"))
      },
      Some("""WITH f AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
           |         THEN 1 ELSE 0 END AS ns
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sess AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS sess
           |  FROM f),
           |p AS (
           |  SELECT user_id, sess, epoch_us(ts) AS pts, event_id AS pid
           |  FROM sess WHERE event_type = 'purchase'),
           |e AS (
           |  SELECT user_id, sess, event_type, epoch_us(ts) AS ets,
           |    event_id AS eid
           |  FROM sess),
           |pre AS (
           |  SELECT p.user_id, p.sess, p.pid, e.event_type
           |  FROM p JOIN e ON e.user_id = p.user_id AND e.sess = p.sess
           |    AND (e.ets < p.pts OR (e.ets = p.pts AND e.eid < p.pid))),
           |k AS (
           |  SELECT user_id, sess, pid, CAST(COUNT(*) AS BIGINT) AS k
           |  FROM pre GROUP BY 1, 2, 3),
           |credits AS (
           |  SELECT pre.event_type, CAST(1.0 AS DOUBLE) / k.k AS credit
           |  FROM pre JOIN k USING (user_id, sess, pid)),
           |direct AS (
           |  SELECT 'direct' AS event_type, CAST(1.0 AS DOUBLE) AS credit
           |  FROM p WHERE NOT EXISTS (SELECT 1 FROM pre
           |    WHERE pre.user_id = p.user_id AND pre.sess = p.sess
           |      AND pre.pid = p.pid)),
           |u AS (SELECT * FROM credits UNION ALL SELECT * FROM direct)
           |SELECT event_type,
           |  CAST(SUM(CAST(credit AS DECIMAL(38,18))) AS DOUBLE) AS credit,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows
           |FROM u GROUP BY 1""".stripMargin)),

    // EWMA ANOMALY MONITOR on the daily event series: each day's count is
    // compared against a truncated exponentially-weighted baseline of the
    // 15 prior days (decay 0.1 — weight 10^-(k-1) at lag k). Every weight is
    // a power of ten, so numerator and denominator fold EXACTLY in
    // decimal(38,0) and the spike/drop verdicts are CROSS-MULTIPLIED decimal
    // comparisons (cnt*den vs 3*num) — no floating point anywhere except the
    // final display division. The baseline is built with the q327 bounded
    // explode (each day projects onto the 15 report days it supports), never
    // a range self-join; the whole query is two map-side-combinable aggs and
    // one equi-join on day. Missing days self-normalize: den sums only the
    // weights of OBSERVED lags.
    QueryDef(
      "q331_ewma_anomaly",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val daily = ev
          .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val base = daily
          .withColumn("k", explode(sequence(lit(1), lit(15))))
          .select((col("day") + col("k")).as("report_day"),
            pow(lit(10.0), (lit(15) - col("k")).cast("double")).cast("long").as("w"),
            col("cnt"))
          .groupBy(col("report_day"))
          .agg(sum((col("cnt") * col("w")).cast("decimal(38,0)")).as("num"),
            sum(col("w").cast("decimal(38,0)")).as("den"))
        daily.join(base, col("day") === col("report_day"))
          .select(col("day"), col("cnt"),
            (col("num").cast("double") / col("den").cast("double")).as("ewma"),
            (col("cnt").cast("decimal(38,0)") * col("den") >
              col("num") * lit(3)).as("is_spike"),
            (col("cnt").cast("decimal(38,0)") * col("den") * lit(3) <
              col("num")).as("is_drop"))
      },
      Some("""WITH daily AS (
           |  SELECT epoch_us(ts) // 86400000000 AS day,
           |    CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM events GROUP BY 1),
           |c AS (
           |  SELECT day + k AS report_day,
           |    CAST(POWER(10, 15 - k) AS BIGINT) AS w, cnt
           |  FROM daily CROSS JOIN (SELECT unnest(range(1, 16)) AS k)),
           |b AS (
           |  SELECT report_day,
           |    SUM(CAST(cnt AS HUGEINT) * w) AS num,
           |    SUM(CAST(w AS HUGEINT)) AS den
           |  FROM c GROUP BY 1)
           |SELECT d.day, d.cnt,
           |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma,
           |  CAST(d.cnt AS HUGEINT) * den > num * 3 AS is_spike,
           |  CAST(d.cnt AS HUGEINT) * den * 3 < num AS is_drop
           |FROM daily d JOIN b ON b.report_day = d.day""".stripMargin)),

    // USER BURSTINESS (Fano factor): variance-to-mean ratio of each user's
    // daily event counts over their OWN active span [first day, last day] —
    // zero days inside the span count (they contribute 0 to Σc and Σc², so
    // only the span length m enters the formula), which is what separates a
    // clockwork user (F→0) from a binge user (F≫1) at equal volume. The
    // q326/q327 behavioral-read companion. All sums are exact integers from
    // ONE user+day aggregation; mean and variance are two deterministic
    // double divisions (var = Σc²/m − mean², same op order both engines).
    QueryDef(
      "q339_user_burstiness",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val ud = ev.groupBy(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("c"))
        ud.groupBy(col("user_id"))
          .agg(
            (max(col("day")) - min(col("day")) + 1).as("span_days"),
            count(lit(1)).as("active_days"),
            sum(col("c")).as("n_events"),
            sum(col("c") * col("c")).as("ss"))
          .select(col("user_id"), col("span_days"), col("active_days"),
            col("n_events"),
            (col("n_events").cast("double") / col("span_days")).as("mean_daily"),
            ((col("ss").cast("double") / col("span_days")) -
              (col("n_events").cast("double") / col("span_days")) *
                (col("n_events").cast("double") / col("span_days")))
              .as("var_daily"))
          .withColumn("fano",
            when(col("n_events") > 0,
              col("var_daily") / col("mean_daily")).otherwise(lit(0.0)))
      },
      Some("""WITH ud AS (
           |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
           |    CAST(COUNT(*) AS BIGINT) AS c
           |  FROM events GROUP BY 1, 2),
           |u AS (
           |  SELECT user_id,
           |    MAX(day) - MIN(day) + 1 AS span_days,
           |    CAST(COUNT(*) AS BIGINT) AS active_days,
           |    CAST(SUM(c) AS BIGINT) AS n_events,
           |    CAST(SUM(c * c) AS BIGINT) AS ss
           |  FROM ud GROUP BY 1)
           |SELECT user_id, span_days, active_days, n_events,
           |  CAST(n_events AS DOUBLE) / span_days AS mean_daily,
           |  (CAST(ss AS DOUBLE) / span_days)
           |    - (CAST(n_events AS DOUBLE) / span_days)
           |      * (CAST(n_events AS DOUBLE) / span_days) AS var_daily,
           |  CASE WHEN n_events > 0 THEN
           |    ((CAST(ss AS DOUBLE) / span_days)
           |      - (CAST(n_events AS DOUBLE) / span_days)
           |        * (CAST(n_events AS DOUBLE) / span_days))
           |    / (CAST(n_events AS DOUBLE) / span_days)
           |  ELSE 0.0 END AS fano
           |FROM u""".stripMargin)),

    // INTERVAL GAPS-AND-ISLANDS: merge each customer's overlapping order
    // fulfillment intervals [orderdate, last shipdate] into maximal
    // "active episodes" (touching days merge; a gap of >= 1 full day opens a
    // new island). The classic island detector — running MAX of interval end
    // over PRECEDING rows inside the customer partition, island++ whenever a
    // start clears it — is entirely per-customer windows over integer days
    // (exact arithmetic, no fp). Scale: one fact-fact equi-join on orderkey,
    // one interval agg, then customer-keyed analytic windows — partitions
    // are single customers, never global sorts.
    QueryDef(
      "q332_interval_islands",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val li = Tables.load(s, dir, "lineitem")
        val iv = o.join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey"), col("o_orderkey"))
          // orderdate/shipdate land as TIMESTAMP_NTZ (isAdjustedToUTC=false
          // parquet); sessions pin UTC, so the cast is a pure re-tag of the
          // same microsecond value (the Tables.load events convention).
          .agg(min(expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
            .as("start_d"),
            max(expr(
              "unix_micros(cast(l_shipdate as timestamp)) div 86400000000"))
            .as("raw_end"))
          .select(col("o_custkey"), col("o_orderkey"), col("start_d"),
            greatest(col("raw_end"), col("start_d")).as("end_d"))
        val wOrd = Window.partitionBy(col("o_custkey"))
          .orderBy(col("start_d"), col("end_d"), col("o_orderkey"))
        val isl = iv
          .withColumn("prev_max_end",
            max(col("end_d")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_island",
            when(col("prev_max_end").isNull ||
              col("start_d") > col("prev_max_end"), 1L).otherwise(0L))
          .withColumn("island", sum(col("new_island"))
            .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        isl.groupBy(col("o_custkey"), col("island"))
          .agg(count(lit(1)).as("n_orders"),
            min(col("start_d")).as("i_start"), max(col("end_d")).as("i_end"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("n_orders")).as("n_orders"),
            count(lit(1)).as("n_episodes"),
            sum(col("i_end") - col("i_start") + 1).as("covered_days"))
      },
      Some("""WITH iv AS (
           |  SELECT o_custkey, o_orderkey,
           |    MIN(epoch_us(o_orderdate) // 86400000000) AS start_d,
           |    GREATEST(MAX(epoch_us(l_shipdate) // 86400000000),
           |      MIN(epoch_us(o_orderdate) // 86400000000)) AS end_d
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |  GROUP BY 1, 2),
           |m AS (
           |  SELECT o_custkey, o_orderkey, start_d, end_d,
           |    MAX(end_d) OVER (PARTITION BY o_custkey
           |      ORDER BY start_d, end_d, o_orderkey
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS prev_max_end
           |  FROM iv),
           |f AS (
           |  SELECT o_custkey, o_orderkey, start_d, end_d,
           |    CASE WHEN prev_max_end IS NULL OR start_d > prev_max_end
           |         THEN 1 ELSE 0 END AS new_island
           |  FROM m),
           |g AS (
           |  SELECT o_custkey, start_d, end_d,
           |    SUM(new_island) OVER (PARTITION BY o_custkey
           |      ORDER BY start_d, end_d, o_orderkey
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           |  FROM f),
           |isl AS (
           |  SELECT o_custkey, island, COUNT(*) AS n_orders,
           |    MIN(start_d) AS i_start, MAX(end_d) AS i_end
           |  FROM g GROUP BY 1, 2)
           |SELECT o_custkey, CAST(SUM(n_orders) AS BIGINT) AS n_orders,
           |  CAST(COUNT(*) AS BIGINT) AS n_episodes,
           |  CAST(SUM(i_end - i_start + 1) AS BIGINT) AS covered_days
           |FROM isl GROUP BY 1""".stripMargin)),

    // POSITION-BASED (U-shaped) multi-touch attribution: 40% of each
    // purchase's credit to the FIRST touch in its session, 40% to the LAST
    // pre-purchase touch, the remaining 20% split evenly across the middle
    // (k=1 -> 1.0, k=2 -> 0.5/0.5) — the recency-plus-introduction
    // counterpoint to q330's uniform split and q243's winner-take-all, over
    // the SAME 6-hour gap sessionization so the three models are directly
    // comparable. Same bounded session-pair join; per-purchase position via
    // one analytic window; fractional credits fold in decimal.
    QueryDef(
      "q333_position_attribution",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val wUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sess = ev.select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("ns",
            when(lag(col("ts"), 1).over(wUser).isNull ||
              unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wUser))
                > 21600000000L, 1L).otherwise(0L))
          .withColumn("sess", sum(col("ns")).over(wUser))
          .localCheckpoint()
        val p = sess.where(col("event_type") === "purchase")
          .select(col("user_id"), col("sess"),
            unix_micros(col("ts")).as("pts"), col("event_id").as("pid"))
        val e = sess.select(col("user_id"), col("sess"), col("event_type"),
          unix_micros(col("ts")).as("ets"), col("event_id").as("eid"))
        val pre = p.join(e, Seq("user_id", "sess"))
          .where(col("ets") < col("pts") ||
            (col("ets") === col("pts") && col("eid") < col("pid")))
          .localCheckpoint()
        val wPos = Window.partitionBy(col("user_id"), col("sess"), col("pid"))
          .orderBy(col("ets"), col("eid"))
        val wAll = Window.partitionBy(col("user_id"), col("sess"), col("pid"))
        val credits = pre
          .withColumn("rn", row_number().over(wPos))
          .withColumn("k", count(lit(1)).over(wAll))
          .select(col("event_type"),
            when(col("k") === 1, lit(1.0))
              .when(col("k") === 2, lit(0.5))
              .when(col("rn") === 1 || col("rn") === col("k"), lit(0.4))
              .otherwise(lit(0.2) / (col("k") - lit(2)).cast("double"))
              .as("credit"))
        val direct = p.join(
            pre.select(col("user_id"), col("sess"), col("pid")).distinct(),
            Seq("user_id", "sess", "pid"), "left_anti")
          .select(lit("direct").as("event_type"), lit(1.0).as("credit"))
        credits.unionByName(direct)
          .groupBy(col("event_type"))
          .agg(Num.dsum38(col("credit")).as("credit"),
            count(lit(1)).as("n_rows"))
      },
      Some("""WITH f AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
           |         THEN 1 ELSE 0 END AS ns
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sess AS (
           |  SELECT user_id, event_id, ts, event_type,
           |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS sess
           |  FROM f),
           |p AS (
           |  SELECT user_id, sess, epoch_us(ts) AS pts, event_id AS pid
           |  FROM sess WHERE event_type = 'purchase'),
           |e AS (
           |  SELECT user_id, sess, event_type, epoch_us(ts) AS ets,
           |    event_id AS eid
           |  FROM sess),
           |pre AS (
           |  SELECT p.user_id, p.sess, p.pid, e.event_type, e.ets, e.eid
           |  FROM p JOIN e ON e.user_id = p.user_id AND e.sess = p.sess
           |    AND (e.ets < p.pts OR (e.ets = p.pts AND e.eid < p.pid))),
           |rk AS (
           |  SELECT event_type,
           |    ROW_NUMBER() OVER (PARTITION BY user_id, sess, pid
           |      ORDER BY ets, eid) AS rn,
           |    COUNT(*) OVER (PARTITION BY user_id, sess, pid) AS k
           |  FROM pre),
           |credits AS (
           |  SELECT event_type,
           |    CASE WHEN k = 1 THEN 1.0
           |         WHEN k = 2 THEN 0.5
           |         WHEN rn = 1 OR rn = k THEN 0.4
           |         ELSE 0.2 / CAST(k - 2 AS DOUBLE) END AS credit
           |  FROM rk),
           |direct AS (
           |  SELECT 'direct' AS event_type, CAST(1.0 AS DOUBLE) AS credit
           |  FROM p WHERE NOT EXISTS (SELECT 1 FROM pre
           |    WHERE pre.user_id = p.user_id AND pre.sess = p.sess
           |      AND pre.pid = p.pid)),
           |u AS (SELECT * FROM credits UNION ALL SELECT * FROM direct)
           |SELECT event_type,
           |  CAST(SUM(CAST(credit AS DECIMAL(38,18))) AS DOUBLE) AS credit,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows
           |FROM u GROUP BY 1""".stripMargin)),

    // TPC-H Q21 pattern, the NATIVE-JOIN-TYPES formulation — the
    // deliberate counterpart of q205, which solves the same pattern by
    // collapsing to order grain with countDistinct aggregations and never
    // materializes a semi/anti join. Here the EXISTS/NOT EXISTS pair runs
    // as what Catalyst plans them to be: over finished ('F') orders, rows
    // of the supplier who shipped >30 days late on a multi-supplier order
    // AND strictly after every other supplier's last line (ties exclude
    // both) — one fact-fact shuffle (lineitem⋈orders on orderkey), then a
    // LEFT SEMI and a LEFT ANTI against raw lineitem, both keyed on
    // l_orderkey with the suppkey/shipdate disqualifiers as join
    // residuals; no distinct, no window. The ONLY anti join in the catalog
    // whose residual carries an inequality across both sides.
    QueryDef(
      "q344_waiting_suppliers",
      (s, dir) => {
        val l1 = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .join(Tables.load(s, dir, "orders")
              .where(col("o_orderstatus") === "F")
              .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        val l2 = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
        val l3 = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"),
            col("l_shipdate").as("d3"))
        l1
          .join(l2, col("l_orderkey") === col("k2") &&
            col("l_suppkey") =!= col("s2"), "left_semi")
          .join(l3, col("l_orderkey") === col("k3") &&
            col("l_suppkey") =!= col("s3") &&
            col("d3") >= col("l_shipdate"), "left_anti")
          .join(broadcast(Tables.load(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_suppkey"), col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_suppkey").asc)
          .limit(10)
      },
      Some("""WITH lo AS (
           |  SELECT l_orderkey, l_suppkey, l_shipdate
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  WHERE o_orderstatus = 'F'
           |    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
           |SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
           |FROM lo l1 JOIN supplier ON l1.l_suppkey = s_suppkey
           |WHERE EXISTS (SELECT 1 FROM lineitem l2
           |    WHERE l2.l_orderkey = l1.l_orderkey
           |      AND l2.l_suppkey <> l1.l_suppkey)
           |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
           |    WHERE l3.l_orderkey = l1.l_orderkey
           |      AND l3.l_suppkey <> l1.l_suppkey
           |      AND l3.l_shipdate >= l1.l_shipdate)
           |GROUP BY 1, 2
           |ORDER BY numwait DESC, s_suppkey ASC
           |LIMIT 10""".stripMargin)),

    // L-DIVERSITY audit: q274's k-anonymity counts how many people share a
    // quasi-identifier signature; this asks the follow-up homogeneity
    // question — do those people also share the SENSITIVE value? A group
    // can be 1000-anonymous and still leak everything if all 1000 rows
    // carry one segment. Quasi-identifiers (nationkey, balance band, the
    // q274 integer-exact banding), sensitive = market segment; the FULL
    // audit table is emitted with a fails_l3 flag (a violations-only cut
    // degenerates to zero rows once groups outgrow the threshold — at
    // sf0.1 every group already holds all 5 segments). One aggregation.
    QueryDef(
      "q359_l_diversity",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        c.groupBy(col("c_nationkey"),
            expr("(CAST(c_acctbal * 100 AS BIGINT) + 10000000) div 100000")
              .as("bal_band"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("c_mktsegment")).as("l_distinct"))
          .select(col("c_nationkey"), col("bal_band"), col("n"),
            col("l_distinct"), (col("l_distinct") < 3).as("fails_l3"))
      },
      Some("""SELECT c_nationkey,
           |  (CAST(c_acctbal * 100 AS BIGINT) + 10000000) // 100000 AS bal_band,
           |  COUNT(*) AS n,
           |  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct,
           |  COUNT(DISTINCT c_mktsegment) < 3 AS fails_l3
           |FROM customer
           |GROUP BY 1, 2""".stripMargin)),

    // T-CLOSENESS audit: the distributional refinement of q359 — a group
    // can be 3-diverse yet still skewed (99% one segment). Per quasi-group,
    // the total-variation distance ½·Σ|p_group − p_corpus| over the segment
    // alphabet, emitted for EVERY group with a fails_t (t = 0.5) flag
    // (q359's full-table rationale). The grid is (groups × 5
    // segments) with ABSENT segments present as p=0 rows (a left join from
    // the segment alphabet — dropping them understates the distance); the
    // corpus distribution is a 5-row broadcast; folds decimal(38,18).
    QueryDef(
      "q360_t_closeness",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
          .select(col("c_nationkey"),
            expr("(CAST(c_acctbal * 100 AS BIGINT) + 10000000) div 100000")
              .as("bal_band"),
            col("c_mktsegment"))
          .localCheckpoint()
        val corpus = c.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("c_seg"))
        val nTot = c.agg(count(lit(1)).as("n_tot"))
        val groups = c.groupBy(col("c_nationkey"), col("bal_band"))
          .agg(count(lit(1)).as("n_g"))
        val cells = c.groupBy(col("c_nationkey"), col("bal_band"),
            col("c_mktsegment"))
          .agg(count(lit(1)).as("c_gs"))
        val grid = groups
          .crossJoin(broadcast(corpus.crossJoin(nTot)))
          .join(cells, Seq("c_nationkey", "bal_band", "c_mktsegment"),
            "left_outer")
          .select(col("c_nationkey"), col("bal_band"), col("n_g"),
            (coalesce(col("c_gs"), lit(0L)).cast("double") /
              col("n_g").cast("double")).as("pg"),
            (col("c_seg").cast("double") / col("n_tot").cast("double")).as("pc"))
        grid.groupBy(col("c_nationkey"), col("bal_band"), col("n_g"))
          .agg((Num.dsum38(abs(col("pg") - col("pc"))) * lit(0.5)).as("tvd"))
          .select(col("c_nationkey"), col("bal_band"), col("n_g"), col("tvd"),
            (col("tvd") > 0.5).as("fails_t"))
      },
      Some(s"""WITH base AS (
           |  SELECT c_nationkey,
           |    (CAST(c_acctbal * 100 AS BIGINT) + 10000000) // 100000 AS bal_band,
           |    c_mktsegment
           |  FROM customer),
           |corpus AS (
           |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS c_seg FROM base
           |  GROUP BY 1),
           |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM base),
           |groups AS (
           |  SELECT c_nationkey, bal_band, CAST(COUNT(*) AS BIGINT) AS n_g
           |  FROM base GROUP BY 1, 2),
           |cells AS (
           |  SELECT c_nationkey, bal_band, c_mktsegment,
           |    CAST(COUNT(*) AS BIGINT) AS c_gs
           |  FROM base GROUP BY 1, 2, 3),
           |grid AS (
           |  SELECT g.c_nationkey, g.bal_band, g.n_g,
           |    CAST(COALESCE(ce.c_gs, 0) AS DOUBLE) / CAST(g.n_g AS DOUBLE) AS pg,
           |    CAST(co.c_seg AS DOUBLE) / CAST(nt.n_tot AS DOUBLE) AS pc
           |  FROM groups g CROSS JOIN corpus co CROSS JOIN nt
           |  LEFT OUTER JOIN cells ce ON ce.c_nationkey = g.c_nationkey
           |    AND ce.bal_band = g.bal_band AND ce.c_mktsegment = co.c_mktsegment)
           |SELECT c_nationkey, bal_band, n_g,
           |  ${Num.duckDsum38("abs(pg - pc)")} * 0.5 AS tvd,
           |  ${Num.duckDsum38("abs(pg - pc)")} * 0.5 > 0.5 AS fails_t
           |FROM grid
           |GROUP BY 1, 2, 3""".stripMargin)),

    // WILSON-INTERVAL daily conversion rate: of the users who VIEWED that
    // day, how many also PURCHASED the same day — a true binomial
    // proportion (converters ⊆ viewers, unlike raw event-count ratios
    // where clicks can exceed views), with the 95% Wilson score interval:
    // the small-sample-correct way to rank days (a 1/1 day must not
    // outrank a 95/100 day; the raw rate says it does, the Wilson lower
    // bound says it doesn't). Two keyed aggregations — (day, user) flags,
    // then day cells; the interval is closed-form arithmetic evaluated as
    // the IDENTICAL formula text in both engines, so sqrt/divisions are
    // bit-equal.
    QueryDef(
      "q364_conversion_wilson",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val du = ev
          .where(col("event_type").isin("view", "purchase"))
          .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
            col("user_id"))
          .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
          .where(col("v") === 1L)
        val cells = du.groupBy(col("day"))
          .agg(count(lit(1)).as("viewers"), sum(col("p")).as("converters"))
        val z = lit(1.96)
        val n = col("viewers").cast("double")
        val p = col("converters").cast("double") / n
        val denom = lit(1.0) + z * z / n
        val center = p + z * z / (lit(2.0) * n)
        val spread = z * sqrt(p * (lit(1.0) - p) / n +
          z * z / (lit(4.0) * n * n))
        cells.select(col("day"), col("viewers"), col("converters"),
          p.as("rate"),
          ((center - spread) / denom).as("wilson_lo"),
          ((center + spread) / denom).as("wilson_hi"))
      },
      Some(s"""WITH du AS (
           |  SELECT epoch_us(ts) // 86400000000 AS day, user_id,
           |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
           |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
           |  FROM ${Tables.duckEvents} ev
           |  WHERE event_type IN ('view', 'purchase')
           |  GROUP BY 1, 2
           |  HAVING MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1),
           |cells AS (
           |  SELECT day, CAST(COUNT(*) AS BIGINT) AS viewers,
           |    CAST(SUM(p) AS BIGINT) AS converters
           |  FROM du GROUP BY 1)
           |SELECT day, viewers, converters,
           |  CAST(converters AS DOUBLE) / CAST(viewers AS DOUBLE) AS rate,
           |  ((CAST(converters AS DOUBLE) / CAST(viewers AS DOUBLE)
           |      + 1.96 * 1.96 / (2.0 * CAST(viewers AS DOUBLE)))
           |    - 1.96 * sqrt(CAST(converters AS DOUBLE) / CAST(viewers AS DOUBLE)
           |        * (1.0 - CAST(converters AS DOUBLE) / CAST(viewers AS DOUBLE))
           |        / CAST(viewers AS DOUBLE)
           |      + 1.96 * 1.96 / (4.0 * CAST(viewers AS DOUBLE) * CAST(viewers AS DOUBLE))))
           |  / (1.0 + 1.96 * 1.96 / CAST(viewers AS DOUBLE)) AS wilson_lo,
           |  ((CAST(converters AS DOUBLE) / CAST(viewers AS DOUBLE)
           |      + 1.96 * 1.96 / (2.0 * CAST(viewers AS DOUBLE)))
           |    + 1.96 * sqrt(CAST(converters AS DOUBLE) / CAST(viewers AS DOUBLE)
           |        * (1.0 - CAST(converters AS DOUBLE) / CAST(viewers AS DOUBLE))
           |        / CAST(viewers AS DOUBLE)
           |      + 1.96 * 1.96 / (4.0 * CAST(viewers AS DOUBLE) * CAST(viewers AS DOUBLE))))
           |  / (1.0 + 1.96 * 1.96 / CAST(viewers AS DOUBLE)) AS wilson_hi
           |FROM cells""".stripMargin)),

    // BENJAMINI-HOCHBERG FDR over ~100 props-k slices: each slice's
    // purchase rate gets the q288 pooled two-proportion z against the
    // rest, two-sided p via the A&S 26.2.17 normal tail (identical Horner
    // text both engines), then the BH step-up at alpha=0.10 turns the
    // nominal-significance list into a FDR-controlled discovery list —
    // on this null corpus the honest answer is (near-)zero rejections,
    // and the machinery proves it rather than asserting it. The rank
    // window runs on the ~100-row slice frame (alphabet-bounded, the
    // q318 discipline); the corpus is touched once by the counting agg.
    QueryDef(
      "q374_slice_bh_fdr",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val counts = ev
          .select(get_json_object(col("props"), "$.k").cast("long").as("key"),
            col("event_type"))
          .where(col("key").isNotNull)
          .groupBy(col("key"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("k"))
        graft.ops.Stats.bhFdr(
          graft.ops.Stats.twoProportionZ(counts), alpha = 0.10)
      },
      Some {
        import graft.ops.Stats.{duckNormT, duckNormUpperTail}
        s"""WITH counts AS (
           |  SELECT CAST(props->>'k' AS BIGINT) AS key,
           |    CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS k
           |  FROM events WHERE CAST(props->>'k' AS BIGINT) IS NOT NULL
           |  GROUP BY 1),
           |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
           |  CAST(SUM(k) AS BIGINT) AS tk FROM counts),
           |tz AS (
           |  SELECT key, n, k,
           |    CASE WHEN n = 0 OR tn = n
           |        OR (CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))
           |          * (1.0 - CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))
           |          * (1.0 / CAST(n AS DOUBLE)
           |            + 1.0 / CAST(tn - n AS DOUBLE)) <= 0
           |      THEN NULL
           |      ELSE (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
           |          - CAST(tk - k AS DOUBLE) / CAST(tn - n AS DOUBLE))
           |        / sqrt((CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))
           |          * (1.0 - CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))
           |          * (1.0 / CAST(n AS DOUBLE)
           |            + 1.0 / CAST(tn - n AS DOUBLE)))
           |    END AS z
           |  FROM counts CROSS JOIN tot),
           |pz AS (
           |  SELECT key, n, k, z, abs(z) AS ax, ${duckNormT("abs(z)")} AS tt
           |  FROM tz WHERE z IS NOT NULL),
           |pp AS (
           |  SELECT key, n, k, z,
           |    2.0 * ${duckNormUpperTail("ax", "tt")} AS p
           |  FROM pz),
           |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pp),
           |rk AS (
           |  SELECT key, n, k, z, p,
           |    CAST(row_number() OVER (ORDER BY round(p, 12) ASC, key ASC) AS BIGINT)
           |      AS p_rank,
           |    m AS m_tests
           |  FROM pp CROSS JOIN mt),
           |rc AS (
           |  SELECT key, n, k, z, p, p_rank, m_tests,
           |    CAST(0.10 AS DOUBLE) * CAST(p_rank AS DOUBLE)
           |      / CAST(m_tests AS DOUBLE) AS bh_crit
           |  FROM rk),
           |ist AS (
           |  SELECT COALESCE(
           |    MAX(CASE WHEN round(p, 12) <= bh_crit THEN p_rank END),
           |    CAST(0 AS BIGINT)) AS istar
           |  FROM rc)
           |SELECT key, n, k, z, p, p_rank, m_tests, bh_crit,
           |  p_rank <= istar AS rejected
           |FROM rc CROSS JOIN ist""".stripMargin
      }),

    // COARSENED EXACT MATCHING ATT: does URGENT order priority "cause"
    // higher order value, after matching away customer composition? The
    // matching-based member of the causal family (CUPED q293 adjusts
    // variance; Welch q261 tests raw means; CEM balances covariates
    // EXACTLY): strata = (mktsegment x nation) — already categorical, the
    // coarsening a practitioner would pick — treated = 1-URGENT orders,
    // outcome = o_totalprice. Only strata with BOTH groups contribute;
    // ATT weights stratum gaps by treated counts. One fact-dimension
    // broadcast join + one stratum aggregation; everything after runs on
    // the 125-stratum frame.
    QueryDef(
      "q376_cem_att",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val c = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
        val base = o.join(c, col("o_custkey") === col("c_custkey"))
        graft.ops.Stats.cemAtt(base,
          concat_ws("|", col("c_mktsegment"), col("c_nationkey")),
          col("o_orderpriority") === "1-URGENT",
          col("o_totalprice"))
      },
      Some(s"""WITH base AS (
           |  SELECT c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR)
           |      AS stratum,
           |    (o_orderpriority = '1-URGENT') AS t,
           |    CAST(o_totalprice AS DOUBLE) AS y
           |  FROM orders JOIN customer ON c_custkey = o_custkey),
           |cells AS (
           |  SELECT stratum, t, CAST(COUNT(*) AS BIGINT) AS n,
           |    ${Num.duckDsum("y", 2)} AS sy
           |  FROM base GROUP BY 1, 2),
           |wide AS (
           |  SELECT stratum,
           |    COALESCE(CAST(SUM(CASE WHEN t THEN n END) AS BIGINT),
           |      CAST(0 AS BIGINT)) AS n_treated,
           |    COALESCE(CAST(SUM(CASE WHEN NOT t THEN n END) AS BIGINT),
           |      CAST(0 AS BIGINT)) AS n_control,
           |    COALESCE(SUM(CASE WHEN t THEN sy END), 0.0) AS syt,
           |    COALESCE(SUM(CASE WHEN NOT t THEN sy END), 0.0) AS syc
           |  FROM cells GROUP BY 1),
           |matched AS (
           |  SELECT stratum, n_treated, n_control,
           |    syt / CAST(n_treated AS DOUBLE) AS mean_treated,
           |    syc / CAST(n_control AS DOUBLE) AS mean_control,
           |    syt / CAST(n_treated AS DOUBLE)
           |      - syc / CAST(n_control AS DOUBLE) AS gap
           |  FROM wide WHERE n_treated > 0 AND n_control > 0),
           |att AS (
           |  SELECT ${Num.duckDsum38("CAST(n_treated AS DOUBLE) * gap")}
           |      / CAST(SUM(n_treated) AS DOUBLE) AS att,
           |    CAST(SUM(n_treated) AS BIGINT) AS n_matched_t
           |  FROM matched),
           |dropped AS (
           |  SELECT COALESCE(CAST(SUM(n_treated) AS BIGINT),
           |    CAST(0 AS BIGINT)) AS n_dropped_t
           |  FROM wide WHERE n_control = 0)
           |SELECT stratum, n_treated, n_control, mean_treated, mean_control,
           |  gap, att, n_matched_t, n_dropped_t
           |FROM matched CROSS JOIN att CROSS JOIN dropped""".stripMargin)),

    // MUTUAL INFORMATION between market segment and nation — the
    // feature-selection statistic beside q311's chi²: chi² answers
    // "dependent at all?", MI answers "how many nats does knowing the
    // segment tell you about the nation?" (here: ~0 — TPC-H assigns them
    // independently, and the NMI quantifies exactly how close to 0).
    // One joint contingency aggregation touches the corpus; marginals,
    // entropies, and the normalization all derive from the ≤125-cell
    // joint frame (alphabet-bounded, the q318 discipline), folded in
    // decimal(38,18) so the sums are order-independent cross-engine.
    QueryDef(
      "q377_segment_nation_mi",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        graft.ops.Stats.mutualInformation(
          c, col("c_mktsegment"), col("c_nationkey"))
      },
      Some(graft.ops.Stats.duckMutualInformation(
        "customer", "c_mktsegment", "c_nationkey"))),

    // WEIGHTED SAMPLE WITHOUT REPLACEMENT, k per language — the
    // quality-weighted variant of q47's uniform per-group sample: longer
    // documents (weight = n_chars) are proportionally more likely to make
    // the per-language top-k, via the Efraimidis–Spirakis A-Res key
    // ln(u)/w with u drawn from the salted doc_id hash. Deterministic on
    // any partitioning; one WindowGroupLimit top-k per group means no
    // more than k rows per language survive the exchange — the
    // curation-pipeline "keep the best-weighted n per bucket" primitive
    // at corpus scale.
    QueryDef(
      "q378_weighted_lang_sample",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Sampling.weightedSampleTopK(
          d, col("lang"), col("doc_id"), col("n_chars"), k = 10)
      },
      Some(graft.ops.Sampling.duckWeightedSampleTopK(
        "documents", "lang", "doc_id", "n_chars", k = 10))),

    // NMI LEAKAGE AUDIT: does a document's source predict its length
    // band? The q377 operator composed with a derived quality band —
    // the audit a training-data pipeline runs before using length as a
    // quality signal (a high NMI would mean "length" is really "source",
    // and dedup/balancing by one silently skews the other). Same shape
    // as q377: corpus touched once by the joint count, everything else
    // on the (source × band) frame.
    QueryDef(
      "q379_source_band_nmi",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val band = when(col("n_chars") < 150, "xs")
          .when(col("n_chars") < 250, "s")
          .when(col("n_chars") < 400, "m")
          .otherwise("l")
        graft.ops.Stats.mutualInformation(d, col("source"), band)
      },
      Some(graft.ops.Stats.duckMutualInformation(
        "documents", "source",
        "CASE WHEN n_chars < 150 THEN 'xs' WHEN n_chars < 250 THEN 's' " +
          "WHEN n_chars < 400 THEN 'm' ELSE 'l' END"))),

    // EPOCH DRIFT SCORES: split the event stream at its time midpoint and
    // score the later epoch's per-slice purchase counts against the
    // earlier epoch's rates (Stats.sliceDriftScores). Per-slice
    // binomial z + the global drift_z; slices born after the
    // cutoff land in n_unknown. Corpus touched twice (once per epoch's
    // counting agg over the checkpointed projection); every later frame
    // is the ~100-slice alphabet.
    QueryDef(
      "q380_epoch_drift",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val base = ev.select(
            get_json_object(col("props"), "$.k").cast("long").as("key"),
            (col("event_type") === "purchase").as("succ"),
            unix_micros(col("ts")).as("us"))
          .where(col("key").isNotNull)
          .localCheckpoint()
        val cut = base.agg(expr("(min(us) + max(us)) div 2").as("cutoff"))
        val withCut = base.crossJoin(broadcast(cut))
        def counts(cond: org.apache.spark.sql.Column) =
          withCut.where(cond).groupBy(col("key"))
            .agg(count(lit(1)).as("n"),
              sum(when(col("succ"), 1L).otherwise(0L)).as("k"))
        graft.ops.Stats.sliceDriftScores(
          counts(col("us") <= col("cutoff")),
          counts(col("us") > col("cutoff")))
      },
      Some(graft.ops.Stats.duckSliceDriftScores(
        "refcounts", "livecounts",
        prelude = s"""ev AS (
           |  SELECT CAST(props->>'k' AS BIGINT) AS key,
           |    (event_type = 'purchase') AS succ, epoch_us(ts) AS us
           |  FROM ${Tables.duckEvents}
           |  WHERE CAST(props->>'k' AS BIGINT) IS NOT NULL),
           |cut AS (SELECT (MIN(us) + MAX(us)) // 2 AS cutoff FROM ev),
           |refcounts AS (
           |  SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(CASE WHEN succ THEN 1 ELSE 0 END) AS BIGINT) AS k
           |  FROM ev CROSS JOIN cut WHERE us <= cutoff GROUP BY 1),
           |livecounts AS (
           |  SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(CASE WHEN succ THEN 1 ELSE 0 END) AS BIGINT) AS k
           |  FROM ev CROSS JOIN cut WHERE us > cutoff GROUP BY 1)""".stripMargin))),

    // COCHRAN-ARMITAGE TREND: does purchase rate rise monotonically with
    // the slice decile? The ORDERED alternative q311's chi² is blind to
    // — chi² scores any deviation, CA weights each group's success
    // surplus by its ordinal score so only a trend moves it. Scores =
    // key-deciles (0..9), success = purchase; on this synthetic corpus
    // the honest answer is z ~ 0, and the machinery proves it. One
    // counting aggregation; the test itself is 1-row arithmetic over the
    // 10-group frame.
    QueryDef(
      "q381_ca_trend",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val counts = ev.select(
            get_json_object(col("props"), "$.k").cast("long").as("key"),
            (col("event_type") === "purchase").as("succ"))
          .where(col("key").isNotNull)
          .select(expr("key div 10").as("s"), col("succ"))
          .groupBy(col("s"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("succ"), 1L).otherwise(0L)).as("k"))
        graft.ops.Stats.cochranArmitage(counts)
      },
      Some(graft.ops.Stats.duckCochranArmitage(
        """(SELECT CAST(props->>'k' AS BIGINT) // 10 AS s,
          |    CAST(COUNT(*) AS BIGINT) AS n,
          |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          |      AS BIGINT) AS k
          |  FROM events WHERE CAST(props->>'k' AS BIGINT) IS NOT NULL
          |  GROUP BY 1)""".stripMargin))),

    // CRAMÉR'S V: the effect size for q377's segment×nation table —
    // q311-style chi² says "dependent?", q377's MI says "how many nats?",
    // V answers "how strong on a fixed 0..1 scale" (comparable across
    // tables of any size), plus the Bergsma bias-corrected Ṽ that doesn't
    // inflate on many-celled tables. Same shape as q377: one joint
    // aggregation, then (5×25)-frame arithmetic.
    QueryDef(
      "q382_cramers_v",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        graft.ops.Stats.cramersV(c, col("c_mktsegment"), col("c_nationkey"))
      },
      Some(graft.ops.Stats.duckCramersV(
        "customer", "c_mktsegment", "c_nationkey"))),

    // COHEN'S KAPPA: chance-corrected agreement between the stored lang
    // label and the marker-based language-ID heuristic (q44's classifier)
    // — the metric accuracy can't give: a majority-class guesser scores
    // high accuracy on an en-heavy corpus but κ ≈ 0. One corpus pass
    // (the classifier is a pure codegen expression), one joint (lang ×
    // pred) aggregation, 1-row arithmetic after.
    QueryDef(
      "q383_lang_id_kappa",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Stats.cohensKappa(
          d, col("lang"), graft.ops.Text.langId(col("text")))
      },
      Some(graft.ops.Stats.duckCohensKappa(
        "documents", "lang", graft.ops.Text.duckLangId("text")))),

    // McNEMAR: do the length gate (n_chars >= 200) and the token-count
    // gate (>= 40 tokens) disagree ASYMMETRICALLY on the same documents?
    // The paired question an unpaired two-proportion z answers wrongly —
    // only the discordant cells b, c matter; continuity-corrected
    // χ² = (|b−c|−1)²/(b+c). One corpus aggregation to four integers.
    QueryDef(
      "q384_gate_mcnemar",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Stats.mcnemarTest(d,
          col("n_chars") >= 200,
          size(graft.ops.Text.tokens(col("text"))) >= 40)
      },
      Some(graft.ops.Stats.duckMcnemarTest("documents",
        "n_chars >= 200",
        "len(string_split_regex(text, '\\s+')) >= 40"))),

    // BROWN-FORSYTHE: is order-value spread the same across order
    // priorities? The variance-homogeneity check q261's Welch test
    // deliberately avoids and pooled ANOVA silently assumes — median-
    // centred (Levene's mean version is wrecked by the very skew it
    // tests), F over |y − median_g|. Two corpus passes (group medians,
    // then deviations); the F is 5-group-frame arithmetic.
    QueryDef(
      "q385_price_spread_bf",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        graft.ops.Stats.brownForsythe(
          o, col("o_orderpriority"), col("o_totalprice"))
      },
      Some(graft.ops.Stats.duckBrownForsythe(
        "orders", "o_orderpriority", "o_totalprice"))),

    // DURABLE KLL QUANTILE SKETCH TABLE (build + serve): per-source
    // Datasketches KLL sketches of doc length stored as bytes, plus the
    // cross-source __union__ rollup folded from the STORED bytes alone —
    // the distributional member the sketch-table family was missing
    // (beside HLL q125 distinct counts, theta q136 set ops, CMS q49
    // frequencies, moment shards q144, sliding q150). Unlike the q260
    // equi-width histogram there is NO frozen domain to drift out of; the
    // guarantee is a rank tolerance. KLL compaction is randomized, so the
    // hashed surface is the q26/q125 discipline: exact INCLUSIVE
    // nearest-rank quantiles (value-alphabet-bounded windows, never
    // corpus-row frames) + n_match/within_bound verdicts the oracle
    // reproduces as exact + TRUE.
    QueryDef(
      "q386_kll_doclen_sketches",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tbl = graft.ops.QuantileIndex.build(
          d, col("source"), col("n_chars"), k = 256)
        graft.ops.QuantileIndex.report(tbl, d, col("source"), col("n_chars"),
          qs = Seq(0.5, 0.9, 0.99), eps = 0.05, k = 256)
      },
      Some(graft.ops.QuantileIndex.duckReport(
        "documents", "source", "n_chars", Seq(0.5, 0.9, 0.99)))),

    // The APPEND-MAINTAINED KLL table through the identical estimate
    // surface: two thirds of the corpus build the base table, the last
    // third arrives as a delta shard, and the merge unions STORED BYTES
    // per key (getN adds exactly; rank error is preserved by merge) —
    // proving append == rebuild at the verification surface, the same
    // contract the q255/q158 maintained tables pin. The oracle is the
    // exact corpus replay, so a fan-out, a dropped shard, or a double
    // count in the maintenance path flips n_match/exact_q and fails the
    // hash.
    QueryDef(
      "q387_kll_table_append",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val base = d.where(pmod(col("doc_id"), lit(3)) =!= 0)
        val delta = d.where(pmod(col("doc_id"), lit(3)) === 0)
        val tbl = graft.ops.QuantileIndex.merge(Seq(
          graft.ops.QuantileIndex.build(base, col("source"), col("n_chars"), k = 256),
          graft.ops.QuantileIndex.build(delta, col("source"), col("n_chars"), k = 256)),
          k = 256)
        graft.ops.QuantileIndex.report(tbl, d, col("source"), col("n_chars"),
          qs = Seq(0.5, 0.9, 0.99), eps = 0.05, k = 256)
      },
      Some(graft.ops.QuantileIndex.duckReport(
        "documents", "source", "n_chars", Seq(0.5, 0.9, 0.99)))),

    // BH-FDR OVER DRIFT EPOCHS — the composition q380's doc points at:
    // the drift monitor says WHEN something moved; THIS says WHICH slices
    // moved, with the false-discovery rate controlled. A four-epoch
    // history table of per-(slice, epoch) counts (the shape a scheduled
    // per-epoch count job would persist) rolls epochs 0–2 into the
    // reference, epoch 3 is live; per-slice binomial drift z
    // (sliceDriftScores q380) feeds straight into the q374 BH step-up.
    // Two existing operators, ~15 lines of glue — the corpus is touched
    // once by the epoch counting agg; every later frame is the ~100-slice
    // alphabet.
    QueryDef(
      "q388_drift_fdr",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val base = ev.select(
            get_json_object(col("props"), "$.k").cast("long").as("key"),
            (col("event_type") === "purchase").as("succ"),
            unix_micros(col("ts")).as("us"))
          .where(col("key").isNotNull)
          .localCheckpoint()
        val bounds = base.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        val hist = base.crossJoin(broadcast(bounds))
          .withColumn("epoch",
            expr("least(3, ((us - mn) * 4) div (mx - mn + 1))"))
          .groupBy(col("key"), col("epoch"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("succ"), 1L).otherwise(0L)).as("k"))
        val ref = hist.where(col("epoch") < 3).groupBy(col("key"))
          .agg(sum(col("n")).as("n"), sum(col("k")).as("k"))
        val live = hist.where(col("epoch") === 3)
          .select(col("key"), col("n"), col("k"))
        val scores = graft.ops.Stats.sliceDriftScores(ref, live)
        graft.ops.Stats.bhFdr(
          scores.select(col("key"), col("n_live").as("n"),
            col("k_live").as("k"), col("z")),
          alpha = 0.10)
      },
      Some {
        import graft.ops.Stats.{duckNormT, duckNormUpperTail}
        s"""WITH ev AS (
           |  SELECT CAST(props->>'k' AS BIGINT) AS key,
           |    (event_type = 'purchase') AS succ, epoch_us(ts) AS us
           |  FROM ${Tables.duckEvents}
           |  WHERE CAST(props->>'k' AS BIGINT) IS NOT NULL),
           |b AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM ev),
           |hist AS (
           |  SELECT key, LEAST(3, ((us - mn) * 4) // (mx - mn + 1)) AS epoch,
           |    CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(CASE WHEN succ THEN 1 ELSE 0 END) AS BIGINT) AS k
           |  FROM ev CROSS JOIN b GROUP BY 1, 2),
           |refc AS (
           |  SELECT key, CAST(SUM(n) AS BIGINT) AS n,
           |    CAST(SUM(k) AS BIGINT) AS k
           |  FROM hist WHERE epoch < 3 GROUP BY 1),
           |livec AS (SELECT key, n, k FROM hist WHERE epoch = 3),
           |refr AS (SELECT key AS rkey,
           |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p0 FROM refc),
           |j AS (
           |  SELECT l.key, r.p0, l.n, l.k
           |  FROM livec l LEFT JOIN refr r ON l.key = r.rkey),
           |tz AS (
           |  SELECT key, n, k,
           |    CASE WHEN p0 IS NOT NULL
           |        AND CAST(n AS DOUBLE) * p0 * (1.0 - p0) > 0.0
           |      THEN (CAST(k AS DOUBLE) - CAST(n AS DOUBLE) * p0)
           |        / sqrt(CAST(n AS DOUBLE) * p0 * (1.0 - p0))
           |    END AS z
           |  FROM j),
           |pz AS (
           |  SELECT key, n, k, z, abs(z) AS ax, ${duckNormT("abs(z)")} AS tt
           |  FROM tz WHERE z IS NOT NULL),
           |pp AS (
           |  SELECT key, n, k, z,
           |    2.0 * ${duckNormUpperTail("ax", "tt")} AS p
           |  FROM pz),
           |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pp),
           |rk AS (
           |  SELECT key, n, k, z, p,
           |    CAST(row_number() OVER (ORDER BY round(p, 12) ASC, key ASC) AS BIGINT)
           |      AS p_rank,
           |    m AS m_tests
           |  FROM pp CROSS JOIN mt),
           |rc AS (
           |  SELECT key, n, k, z, p, p_rank, m_tests,
           |    CAST(0.10 AS DOUBLE) * CAST(p_rank AS DOUBLE)
           |      / CAST(m_tests AS DOUBLE) AS bh_crit
           |  FROM rk),
           |ist AS (
           |  SELECT COALESCE(
           |    MAX(CASE WHEN round(p, 12) <= bh_crit THEN p_rank END),
           |    CAST(0 AS BIGINT)) AS istar
           |  FROM rc)
           |SELECT key, n, k, z, p, p_rank, m_tests, bh_crit,
           |  p_rank <= istar AS rejected
           |FROM rc CROSS JOIN ist""".stripMargin
      }),

    // QUANTILE-DRIFT SCORES (Stats.quantileDriftScores): reference = even
    // doc_ids, live = odd; the p50/p90 thresholds are the reference split's
    // exact INCLUSIVE nearest-rank doc lengths (computed on the
    // value-alphabet frame, then a 2-row driver transfer, k-bounded like
    // the k-means seeds, so the reference distribution is frozen before
    // the live epoch is scored), and the live
    // epoch's mass above each threshold scores against Binomial(n, 1−q).
    // On this null split the honest z is ~0.
    QueryDef(
      "q389_quantile_drift",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        val qs = Seq(0.5, 0.9)
        val counts = d.where(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("n_chars").cast("double").as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("cnt"))
        val cum = counts
          .withColumn("cum", sum(col("cnt")).over(
            W.orderBy(col("x").asc)
              .rowsBetween(W.unboundedPreceding, W.currentRow)))
          .withColumn("n", sum(col("cnt")).over(W.partitionBy()))
        val qdf = broadcast(
          s.createDataFrame(qs.map(Tuple1.apply)).toDF("q"))
        val thr = cum.crossJoin(qdf).groupBy(col("q"))
          .agg(min(when(col("cum") >=
            ceil(col("q") * col("n").cast("double")), col("x"))).as("thr"))
          .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
        graft.ops.Stats.quantileDriftScores(
          d.where(pmod(col("doc_id"), lit(2)) =!= 0),
          col("n_chars"), qs.map(q => q -> thr(q)))
      },
      Some(graft.ops.Stats.duckQuantileDriftScores(
        liveSql =
          "(SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE doc_id % 2 <> 0) live",
        thrSql = s"""(
           |  WITH c AS (
           |    SELECT CAST(n_chars AS DOUBLE) AS x, COUNT(*) AS cnt
           |    FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
           |  w AS (
           |    SELECT x,
           |      CAST(SUM(cnt) OVER (ORDER BY x ASC
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |        AS BIGINT) AS cum,
           |      CAST(SUM(cnt) OVER () AS BIGINT) AS n
           |    FROM c)
           |  SELECT
           |    MIN(CASE WHEN cum >= CAST(CEIL(0.5 * CAST(n AS DOUBLE))
           |      AS BIGINT) THEN x END) AS thr_p50,
           |    MIN(CASE WHEN cum >= CAST(CEIL(0.9 * CAST(n AS DOUBLE))
           |      AS BIGINT) THEN x END) AS thr_p90
           |  FROM w) t""".stripMargin,
        qs = Seq(0.5, 0.9)))),

    // KLL-SERVED DRIFT THRESHOLDS — quantile drift scored against
    // thresholds KLL-served from a stored QuantileIndex table, end to
    // end: the reference split's per-source KLL table is built, PERSISTED
    // and re-read (the stored-bytes path), the corpus rollup is folded
    // from the stored bytes alone (kll_union), and p50/p90 thresholds are
    // served by kll_quantile — a 2-row driver transfer. KLL estimates are
    // randomized, so the q386 hash discipline applies: the HASHED z
    // columns use the exact thresholds
    // (which the oracle replays), and each KLL-served threshold enters the
    // surface as a thr_within_bound_pXX verdict pinned against the exact
    // ±eps rank band — eps = 0.05 vs k=256's ε ≈ 1.33% (1σ) leaves > 3σ,
    // so the oracle's literal TRUE is safe up to astronomically unlikely
    // sketch failure. FLAKE SIGNATURE: if this query ever hash-mismatches
    // with the diff confined to a thr_within_bound_pXX column flipping to
    // false, triage it as that >3σ sketch-variance event (re-run confirms),
    // NOT as an engine bug — any real regression in the drift arithmetic
    // would move the hashed z/count columns instead.
    QueryDef(
      "q390_kll_served_drift",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        val qs = Seq(0.5, 0.9)
        val eps = 0.05
        val ref = d.where(pmod(col("doc_id"), lit(2)) === 0)
        val tmp = graft.Scratch.dir("graft-kll")
        graft.ops.QuantileIndex.write(
          graft.ops.QuantileIndex.build(ref, col("source"), col("n_chars"),
            k = 256), tmp)
        val tbl = graft.ops.QuantileIndex.read(s, tmp)
        val qdf = broadcast(s.createDataFrame(qs.map(Tuple1.apply)).toDF("q"))
        val kllThr = tbl
          .agg(graft.ops.QuantileIndex.kllUnion(col("sk"), 256).as("sk"))
          .crossJoin(qdf)
          .select(col("q"),
            graft.ops.QuantileIndex.kllQuantile(col("sk"), col("q")).as("thr"))
          .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
        // exact thresholds + the ±eps rank band, on the value-alphabet frame:
        // the single-partition W.orderBy(x) cumulative window below runs on
        // one row per DISTINCT n_chars (the value alphabet), never on corpus
        // rows — same bounded-window note as q389's nearest-rank quantiles
        val counts = ref.select(col("n_chars").cast("double").as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("cnt"))
        val cum = counts
          .withColumn("cum", sum(col("cnt")).over(
            W.orderBy(col("x").asc)
              .rowsBetween(W.unboundedPreceding, W.currentRow)))
          .withColumn("n", sum(col("cnt")).over(W.partitionBy()))
        val nD = col("n").cast("double")
        val bands = cum.crossJoin(qdf).groupBy(col("q"))
          .agg(
            min(when(col("cum") >= ceil(col("q") * nD), col("x"))).as("thr"),
            min(when(col("cum") >=
              greatest(lit(1L), ceil((col("q") - lit(eps)) * nD)), col("x")))
              .as("lo"),
            min(when(col("cum") >=
              least(col("n"), ceil((col("q") + lit(eps)) * nD)), col("x")))
              .as("hi"))
          .collect()
          .map(r => r.getDouble(0) -> (r.getDouble(1), r.getDouble(2),
            r.getDouble(3))).toMap
        val verdicts = qs.map { q =>
          val (_, lo, hi) = bands(q)
          val t = kllThr(q)
          lit(t >= lo && t <= hi)
            .as(s"thr_within_bound_p${math.round(q * 100)}")
        }
        graft.ops.Stats.quantileDriftScores(
          d.where(pmod(col("doc_id"), lit(2)) =!= 0),
          col("n_chars"), qs.map(q => q -> bands(q)._1))
          .select(col("*") +: verdicts: _*)
      },
      Some {
        val inner = graft.ops.Stats.duckQuantileDriftScores(
          liveSql =
            "(SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE doc_id % 2 <> 0) live",
          thrSql = s"""(
             |  WITH c AS (
             |    SELECT CAST(n_chars AS DOUBLE) AS x, COUNT(*) AS cnt
             |    FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
             |  w AS (
             |    SELECT x,
             |      CAST(SUM(cnt) OVER (ORDER BY x ASC
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS BIGINT) AS cum,
             |      CAST(SUM(cnt) OVER () AS BIGINT) AS n
             |    FROM c)
             |  SELECT
             |    MIN(CASE WHEN cum >= CAST(CEIL(0.5 * CAST(n AS DOUBLE))
             |      AS BIGINT) THEN x END) AS thr_p50,
             |    MIN(CASE WHEN cum >= CAST(CEIL(0.9 * CAST(n AS DOUBLE))
             |      AS BIGINT) THEN x END) AS thr_p90
             |  FROM w) t""".stripMargin,
          qs = Seq(0.5, 0.9))
        s"""SELECT sub.*, TRUE AS thr_within_bound_p50,
           |  TRUE AS thr_within_bound_p90
           |FROM ($inner) sub""".stripMargin
      }),

    // ORC sink/source ROUND-TRIP with a COMPLEX-TYPE column — the
    // columnar-format breadth q328's CSV/JSON roundtrip cannot exercise
    // (text formats have no native arrays): a per-source aggregate carrying
    // an array<string> column is written as ORC (bundled orc-core, the
    // other columnar format a lakehouse ingests besides parquet), read
    // back through schema inference, and verified against the direct
    // computation — any loss in the array (ordering, nulls, element
    // fidelity) breaks langs_csv against the oracle. (Avro is NOT covered:
    // the spark-avro datasource jar is absent from the offline classpath —
    // an environment gap, not an engine one.)
    QueryDef(
      "q392_orc_roundtrip",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val agg = d.groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("chars"),
            sort_array(collect_set(col("lang"))).as("langs"))
        val tmp = graft.Scratch.dir("graft-orc")
        agg.write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
          .select(col("source"), col("n"), col("chars"),
            size(col("langs")).as("n_langs"),
            array_join(col("langs"), ",").as("langs_csv"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars,
           |  CAST(COUNT(DISTINCT lang) AS INTEGER) AS n_langs,
           |  array_to_string(list_sort(list_distinct(list(lang))), ',')
           |    AS langs_csv
           |FROM documents GROUP BY 1""".stripMargin))
  )
}
