package graft
package gates

import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat, count,
  explode, expr, from_json, get_json_object, lit, max_by, min, pmod, round,
  sequence, substring, sum, timestamp_micros, unix_micros, when}
import GateSql._

/** The relational surface: plain Spark SQL gates and the join, layout,
  * skew and change-capture operators. */
private[gates] object RelationalGates {

  val all: Seq[Gate] = Seq(
    // ---- 2.B relational surface ------------------------------------------
    Gate("q1_agg", (s, d) => s.sql(
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Gate("q_json_extract", (s, d) => {
      // semi-structured relational surface: the event log's JSON props
      // column parsed BOTH ways Spark offers — path extraction
      // (get_json_object) and schema'd parsing (from_json) — with a
      // cross-check that the two parsers agree on every row
      import org.apache.spark.sql.functions.{max => maxf, min => minf}
      val ev = readEventsNanos(s, d)
      ev.select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k1"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k2"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k1")).as("sum_k"),
          minf(col("k1")).as("min_k"),
          maxf(col("k1")).as("max_k"),
          sum(when(col("k1") === col("k2"), 1L).otherwise(0L)).as("n_consistent"))
        .orderBy(col("event_type"))
    },
      // Replays the JSON extraction: DuckDB's json_extract_string is the
      // single parse; n_consistent is n by construction (the Spark side
      // cross-checks its two parsers row-by-row).
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  CAST(count(*) AS BIGINT) AS n_consistent
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("q_skew_report", (s, d) => {
      // key-skew diagnostic: top-20 suppliers by row count with corpus
      // share and uniform-spread skew ratio — the report that decides
      // whether the salting mitigations are warranted
      operators.Skew.keyReport(s.table("lineitem"), Seq("l_suppkey"),
          topK = 20, heavyFactor = 4.0)
        .orderBy(col("rank"))
    },
      // Replays Skew.keyReport: counts → one-row totals → rank window on
      // the counts frame; integer arithmetic until the two divisions.
      """WITH counts AS (
        |  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM counts
        |), ranked AS (
        |  SELECT c.l_suppkey, c.cnt, t.total, t.n_keys,
        |    row_number() OVER (ORDER BY c.cnt DESC, c.l_suppkey) AS rank
        |  FROM counts c CROSS JOIN tot t
        |)
        |SELECT l_suppkey, cnt, rank,
        |  CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  CAST(cnt * n_keys AS DOUBLE) / CAST(total AS DOUBLE) AS skew,
        |  (CAST(cnt * n_keys AS DOUBLE) / CAST(total AS DOUBLE)) >= 4.0 AS heavy
        |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin),
    Gate("q_ntile", (s, d) => s.sql(
      s"""SELECT l_orderkey, l_linenumber, ntile(4) OVER ($W) AS quartile
         |FROM lineitem
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(ntile(4) OVER ($W) AS INT) AS quartile
         |FROM lineitem
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_percent_rank", (s, d) => s.sql(
      // distribution window functions over the supplier series — exact
      // integer-ratio trees, identical across engines on a unique order
      s"""SELECT l_orderkey, l_linenumber,
         |  percent_rank() OVER ($W) AS pr,
         |  cume_dist() OVER ($W) AS cd
         |FROM lineitem
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      s"""SELECT l_orderkey, l_linenumber,
         |  percent_rank() OVER ($W) AS pr,
         |  cume_dist() OVER ($W) AS cd
         |FROM lineitem
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_filter_agg", (s, d) => s.sql(
      // SQL:2003 FILTER clause — per-condition aggregation in one pass
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |  sum(l_quantity) FILTER (WHERE l_discount > 0.05) AS qty_disc,
        |  max(l_extendedprice) FILTER (WHERE l_linestatus = 'F') AS max_f
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |  sum(l_quantity) FILTER (WHERE l_discount > 0.05) AS qty_disc,
        |  max(l_extendedprice) FILTER (WHERE l_linestatus = 'F') AS max_f
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Gate("q_incremental_agg", (s, d) => {
      // incremental aggregate maintenance: the stored summary (history) +
      // the new batch's partials merge into EXACTLY the full-corpus
      // aggregate — the oracle aggregates the corpus directly, so the
      // gate proves merge-equals-recompute bit-for-bit
      val li = s.table("lineitem")
      val history = operators.IncrementalAgg.partials(
        li.filter(col("l_shipdate") < "1997-01-01"), Seq("l_returnflag"), "l_quantity")
      val batch = operators.IncrementalAgg.partials(
        li.filter(col("l_shipdate") >= "1997-01-01"), Seq("l_returnflag"), "l_quantity")
      operators.IncrementalAgg.withDerived(
          operators.IncrementalAgg.merge(Seq(history, batch), Seq("l_returnflag")))
        .orderBy(col("l_returnflag"))
    },
      // The incremental-maintenance oracle aggregates the corpus DIRECTLY:
      // history+batch merge must equal recompute (monoid merge), bit-for-bit
      // on the integer-valued metric.
      """SELECT l_returnflag, count(x) AS n, sum(x) AS sum_v,
        |  min(x) AS min_v, max(x) AS max_v,
        |  CASE WHEN count(x) > 0 THEN sum(x) / count(x) END AS avg_v
        |FROM (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS x
        |      FROM lineitem) t
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Gate("q_pricing_summary", (s, d) => s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Gate("q_topk_orders", (s, d) => s.sql(
      """SELECT l_orderkey, sum(l_quantity) AS total_qty
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY total_qty DESC, l_orderkey LIMIT 10""".stripMargin),
      """SELECT l_orderkey, sum(l_quantity) AS total_qty
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY total_qty DESC, l_orderkey LIMIT 10""".stripMargin),
    // per-group top-k: the rank filter is pushed INTO the window sort by
    // Spark's WindowGroupLimit rule — each partition keeps a k-row heap
    // instead of fully sorting, the decisive optimization at 100 TB
    // (asserted in PlanSpec)
    Gate("q_topk_per_group", (s, d) => s.sql(
      """SELECT o_orderstatus, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin),
      """SELECT o_orderstatus, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin),
    // RANGE frame over a derived day number — trailing 30-day running
    // stats per customer. Day arithmetic is integer (UTC-pinned), and the
    // windowed sum runs over exact BIGINT cents, so any evaluation order
    // matches the oracle. One keyed exchange + one in-partition sort.
    Gate("q_window_range", (s, d) => s.sql(
      """SELECT o_custkey, o_orderkey,
        |  count(*) OVER w AS cnt_30d,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS spend_30d_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY unix_date(CAST(o_orderdate AS DATE))
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
      // day number = DATE − epoch (integer days, naive/UTC on both engines);
      // the windowed sum runs over exact BIGINT cents (HUGEINT cast out)
      """SELECT o_custkey, o_orderkey,
        |  count(*) OVER w AS cnt_30d,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS spend_30d_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    // full-outer join over two pre-aggregated key sets — the missing join
    // type in the surface; both sides shrink to per-key counts before the
    // join, so the exchange moves group rows, not base rows
    Gate("q_full_outer", (s, d) => s.sql(
      """SELECT coalesce(b.custkey, u.custkey) AS custkey,
        |       b.n_building, u.n_urgent
        |FROM (SELECT c_custkey AS custkey, count(*) AS n_building
        |      FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY c_custkey) b
        |FULL OUTER JOIN
        |     (SELECT o_custkey AS custkey, count(*) AS n_urgent
        |      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) u
        |ON b.custkey = u.custkey
        |ORDER BY custkey""".stripMargin),
      """SELECT coalesce(b.custkey, u.custkey) AS custkey,
        |       b.n_building, u.n_urgent
        |FROM (SELECT c_custkey AS custkey, count(*) AS n_building
        |      FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY c_custkey) b
        |FULL OUTER JOIN
        |     (SELECT o_custkey AS custkey, count(*) AS n_urgent
        |      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) u
        |ON b.custkey = u.custkey
        |ORDER BY custkey""".stripMargin),
    // ranking-window family over one keyed sort (all six share a single
    // window spec -> one Window operator, one exchange)
    Gate("q_window_rank", (s, d) => s.sql(
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist,
        |  ntile(4) OVER w AS quartile
        |FROM orders
        |WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin),
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders
        |WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin),
    // ROLLUP lattice with grouping() marker — multi-level aggregation in
    // one pass (Expand + single exchange, not one job per level).
    // grouping() cast to INT (Spark: TINYINT, DuckDB: BIGINT); ORDER BY
    // coalesces the rolled-up NULLs (Spark sorts NULLS FIRST, DuckDB LAST)
    Gate("q_rollup", (s, d) => s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""".stripMargin),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""".stripMargin),
    // GROUPING SETS lattice beyond ROLLUP's prefix chain: explicit set list
    // incl. the cross-dimension (priority-only) cut — one Expand pass,
    // single exchange, same plan family as q_rollup
    Gate("q_grouping_sets", (s, d) => s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio,
        |  coalesce(o_orderstatus, ''), coalesce(o_orderpriority, '')""".stripMargin),
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio,
        |  coalesce(o_orderstatus, ''), coalesce(o_orderpriority, '')""".stripMargin),
    // pivot (conditional-aggregation rotation): one pass, map-side
    // combinable — the values list is declared, so no extra distinct scan
    Gate("q_pivot", (s, d) => {
      val priorities =
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val pivoted = s.table("orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", priorities)
        .agg(count(lit(1)))
      pivoted.select(
        pivoted("o_orderstatus") +:
          priorities.map(p => coalesce(pivoted(p), lit(0L)).as(p)): _*)
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus,
        |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS "1-URGENT",
        |  count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS "2-HIGH",
        |  count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
        |  count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
        |  count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS "5-LOW"
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // set operations (INTERSECT / EXCEPT are distinct-semantics hash
    // aggregations; both sides shuffle on the compared columns)
    Gate("q_setops", (s, d) => s.sql(
      """SELECT 'both' AS tag, custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t1
        |UNION ALL
        |SELECT 'cust_only' AS tag, custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t2
        |ORDER BY tag, custkey""".stripMargin),
      """SELECT 'both' AS tag, custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t1
        |UNION ALL
        |SELECT 'cust_only' AS tag, custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t2
        |ORDER BY tag, custkey""".stripMargin),
    // exact grouped quantiles (linear interpolation — matches DuckDB
    // quantile_cont). At 100 TB the same query shape runs with
    // approx_percentile (t-digest, map-side combinable) — the exact variant
    // is the small-group / validation path.
    Gate("q_quantiles", (s, d) => s.sql(
      """SELECT l_returnflag,
        |  percentile(l_quantity, 0.25) AS q25,
        |  percentile(l_quantity, 0.5) AS q50,
        |  percentile(l_quantity, 0.75) AS q75,
        |  percentile(l_extendedprice, 0.5) AS price_median
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75,
        |  quantile_cont(l_extendedprice, 0.5) AS price_median
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Gate("q_revenue_by_nation", (s, d) => {
      // broadcast-join shape: orders (fact) joined to small dims
      val orders = s.table("orders")
      val customer = s.table("customer")
      val nation = s.table("nation")
      orders
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("order_count"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS order_count
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Gate("q_customers_without_orders", (s, d) => s.sql(
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Gate("q_window_builtin", (s, d) => s.sql(
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(row_number() OVER w AS BIGINT) AS rn,
         |  LAG(l_quantity) OVER w AS prev_qty,
         |  sum(l_quantity) OVER (${W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
         |FROM lineitem WINDOW w AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      s"""SELECT l_orderkey, l_linenumber,
         |  row_number() OVER w AS rn,
         |  LAG(l_quantity) OVER w AS prev_qty,
         |  sum(l_quantity) OVER ($W ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
         |FROM lineitem WINDOW w AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_distinct_agg", (s, d) => s.sql(
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS distinct_parts,
        |  count(DISTINCT l_suppkey) AS distinct_suppliers
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS distinct_parts,
        |  count(DISTINCT l_suppkey) AS distinct_suppliers
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // Bloom-prefiltered EXACT semi/anti joins (operators/BloomJoin): the
    // decontamination-at-scale shape — the filter built from the small key
    // side is evaluated inside the fact scan, so only true matches (+ ~fpp
    // false positives) ever reach the join; one-sided error + exact join
    // keeps the result bit-identical to the plain semi/anti join.
    Gate("q_bloom_semijoin", (s, d) => {
      val cust = s.table("customer").filter(col("c_nationkey") === 5)
        .select(col("c_custkey"))
      operators.BloomJoin.semiJoin(s.table("orders"), "o_custkey",
          cust, "c_custkey", expectedItems = 4096, fpp = 0.03)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
      // Bloom prefilter is exact-composed (one-sided error + exact join), so
      // the oracle is the PLAIN semi/anti join — any filter bug that drops or
      // duplicates a row breaks the hash.
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 5)
        |ORDER BY o_orderkey""".stripMargin),
    Gate("q_bloom_anti", (s, d) => {
      val cust = s.table("customer").filter(col("c_nationkey") === 5)
        .select(col("c_custkey"))
      operators.BloomJoin.antiJoin(s.table("orders"), "o_custkey",
          cust, "c_custkey", expectedItems = 4096, fpp = 0.03)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o.o_orderkey, o.o_custkey
        |FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM customer c
        |  WHERE c.c_nationkey = 5 AND c.c_custkey = o.o_custkey)
        |ORDER BY o.o_orderkey""".stripMargin),
    Gate("q_scd2", (s, d) => {
      // SCD Type-2 history: bootstrap a customer dimension at version 100
      // (every 13th key missing), then fold in a version-200 snapshot that
      // re-adds them, bumps every 7th key's balance, and deletes every
      // 11th key — exercising unchanged/changed/deleted/inserted in one
      // chained application
      val cust = s.table("customer").select("c_custkey", "c_name", "c_acctbal")
      val snap1 = cust.filter(col("c_custkey") % 13 =!= 0)
      val snap2 = cust.filter(col("c_custkey") % 11 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + lit(100.0))
            .otherwise(col("c_acctbal")))
      val h0 = snap1.limit(0)
        .withColumn("valid_from", lit(0L)).withColumn("valid_to", lit(0L))
      val h1 = operators.ChangeCapture.scd2Apply(h0, snap1,
        Seq("c_custkey"), lit(100L))
      operators.ChangeCapture.scd2Apply(h1, snap2, Seq("c_custkey"), lit(200L))
        .orderBy(col("c_custkey"), col("valid_from"))
    },
      // Replays the chained scd2Apply as three explicit branches over the
      // two snapshots: surviving-open rows (payload equal), closes (key
      // vanished or payload changed), inserts (key new or payload changed).
      """WITH s1 AS (SELECT c_custkey, c_name, c_acctbal FROM customer
        |            WHERE c_custkey % 13 <> 0),
        |s2 AS (SELECT c_custkey, c_name,
        |         CASE WHEN c_custkey % 7 = 0
        |           THEN c_acctbal + 100.0::DOUBLE ELSE c_acctbal END AS c_acctbal
        |       FROM customer WHERE c_custkey % 11 <> 0)
        |SELECT a.c_custkey, a.c_name, a.c_acctbal,
        |  CAST(100 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |FROM s1 a JOIN s2 b ON a.c_custkey = b.c_custkey
        |WHERE a.c_name = b.c_name AND a.c_acctbal = b.c_acctbal
        |UNION ALL
        |SELECT a.c_custkey, a.c_name, a.c_acctbal,
        |  CAST(100 AS BIGINT), CAST(200 AS BIGINT)
        |FROM s1 a LEFT JOIN s2 b ON a.c_custkey = b.c_custkey
        |WHERE b.c_custkey IS NULL
        |   OR a.c_name <> b.c_name OR a.c_acctbal <> b.c_acctbal
        |UNION ALL
        |SELECT b.c_custkey, b.c_name, b.c_acctbal,
        |  CAST(200 AS BIGINT), CAST(NULL AS BIGINT)
        |FROM s2 b LEFT JOIN s1 a ON a.c_custkey = b.c_custkey
        |WHERE a.c_custkey IS NULL
        |   OR a.c_name <> b.c_name OR a.c_acctbal <> b.c_acctbal
        |ORDER BY c_custkey, valid_from""".stripMargin),
    Gate("q_fuzzy_pairs", (s, d) => {
      // edit-distance pair finding over the distinct part-name vocabulary
      // (length-band blocking + levenshtein verify); the oracle is the
      // brute-force cross join, so blocking completeness is what's gated
      val names = s.table("part").groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("name_id"))
      operators.FuzzyJoin.editDistancePairs(names, "name_id", "p_name",
          maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    },
      // The fuzzy-join oracles are BRUTE FORCE on purpose: the Spark side
      // must find exactly the pairs the unblocked cross join finds, which
      // gates the length-band blocking's completeness, not just the
      // distance arithmetic.
      """WITH n AS (SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS id
        |           FROM part GROUP BY p_name)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a, n b
        |WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 2
        |ORDER BY id_a, id_b""".stripMargin),
    Gate("q_fuzzy_match", (s, d) => {
      // best non-self match per name: smallest distance, ties to the
      // smallest id, via the packed-long hash-aggregate argmin
      val names = s.table("part").groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("name_id"))
      operators.FuzzyJoin.bestMatch(names, names, "name_id", "p_name",
          maxDist = 3, excludeSelf = true)
        .orderBy(col("id"))
    },
      """WITH n AS (SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS id
        |           FROM part GROUP BY p_name),
        |c AS (SELECT a.id AS lid, b.id AS rid,
        |        levenshtein(a.name, b.name) AS d
        |      FROM n a, n b
        |      WHERE a.id <> b.id AND levenshtein(a.name, b.name) <= 3),
        |p AS (SELECT lid, min(d * 1099511627776 + rid) AS pk
        |      FROM c GROUP BY lid)
        |SELECT lid AS id, CAST(pk % 1099511627776 AS BIGINT) AS match_id,
        |  CAST(pk // 1099511627776 AS INT) AS match_dist
        |FROM p ORDER BY id""".stripMargin),
    Gate("q_fuzzy_flood", (s, d) => {
      // length-band flood: every part name appears in 3 light edit variants
      // (same length band by construction), exercising the bipartite budget
      val names = s.table("part").groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("name_id"))
      // variant 1 substitutes the 2nd char ('x'); variant 2 additionally
      // appends 'y' — distances ≤ 2 from the original, same length band
      val mutated = concat(substring(col("p_name"), 1, 1), lit("x"),
        substring(col("p_name"), 3, 1000000))
      val flood = names.select(col("p_name"), col("name_id"),
          explode(sequence(lit(0), lit(2))).as("r"))
        .select((col("name_id") + col("r") * lit(1000000L)).as("name_id"),
          when(col("r") === 0, col("p_name"))
            .when(col("r") === 1, mutated)
            .otherwise(concat(mutated, lit("y"))).as("p_name"))
      operators.FuzzyJoin.editDistancePairs(flood, "name_id", "p_name",
          maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    },
      // Brute-force oracle over the mutated name flood (variant 1 = 2nd char
      // -> 'x'; variant 2 additionally appends 'y'), like q_fuzzy_pairs.
      """WITH n0 AS (SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS id
        |            FROM part GROUP BY p_name),
        |n AS (
        |  SELECT id + r*1000000 AS id,
        |    CASE WHEN r = 0 THEN name
        |         WHEN r = 1 THEN substr(name, 1, 1) || 'x' || substr(name, 3)
        |         ELSE substr(name, 1, 1) || 'x' || substr(name, 3) || 'y' END AS name
        |  FROM n0, range(3) t(r))
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a, n b
        |WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 2
        |ORDER BY id_a, id_b""".stripMargin),
    Gate("q_range_join", (s, d) => {
      // point-in-interval range join per supplier: how many same-supplier
      // shipments were "in flight" ([ship_day, ship_day + quantity] days)
      // when each item shipped
      import org.apache.spark.sql.functions.{count => countf, lit => litf}
      // unix_date over a calendar cast: days since epoch, timezone-free.
      // l_shipdate is TIMESTAMP_NTZ (no zone), so NTZ→DATE is pure calendar
      // truncation; unix_timestamp would shift with the session timezone.
      val li = s.table("lineitem").select(col("l_suppkey"),
        col("l_orderkey"), col("l_linenumber"),
        expr("unix_date(cast(l_shipdate AS date))").as("ship_day"),
        col("l_quantity").cast("long").as("qty"))
      val points = li.select(col("l_suppkey").as("p_supp"), col("l_orderkey"),
        col("l_linenumber"), col("ship_day").as("p_day"))
      val intervals = li.select(col("l_suppkey").as("i_supp"),
        col("ship_day").as("i_start"), (col("ship_day") + col("qty")).as("i_end"))
      // sweep form: one keyed window pass, no pair materialization —
      // (l_orderkey, l_linenumber) is not unique, so per-point counts sum
      import org.apache.spark.sql.functions.{sum => sumf}
      operators.RangeJoin.overlapCounts(points, intervals,
          "p_supp", "i_supp", "p_day", "i_start", "i_end")
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(sumf(col("n_overlapping")).as("n_overlapping"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """WITH li AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    CAST(epoch(l_shipdate) AS BIGINT) // 86400 AS ship_day,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem
        |)
        |SELECT a.l_orderkey, a.l_linenumber, count(*) AS n_overlapping
        |FROM li a JOIN li b ON a.l_suppkey = b.l_suppkey
        |  AND a.ship_day BETWEEN b.ship_day AND b.ship_day + b.qty
        |GROUP BY a.l_orderkey, a.l_linenumber
        |ORDER BY a.l_orderkey, a.l_linenumber""".stripMargin),
    Gate("q_range_join_pairs", (s, d) => {
      // the pair-materializing bucketized variant, gate-covered on a
      // supplier slice (the full pair set is the sweep query's job to count)
      val li = s.table("lineitem").filter(col("l_suppkey") < 50)
        .select(col("l_suppkey"),
          col("l_orderkey"), col("l_linenumber"),
          expr("unix_date(cast(l_shipdate AS date))").as("ship_day"),
          col("l_quantity").cast("long").as("qty"))
      val points = li.select(col("l_suppkey").as("p_supp"), col("l_orderkey"),
        col("l_linenumber"), col("ship_day").as("p_day"))
      val intervals = li.select(col("l_suppkey").as("i_supp"),
        col("ship_day").as("i_start"), (col("ship_day") + col("qty")).as("i_end"))
      // bucketWidth ~ typical interval length (avg span 25 days): measured
      // best at 16-32; wider buckets inflate candidate pairs per bucket
      operators.RangeJoin.rangeJoin(points, intervals,
          "p_supp", "i_supp", "p_day", "i_start", "i_end", bucketWidth = 32)
        .select(col("l_orderkey"), col("l_linenumber"), col("p_day"),
          col("i_start"), col("i_end"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("i_start"), col("i_end"))
    },
      """WITH li AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    CAST(epoch(l_shipdate) AS BIGINT) // 86400 AS ship_day,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem WHERE l_suppkey < 50
        |)
        |SELECT a.l_orderkey, a.l_linenumber, a.ship_day AS p_day,
        |  b.ship_day AS i_start, b.ship_day + b.qty AS i_end
        |FROM li a JOIN li b ON a.l_suppkey = b.l_suppkey
        |  AND a.ship_day BETWEEN b.ship_day AND b.ship_day + b.qty
        |ORDER BY a.l_orderkey, a.l_linenumber, i_start, i_end""".stripMargin),
    Gate("q_asof_join", (s, d) => {
      // as-of join: each event matched to its user's most recent order at
      // or before the event time (the kdb-style primitive Spark lacks)
      import org.apache.spark.sql.functions.{max => maxf}
      val ev = readEventsNanos(s, d).select(
        col("event_id"),
        timestamp_micros(expr("ts DIV 1000")).as("ets"),
        col("user_id"))
      // right side unique per (key, time): latest order per (custkey, date)
      val ord = s.table("orders")
        .groupBy(col("o_custkey"), col("o_orderdate").cast("timestamp").as("odate"))
        .agg(maxf(col("o_orderkey")).as("o_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
      operators.AsofJoin.asofJoin(ev, ord, "user_id", "o_custkey", "ets", "odate")
        .select(col("event_id"), unix_micros(col("ets")).as("ts_us"), col("user_id"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("event_id"))
    },
      """WITH ord AS (
        |  SELECT o_custkey, o_orderdate,
        |    max(o_orderkey) AS o_orderkey,
        |    max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY o_custkey, o_orderdate
        |)
        |SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id,
        |  o.o_orderkey, o.o_totalprice
        |FROM events e ASOF LEFT JOIN ord o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin),
    Gate("q_asof_tolerance", (s, d) => {
      // as-of with a 30-day match-age bound (merge_asof tolerance): stale
      // matches null out instead of carrying arbitrarily far forward
      import org.apache.spark.sql.functions.{max => maxf}
      val ev = readEventsNanos(s, d).select(
        col("event_id"),
        timestamp_micros(expr("ts DIV 1000")).as("ets"),
        col("user_id"))
      val ord = s.table("orders")
        .groupBy(col("o_custkey"), col("o_orderdate").cast("timestamp").as("odate"))
        .agg(maxf(col("o_orderkey")).as("o_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
      operators.AsofJoin.asofJoin(ev, ord, "user_id", "o_custkey", "ets", "odate",
          tolerance = Some(30L * 86400 * 1000000L))
        .select(col("event_id"), unix_micros(col("ets")).as("ts_us"), col("user_id"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("event_id"))
    },
      """WITH ord AS (
        |  SELECT o_custkey, o_orderdate,
        |    max(o_orderkey) AS o_orderkey,
        |    max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY o_custkey, o_orderdate
        |)
        |SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id,
        |  CASE WHEN epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) <= 2592000000000
        |       THEN o.o_orderkey END AS o_orderkey,
        |  CASE WHEN epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) <= 2592000000000
        |       THEN o.o_totalprice END AS o_totalprice
        |FROM events e ASOF LEFT JOIN ord o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin),
    // Skew mitigation (operators/Skew.scala), oracle-gated for result
    // equality with the unsalted plans. Sums are over integer-valued
    // doubles (exact under any fold order), so the salted re-association
    // cannot drift from the oracle. l_returnflag has only 3 values — at
    // 100 TB each would be one straggler reducer without the salt stage.
    Gate("q_skew_agg", (s, d) => {
      operators.Skew.twoStageAgg(s.table("lineitem"), Seq("l_returnflag"),
          saltSource = "l_orderkey",
          aggs = Seq(("l_quantity", "sum"), ("l_quantity", "count"),
            ("l_extendedprice", "min"), ("l_extendedprice", "max")))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        |  sum(l_quantity) AS sum_l_quantity,
        |  count(l_quantity) AS count_l_quantity,
        |  min(l_extendedprice) AS min_l_extendedprice,
        |  max(l_extendedprice) AS max_l_extendedprice
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Gate("q_skew_join", (s, d) => {
      val probe = s.table("lineitem")
        .select(col("l_orderkey").as("okey"), col("l_quantity"))
      val build = s.table("orders")
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      operators.Skew.saltedJoin(probe, build, Seq("okey"), saltSource = "okey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    // Bucketed-table co-located join (sources/Bucketed.scala): both sides
    // pay their shuffle at WRITE time; the readback join plans no Exchange
    // (asserted in BucketedSpec) — the layout strategy for repeated
    // fact-to-fact joins at 100 TB. The gate checks result equality.
    Gate("q_bucketed_join", (s, d) => {
      import org.apache.spark.sql.functions.{min => minf, max => maxf}
      val orders = s.table("orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val customer = s.table("customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      sources.Bucketed.writeBucketed(orders, "g_orders_bkt", "custkey", 8,
        "/tmp/graft_bucketed_gate/orders")
      sources.Bucketed.writeBucketed(customer, "g_customer_bkt", "custkey", 8,
        "/tmp/graft_bucketed_gate/customer")
      sources.Bucketed.cobucketedJoin(s, "g_orders_bkt", "g_customer_bkt", "custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          minf(col("o_totalprice")).as("min_price"),
          maxf(col("o_totalprice")).as("max_price"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS cnt,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // generator surface: posexplode with stable position semantics (the
    // LATERAL-VIEW shape; DuckDB replays via generate_subscripts − 1)
    Gate("q_posexplode", (s, d) => s.sql(
      """SELECT doc_id, pos, token FROM (
        |  SELECT doc_id, posexplode(filter(split(lower(text), '[^a-z0-9]+'),
        |    w -> w != '')) AS (pos, token)
        |  FROM documents WHERE doc_id < 20) t
        |ORDER BY doc_id, pos""".stripMargin),
      """SELECT doc_id, CAST(pos - 1 AS INT) AS pos, token FROM (
        |  SELECT doc_id, unnest(toks) AS token,
        |    generate_subscripts(toks, 1) AS pos
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '') AS toks
        |        FROM documents WHERE doc_id < 20))
        |ORDER BY doc_id, pos""".stripMargin),
    // scalar string-function battery over one projection (concat_ws,
    // pad/trim, translate, levenshtein, substring arithmetic)
    Gate("q_string_funcs", (s, d) => s.sql(
      """SELECT c_custkey,
        |  concat_ws('|', c_mktsegment, c_name) AS tagged,
        |  lpad(CAST(c_custkey AS STRING), 8, '0') AS padded,
        |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS xlat,
        |  levenshtein(c_mktsegment, 'BUILDING') AS lev,
        |  substring(c_name, 1, 8) AS prefix8,
        |  length(c_name) AS name_len
        |FROM customer WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin),
      """SELECT c_custkey,
        |  concat_ws('|', c_mktsegment, c_name) AS tagged,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS xlat,
        |  CAST(levenshtein(c_mktsegment, 'BUILDING') AS INT) AS lev,
        |  substring(c_name, 1, 8) AS prefix8,
        |  CAST(length(c_name) AS INT) AS name_len
        |FROM customer WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin),
    Gate("q_cube", (s, d) => s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status,
        |  coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""".stripMargin),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status,
        |  coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""".stripMargin),
    Gate("q_snapshot_diff", (s, d) => {
      // version diff: the new snapshot drops keys ≡7 (mod 1000), bumps the
      // price on keys ≡3, and gains shifted copies of keys ≡5 — the diff
      // must classify exactly those as removed/changed/added
      val ord = s.table("orders")
      val newDf = ord.filter(col("o_orderkey") % 1000 =!= 7)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 1000 === 3, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(ord.filter(col("o_orderkey") % 1000 === 5)
          .withColumn("o_orderkey", col("o_orderkey") + 2000000000L))
      operators.ChangeCapture.snapshotDiff(ord, newDf, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("change_type"))
    },
      // Expected diff outcome stated directly: the modular key classes the
      // gate's synthetic refresh touches, with their change types
      """SELECT o_orderkey, 'changed' AS change_type
        |FROM orders WHERE o_orderkey % 1000 = 3
        |UNION ALL
        |SELECT o_orderkey, 'removed' AS change_type
        |FROM orders WHERE o_orderkey % 1000 = 7
        |UNION ALL
        |SELECT o_orderkey + 2000000000 AS o_orderkey, 'added' AS change_type
        |FROM orders WHERE o_orderkey % 1000 = 5
        |ORDER BY o_orderkey, change_type""".stripMargin),
    Gate("q_upsert", (s, d) => {
      // CDC merge: whole-row updates on keys ≡11 (mod 100), inserts with
      // shifted keys for ≡22 — unmatched base rows pass through untouched
      val ord = s.table("orders")
      val mods = ord.filter(col("o_orderkey") % 100 === 11)
        .withColumn("o_orderpriority", lit("UPSERTED"))
      val ins = ord.filter(col("o_orderkey") % 100 === 22)
        .withColumn("o_orderkey", col("o_orderkey") + 3000000000L)
        .withColumn("o_orderstatus", lit("N"))
      operators.ChangeCapture.applyUpserts(ord, mods.unionByName(ins),
          Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
      // Expected merge outcome: matched keys take the update's values,
      // unmatched pass through, shifted keys insert
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |  CASE WHEN o_orderkey % 100 = 11 THEN 'UPSERTED'
        |       ELSE o_orderpriority END AS o_orderpriority
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 3000000000, o_custkey, 'N', o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 100 = 22
        |ORDER BY o_orderkey""".stripMargin),
    Gate("q_zorder", (s, d) => {
      // write-layout clustering key: 12-bit Z-order interleave of
      // (l_partkey, l_suppkey) — the key ORDER is the gate (rows sort by
      // it), so min-max pruning behavior is pinned, not just the values
      s.table("lineitem").select(col("l_orderkey"), col("l_linenumber"),
          operators.Layout.zOrderKey(Seq(
            pmod(col("l_partkey"), lit(4096L)),
            pmod(col("l_suppkey"), lit(4096L))), bits = 12).as("zkey"))
        .orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Layout.zOrderKey bit-for-bit: the same shift/mask/or tree
      // rendered by zOrderKeySql (exact integer arithmetic in both engines).
      s"""SELECT l_orderkey, l_linenumber,
         |  ${operators.Layout.zOrderKeySql(
               Seq("l_partkey % 4096", "l_suppkey % 4096"), bits = 12)} AS zkey
         |FROM lineitem
         |ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin),
    Gate("q_unpivot", (s, d) => s.sql(
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    stack(3, 'quantity', l_quantity,
        |             'extendedprice', l_extendedprice,
        |             'discount', l_discount) AS (metric, value)
        |  FROM lineitem WHERE l_orderkey < 1000) t
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),
      """SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value
        |FROM lineitem WHERE l_orderkey < 1000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
        |FROM lineitem WHERE l_orderkey < 1000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'discount', l_discount
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),
    Gate("q_exists", (s, d) => s.sql(
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  )
}
