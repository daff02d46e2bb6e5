package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.GQ
import graft.core.Tables

/** Relational batch surface over the TPC-H-ish synthetic tables
  * (FIXTURES.md §B). Maps the reference's result-shaping operator
  * inventory (SURVEY.md §2.2–2.8: projection/cast, equality + theta
  * predicates, equi joins, aggregation, order-by/limit) onto Spark
  * built-ins, plus the operator families the reference lacks but the
  * north-star mandates (§2.3/§2.4 "absent" notes: semi/anti/outer joins,
  * distinct agg, rollup/cube, window functions, set ops, scalar
  * string/date/math/json functions).
  *
  * Scale notes (100 TB thinking):
  *  - every aggregate is a `groupBy` → Spark plans partial (map-side)
  *    aggregation automatically; no driver-side collection anywhere.
  *  - dimension joins (region/nation/customer/supplier) are broadcast —
  *    dims stay small at any SF; fact-fact joins (orders⋈lineitem) shuffle
  *    on the join key, which AQE re-splits on skew.
  *  - floating-point outputs are rounded to 4 decimals IN BOTH ENGINES so
  *    summation-order noise (~1e-9 relative) can't flip a hash compare;
  *    4 dp keeps money sums (multiples of 1e-4) away from rounding
  *    boundaries (offsets of 5e-5).
  */
object Relational {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** DuckDB replay of operators.CountMin over the documents table —
    * hash rows via positional md5 hex-digit parsing (the SimOracle /
    * ClassifierOracle idiom), sketch cells as exact integer counts,
    * estimates as min over the probed cells. Shared verbatim by
    * q53_heavy_hitters (batch) and stream_heavy_hitters (the streamed
    * sketch) — one oracle pins batch ≡ streamed ≡ SQL, so the two
    * driver rows cannot drift.
    */
  private[queries] object CmsOracle {
    val sql: String =
      """WITH hx(i, p) AS (SELECT * FROM (VALUES (1, 256), (2, 16),
        |    (3, 1)) v(i, p)),
        |hd(j) AS (SELECT * FROM (VALUES (0), (1), (2), (3)) v(j)),
        |ht AS MATERIALIZED (
        |  SELECT tok FROM (SELECT unnest(regexp_split_to_array(
        |      lower(trim(text)), '\s+')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |hsk AS MATERIALIZED (
        |  SELECT j, bucket, count(*) AS cnt FROM (
        |    SELECT d.j,
        |      CAST((SELECT sum((strpos('0123456789abcdef',
        |          substr(md5(CAST(d.j AS VARCHAR) || ':' || t.tok),
        |            x.i, 1)) - 1) * x.p) FROM hx x) % 1024 AS INT)
        |        AS bucket
        |    FROM ht t CROSS JOIN hd d)
        |  GROUP BY 1, 2),
        |htop AS MATERIALIZED (
        |  SELECT tok, count(*) AS n_exact FROM ht GROUP BY 1
        |  ORDER BY n_exact DESC, tok ASC LIMIT 20),
        |hprobe AS (
        |  SELECT t.tok, t.n_exact, d.j,
        |    CAST((SELECT sum((strpos('0123456789abcdef',
        |        substr(md5(CAST(d.j AS VARCHAR) || ':' || t.tok),
        |          x.i, 1)) - 1) * x.p) FROM hx x) % 1024 AS INT)
        |      AS bucket
        |  FROM htop t CROSS JOIN hd d)
        |SELECT p.tok, CAST(p.n_exact AS BIGINT) AS n_exact,
        |  CAST(min(s.cnt) AS BIGINT) AS n_est
        |FROM hprobe p
        |JOIN hsk s ON s.j = p.j AND s.bucket = p.bucket
        |GROUP BY 1, 2""".stripMargin
  }

  // ---- sink-contract helpers (q48a/q48b/q49–q52) ---------------------
  // Integer cents from the price double via decimal(15,2): the source
  // prices are exact 2-decimal values (verified over sf0.01/sf0.1), so
  // the decimal cast recovers cents bit-exactly in BOTH engines — no
  // float survives anywhere in the sink contracts. Every oracle sum
  // carries an OUTER CAST(... AS BIGINT): a bare sum(BIGINT) is HUGEINT
  // in DuckDB, which pandas surfaces as float64, and the driver then
  // hashes "x.0" against Spark's integer — the exact one-cell divergence
  // that kept q48_sink_roundtrip red in r9/r11 while rows/schema (and
  // the float-tolerant local mimic) passed.
  private val centsCol =
    (col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
  private val CentsSql =
    "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"

  private def withScratch[A](prefix: String)(body: String => A): A =
    graft.core.Scratch.withScratch(prefix)(body)
  private def localResult(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    graft.core.Scratch.localResult(s, schema, rows)

  val queries: Seq[GQ] = Seq(

    // ---- A1/A2/A5 + P-filters: TPC-H Q1-style pricing summary --------
    GQ("q1_pricing_summary",
      (s, dir) => {
        t(s, dir).lineitem
          .filter(col("l_shipdate") <= lit("2001-09-01"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 4).as("sum_qty"),
            round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
              .as("sum_disc_price"),
            round(avg(col("l_quantity")), 4).as("avg_qty"),
            round(avg(col("l_discount")), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |round(sum(l_quantity), 4) AS sum_qty,
             |round(sum(l_extendedprice), 4) AS sum_base_price,
             |round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
             |round(avg(l_quantity), 4) AS avg_qty,
             |round(avg(l_discount), 4) AS avg_disc,
             |count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- P1/P2/P3: projection + predicate, pushed to the parquet scan -
    GQ("q2_filter_project",
      (s, dir) => {
        t(s, dir).lineitem
          .filter(col("l_returnflag") === "R" &&
            col("l_quantity").between(10, 20) &&
            col("l_shipdate") >= lit("2000-01-01"))
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"),
            round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("net_price"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |round(l_extendedprice * (1 - l_discount), 4) AS net_price
             |FROM lineitem
             |WHERE l_returnflag = 'R' AND l_quantity BETWEEN 10 AND 20
             |AND l_shipdate >= TIMESTAMP '2000-01-01'""".stripMargin)),

    // ---- J1 + O1/O2: 3-way join, agg, top-k (TPC-H Q3 shape) ----------
    GQ("q3_top_unshipped_orders",
      (s, dir) => {
        val tb = t(s, dir)
        val cust = tb.customer.filter(col("c_mktsegment") === "BUILDING")
        tb.lineitem
          .filter(col("l_shipdate") > lit("1998-01-01"))
          .join(tb.orders.filter(col("o_orderdate") < lit("1998-01-01")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |AND l_shipdate > TIMESTAMP '1998-01-01'
             |AND o_orderdate < TIMESTAMP '1998-01-01'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin)),

    // ---- semi join (EXISTS): TPC-H Q4 shape ---------------------------
    GQ("q4_order_priority",
      (s, dir) => {
        val tb = t(s, dir)
        tb.orders
          .filter(col("o_orderdate") >= lit("1997-01-01") &&
            col("o_orderdate") < lit("1998-01-01"))
          .join(tb.lineitem.filter(col("l_shipdate") > lit("1997-01-01")),
            col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             |AND o_orderdate < TIMESTAMP '1998-01-01'
             |AND EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey
             |  AND l_shipdate > TIMESTAMP '1997-01-01')
             |GROUP BY o_orderpriority""".stripMargin)),

    // ---- 4-way star join + agg: revenue per nation (TPC-H Q5 shape) ---
    GQ("q5_revenue_by_nation",
      (s, dir) => {
        val tb = t(s, dir)
        tb.lineitem
          .join(tb.orders, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(tb.customer), col("o_custkey") === col("c_custkey"))
          .join(broadcast(tb.nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(tb.region), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT r_name, n_name,
             |round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
             |count(*) AS n_lines
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin)),

    // ---- global (group-less) aggregate: TPC-H Q6 shape ----------------
    GQ("q6_forecast_revenue",
      (s, dir) => {
        t(s, dir).lineitem
          .filter(col("l_shipdate") >= lit("1997-01-01") &&
            col("l_shipdate") < lit("1998-01-01") &&
            col("l_discount").between(0.03, 0.07) &&
            col("l_quantity") < 24)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
            .as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
             |count(*) AS n_lines
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |AND l_shipdate < TIMESTAMP '1998-01-01'
             |AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // ---- anti join (NOT EXISTS) ---------------------------------------
    GQ("q7_customers_without_big_orders",
      (s, dir) => {
        val tb = t(s, dir)
        tb.customer
          .join(tb.orders.filter(col("o_totalprice") > 300000),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)),

    // ---- left outer join + agg over nullable side ---------------------
    // Aggregate the fact side BEFORE the outer join: shuffles lineitem
    // once on its own key instead of join-then-agg (which would shuffle
    // the joined fact a second time) — the scalable shape for fact-fact.
    GQ("q8_order_line_counts",
      (s, dir) => {
        val tb = t(s, dir)
        val perOrder = tb.lineitem
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("qty"))
        tb.orders
          .join(perOrder, col("o_orderkey") === col("l_orderkey"),
            "left_outer")
          .select(col("o_orderkey"),
            coalesce(col("cnt"), lit(0L)).as("line_cnt"),
            round(coalesce(col("qty"), lit(0.0)), 4).as("total_qty"))
      },
      Some("""SELECT o_orderkey, count(l_orderkey) AS line_cnt,
             |round(coalesce(sum(l_quantity), 0), 4) AS total_qty
             |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY o_orderkey""".stripMargin)),

    // ---- window: ranking within partition -----------------------------
    GQ("q9_top3_orders_per_customer",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir).orders
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |  CAST(row_number() OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin)),

    // ---- window: running total (deterministic frame order) ------------
    GQ("q10_running_customer_spend",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir).orders
          .select(col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice")).over(w), 4).as("running_spend"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |  ORDER BY o_orderdate ASC, o_orderkey ASC
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             |  AS running_spend
             |FROM orders""".stripMargin)),

    // ---- set ops: UNION / EXCEPT (distinct semantics) -----------------
    GQ("q11_setops",
      (s, dir) => {
        val tb = t(s, dir)
        val rich = tb.customer.filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("custkey"))
        val building = tb.customer.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("custkey"))
        val bigSpenders = tb.orders.filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("custkey"))
        rich.union(building).distinct()
          .except(bigSpenders.distinct())
      },
      Some("""(SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
             | UNION
             | SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
             |EXCEPT
             |SELECT DISTINCT o_custkey AS custkey FROM orders
             |WHERE o_totalprice > 300000""".stripMargin)),

    // ---- rollup -------------------------------------------------------
    GQ("q12_rollup",
      (s, dir) => {
        t(s, dir).orders
          .rollup(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 4).as("total_price"))
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
             |round(sum(o_totalprice), 4) AS total_price
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin)),

    // ---- cube ---------------------------------------------------------
    GQ("q13_cube",
      (s, dir) => {
        t(s, dir).lineitem
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n_lines"),
            round(sum(col("l_quantity")), 4).as("sum_qty"))
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
             |round(sum(l_quantity), 4) AS sum_qty
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    // ---- distinct aggregation ----------------------------------------
    GQ("q14_distinct_agg",
      (s, dir) => {
        t(s, dir).lineitem
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             |count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_lines
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- scalar string functions -------------------------------------
    GQ("q15_string_funcs",
      (s, dir) => {
        t(s, dir).customer
          .select(col("c_custkey"),
            upper(col("c_name")).as("name_upper"),
            lower(col("c_mktsegment")).as("seg_lower"),
            substring(col("c_name"), 1, 8).as("name_prefix"),
            length(col("c_name")).as("name_len"),
            concat(col("c_mktsegment"), lit("#"), col("c_name")).as("tagged"),
            regexp_replace(col("c_name"), "[0-9]", "").as("name_alpha"))
      },
      Some("""SELECT c_custkey, upper(c_name) AS name_upper,
             |lower(c_mktsegment) AS seg_lower,
             |substring(c_name, 1, 8) AS name_prefix,
             |CAST(length(c_name) AS INT) AS name_len,
             |concat(c_mktsegment, '#', c_name) AS tagged,
             |regexp_replace(c_name, '[0-9]', '', 'g') AS name_alpha
             |FROM customer""".stripMargin)),

    // ---- scalar date functions ---------------------------------------
    GQ("q16_date_funcs",
      (s, dir) => {
        t(s, dir).orders
          .select(col("o_orderkey"),
            year(col("o_orderdate")).as("o_year"),
            month(col("o_orderdate")).as("o_month"),
            dayofmonth(col("o_orderdate")).as("o_day"),
            quarter(col("o_orderdate")).as("o_quarter"),
            date_trunc("month", col("o_orderdate")).as("month_start"))
      },
      Some("""SELECT o_orderkey,
             |CAST(year(o_orderdate) AS INT) AS o_year,
             |CAST(month(o_orderdate) AS INT) AS o_month,
             |CAST(day(o_orderdate) AS INT) AS o_day,
             |CAST(quarter(o_orderdate) AS INT) AS o_quarter,
             |date_trunc('month', o_orderdate) AS month_start
             |FROM orders""".stripMargin)),

    // ---- scalar math functions ---------------------------------------
    GQ("q17_math_funcs",
      (s, dir) => {
        t(s, dir).part
          .select(col("p_partkey"),
            round(col("p_retailprice"), 1).as("price_r1"),
            floor(col("p_retailprice")).as("price_floor"),
            ceil(col("p_retailprice")).as("price_ceil"),
            round(sqrt(col("p_retailprice")), 6).as("price_sqrt"),
            round(log(col("p_retailprice") + 1), 6).as("price_ln"),
            abs(col("p_size") - 25).as("size_dev"),
            pmod(col("p_partkey"), lit(7)).as("pk_mod7"))
      },
      Some("""SELECT p_partkey, round(p_retailprice, 1) AS price_r1,
             |CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
             |CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
             |round(sqrt(p_retailprice), 6) AS price_sqrt,
             |round(ln(p_retailprice + 1), 6) AS price_ln,
             |abs(p_size - 25) AS size_dev,
             |p_partkey % 7 AS pk_mod7
             |FROM part""".stripMargin)),

    // ---- conditional expressions (CASE WHEN) -------------------------
    GQ("q18_case_when",
      (s, dir) => {
        t(s, dir).customer
          .select(col("c_custkey"),
            when(col("c_acctbal") < 0, "overdrawn")
              .when(col("c_acctbal") < 3000, "low")
              .when(col("c_acctbal") < 7000, "mid")
              .otherwise("high").as("balance_tier"))
          .groupBy(col("balance_tier"))
          .agg(count(lit(1)).as("n_customers"))
      },
      Some("""SELECT CASE WHEN c_acctbal < 0 THEN 'overdrawn'
             |WHEN c_acctbal < 3000 THEN 'low'
             |WHEN c_acctbal < 7000 THEN 'mid'
             |ELSE 'high' END AS balance_tier, count(*) AS n_customers
             |FROM customer GROUP BY 1""".stripMargin)),

    // ---- time-bucketed (tumbling-window) event aggregation -----------
    GQ("q19_events_hourly",
      (s, dir) => {
        t(s, dir).events
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 4).as("total_value"))
          .select(col("w.start").as("w_start"), col("event_type"),
            col("n_events"), col("total_value"))
      },
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
             |count(*) AS n_events, round(sum(value), 4) AS total_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- JSON extraction ---------------------------------------------
    GQ("q20_json_extract",
      (s, dir) => {
        t(s, dir).events
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").cast("int").as("prop_k"))
      },
      Some("""SELECT event_id,
             |CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
             |FROM events""".stripMargin)),

    // ---- global top-k (TakeOrderedAndProject) -------------------------
    GQ("q21_topk_orders",
      (s, dir) => {
        t(s, dir).orders
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .limit(15)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15""".stripMargin)),

    // ---- grouping sets ------------------------------------------------
    GQ("q22_grouping_sets",
      (s, dir) => {
        val tb = t(s, dir)
        tb.orders.createOrReplaceTempView("graft_orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |count(*) AS n_orders,
                |round(sum(o_totalprice), 4) AS total_price
                |FROM graft_orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
                |""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
             |round(sum(o_totalprice), 4) AS total_price
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)),

    // ---- correlated scalar-subquery shape: above-average filter -------
    GQ("q23_above_avg_lines",
      (s, dir) => {
        val tb = t(s, dir)
        val partAvg = tb.lineitem.groupBy(col("l_partkey").as("ap_partkey"))
          .agg(avg(col("l_quantity")).as("avg_qty"))
        tb.lineitem
          .join(broadcast(partAvg), col("l_partkey") === col("ap_partkey"))
          .filter(col("l_quantity") > col("avg_qty") * 1.5)
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n_above"))
      },
      Some("""SELECT l_partkey, count(*) AS n_above
             |FROM lineitem l
             |WHERE l_quantity > 1.5 * (SELECT avg(l_quantity) FROM lineitem
             |  WHERE l_partkey = l.l_partkey)
             |GROUP BY l_partkey""".stripMargin)),

    // ---- A3/O3/F2/A4: collect + slice + transform + reduce ------------
    // (the reference's collect(...)[a..b] + reduce(acc+x) shapes,
    // neo4j-code.txt:54/:145, on the relational surface)
    GQ("q25_array_funcs",
      (s, dir) => {
        t(s, dir).orders
          .groupBy(col("o_custkey"))
          .agg(array_sort(collect_list(struct(col("o_orderdate"),
            col("o_orderkey"), col("o_totalprice")))).as("arr"))
          .select(col("o_custkey"),
            size(col("arr")).as("n_orders"),
            round(aggregate(
              transform(slice(col("arr"), 1, 5), x => x.getField("o_totalprice")),
              lit(0.0d), (acc, x) => acc + x), 4).as("sum_first5"))
      },
      Some("""WITH l AS (SELECT o_custkey,
             |  list(o_totalprice ORDER BY o_orderdate, o_orderkey) AS arr
             |  FROM orders GROUP BY 1)
             |SELECT o_custkey, CAST(len(arr) AS INT) AS n_orders,
             |round(coalesce(list_sum(list_slice(arr, 1, 5)), 0), 4) AS sum_first5
             |FROM l""".stripMargin)),

    // ---- set ops: UNION ALL / INTERSECT -------------------------------
    GQ("q26_union_all_intersect",
      (s, dir) => {
        val tb = t(s, dir)
        val a = tb.customer.filter(col("c_acctbal") > 7000)
          .select(col("c_custkey").as("custkey"))
        val b = tb.customer.filter(col("c_mktsegment") === "MACHINERY")
          .select(col("c_custkey").as("custkey"))
        a.unionAll(b).groupBy(col("custkey"))
          .agg(count(lit(1)).as("n_appearances"))
          .join(a.intersect(b).withColumn("in_both", lit(1)),
            Seq("custkey"), "left_outer")
          .select(col("custkey"), col("n_appearances"),
            coalesce(col("in_both"), lit(0)).as("in_both"))
      },
      Some("""WITH u AS (
             |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 7000
             |  UNION ALL
             |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'),
             |i AS (
             |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 7000
             |  INTERSECT
             |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
             |SELECT u.custkey, count(*) AS n_appearances,
             |  CASE WHEN max(i.custkey) IS NULL THEN 0 ELSE 1 END AS in_both
             |FROM u LEFT JOIN i ON u.custkey = i.custkey
             |GROUP BY u.custkey""".stripMargin)),

    // ---- date arithmetic ----------------------------------------------
    GQ("q27_date_arith",
      (s, dir) => {
        t(s, dir).orders
          .select(col("o_orderkey"),
            date_add(col("o_orderdate"), 30).as("due_date"),
            last_day(col("o_orderdate")).as("month_end"),
            // fixed anchor date, not current_date(): the oracle runs at a
            // different wall time and a midnight boundary would flake
            datediff(lit("2026-01-01"), col("o_orderdate")).as("age_days"),
            dayofweek(col("o_orderdate")).as("dow"))
          .filter(col("o_orderkey") < 500)
      },
      Some("""SELECT o_orderkey,
             |CAST(o_orderdate AS DATE) + 30 AS due_date,
             |last_day(CAST(o_orderdate AS DATE)) AS month_end,
             |CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS INT)
             |  AS age_days,
             |CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
             |FROM orders WHERE o_orderkey < 500""".stripMargin)),

    // ---- statistical aggregates ---------------------------------------
    GQ("q28_stats_agg",
      (s, dir) => {
        t(s, dir).lineitem
          .groupBy(col("l_returnflag"))
          .agg(
            round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
            round(var_samp(col("l_quantity")), 4).as("var_qty"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 4)
              .as("corr_qty_price"),
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
            round(skewness(col("l_discount")), 4).as("skew_disc"))
      },
      Some("""SELECT l_returnflag,
             |round(stddev_samp(l_quantity), 4) AS sd_qty,
             |round(var_samp(l_quantity), 4) AS var_qty,
             |round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
             |round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
             |round(skewness(l_discount) * (count(*) - 2)
             |  / sqrt(count(*) * (count(*) - 1.0)), 4) AS skew_disc
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- pivot (conditional aggregation) ------------------------------
    GQ("q29_pivot",
      (s, dir) => {
        t(s, dir).lineitem
          .groupBy(col("l_linestatus"))
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(round(sum(col("l_quantity")), 4))
          .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n",
            "R" -> "qty_r"))
      },
      Some("""SELECT l_linestatus,
             |round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 4) AS qty_a,
             |round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 4) AS qty_n,
             |round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 4) AS qty_r
             |FROM lineitem GROUP BY l_linestatus""".stripMargin)),

    // ---- analytic window functions: lag/lead/ntile/percent_rank -------
    GQ("q33_window_analytics",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        t(s, dir).orders
          .select(col("o_custkey"), col("o_orderkey"),
            round(lag(col("o_totalprice"), 1).over(w), 4).as("prev_price"),
            round(lead(col("o_totalprice"), 1).over(w), 4).as("next_price"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |round(lag(o_totalprice, 1) OVER w, 4) AS prev_price,
             |round(lead(o_totalprice, 1) OVER w, 4) AS next_price,
             |CAST(ntile(4) OVER w AS INT) AS quartile,
             |round(percent_rank() OVER w, 6) AS pct_rank
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin)),

    // ---- regexp extraction + token splitting --------------------------
    GQ("q32_regexp_extract",
      (s, dir) => {
        t(s, dir).part
          .select(col("p_partkey"),
            regexp_extract(col("p_name"), "^(\\w+)\\s", 1).as("p_adjective"),
            split_part(col("p_name"), lit(" "), lit(2)).as("p_noun"),
            regexp_extract(col("p_brand"), "#(\\d+)$", 1).cast("int")
              .as("brand_num"),
            (regexp_count(col("p_type"), lit("a"))).cast("int").as("n_a"))
      },
      Some("""SELECT p_partkey,
             |regexp_extract(p_name, '^(\w+)\s', 1) AS p_adjective,
             |split_part(p_name, ' ', 2) AS p_noun,
             |CAST(regexp_extract(p_brand, '#(\d+)$', 1) AS INT) AS brand_num,
             |CAST(len(regexp_extract_all(p_type, 'a')) AS INT) AS n_a
             |FROM part""".stripMargin)),

    // ---- approximate distinct: KMV bottom-k over md5 ------------------
    // Engine-portable estimator (same md5 trick as the MinHash family):
    // the k smallest distinct hash values determine D ≈ (k-1)/U(k), and
    // DuckDB reproduces the identical doubles by sorting the same md5
    // strings — so unlike an HLL sketch this approximate count carries a
    // full hash oracle. The HLL form (approx_count_distinct) stays the
    // engine-native alternative, error-bounded in AccuracySpec.
    // U(k) parses the first 13 hex chars (52 bits — exact in a double)
    // positionally; 16^13 = 4503599627370496.
    GQ("q31_approx_distinct",
      (s, dir) => {
        val k = 256
        val bottomK = udaf(new graft.functions.BottomKDistinct(k))
        val kth = element_at(col("bk"), k)
        val uK = conv(substring(kth, 1, 13), 16, 10).cast("long")
          .cast("double") / lit(4503599627370496.0)
        // distinct FIRST (codegen'd hash aggregate with map-side partial
        // dedup), then the bounded bottom-k merge over distinct hashes
        // only: the object-agg UDAF sees |distinct| rows instead of the
        // full fact table (10× fewer at sf1 — measured 22.9 → ~4 s), and
        // the exact count rides the same distinct set, so the Expand a
        // countDistinct leg would force disappears. md5 injectivity on
        // the key is already the estimator's (and the oracle's) premise.
        t(s, dir).lineitem
          .select(col("l_returnflag"),
            md5(col("l_partkey").cast("string")).as("hx"))
          .distinct()
          .groupBy(col("l_returnflag"))
          .agg(bottomK(col("hx")).as("bk"),
            count(lit(1)).as("exact_parts"))
          .select(col("l_returnflag"),
            graft.llm.TextAnalysis.portableRound(
              when(size(col("bk")) < k, size(col("bk")).cast("double"))
                .otherwise(lit((k - 1).toDouble) / uK), 4).as("kmv_parts"),
            col("exact_parts"))
      },
      Some("""WITH h AS (
             |  SELECT DISTINCT l_returnflag,
             |         md5(CAST(l_partkey AS VARCHAR)) AS hx
             |  FROM lineitem),
             |b AS (
             |  SELECT l_returnflag, list_sort(list(hx)) AS hs,
             |         count(*) AS n
             |  FROM h GROUP BY 1),
             |e AS (
             |  SELECT l_returnflag, n,
             |    CASE WHEN n >= 256 THEN hs[256] END AS kth
             |  FROM b)
             |SELECT l_returnflag,
             |  floor(CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
             |        ELSE 255.0 / (
             |          (SELECT sum((strpos('0123456789abcdef',
             |                              substr(e.kth, p.i, 1)) - 1)
             |                      * power(16, 13 - p.i))
             |           FROM range(1, 14) p(i)) / 4503599627370496.0)
             |        END * 10000 + 0.5) / 10000 AS kmv_parts,
             |  n AS exact_parts
             |FROM e""".stripMargin)),

    // ---- sliding windows in batch (1h window / 15m slide) -------------
    GQ("q30_sliding_windows",
      (s, dir) => {
        t(s, dir).events
          .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 4).as("total_value"))
          .select(col("w.start").as("w_start"), col("n_events"),
            col("total_value"))
      },
      Some("""SELECT time_bucket(INTERVAL '15 minutes', ts)
             |    - (k.k * INTERVAL '15 minutes') AS w_start,
             |  count(*) AS n_events, round(sum(value), 4) AS total_value
             |FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS k) k
             |GROUP BY 1""".stripMargin)),

    // ---- as-of join (operators.AsOfJoin): every purchase gets the most
    // recent prior click of the same user — union + one window pass, one
    // shuffle; oracled against DuckDB's native ASOF LEFT JOIN
    GQ("q34_asof_join",
      (s, dir) => {
        val ev = t(s, dir).events
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        // no-match rows keep explicit sentinels: a null timestamp's
        // engine-side encodings (NaT vs NULL) can't be hash-compared
        graft.operators.AsOfJoin.backward(purchases, clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightCols = Seq("event_id"))
          .select(col("event_id"), col("user_id"), col("ts"),
            coalesce(col("asof_ts"), lit("1970-01-01").cast("timestamp"))
              .as("asof_ts"),
            coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"))
      },
      Some("""SELECT p.event_id, p.user_id, p.ts,
             |  coalesce(c.ts, TIMESTAMP '1970-01-01') AS asof_ts,
             |  coalesce(c.event_id, -1) AS asof_event_id
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin)),

    // ---- range/interval join (operators.RangeJoin): per error event,
    // count + sum same-user events in the preceding 5 minutes — binned
    // interval join (equi-join on time bucket + exact re-filter), never
    // a nested-loop; oracled against DuckDB's inequality join
    GQ("q35_range_join",
      (s, dir) => {
        val ev = t(s, dir).events
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("e_id"), col("user_id"),
            expr("ts - INTERVAL 5 MINUTE").as("lo"), col("ts").as("hi"))
        val all = ev.select(col("user_id"), col("ts").as("r_ts"),
          col("event_id").as("r_id"), col("value").as("r_value"))
        val pairs = graft.operators.RangeJoin.intervalJoin(
            errors, all, keys = Seq("user_id"),
            leftLo = "lo", leftHi = "hi", rightTs = "r_ts",
            bucketSeconds = 300)
          .filter(col("r_id") =!= col("e_id"))
        val agg = pairs.groupBy(col("e_id"))
          .agg(count(lit(1)).as("n_prior"),
            round(sum(col("r_value")), 4).as("sum_value"))
        errors.select(col("e_id"), col("user_id"))
          .join(agg, Seq("e_id"), "left_outer")
          .select(col("e_id").as("event_id"), col("user_id"),
            coalesce(col("n_prior"), lit(0L)).as("n_prior"),
            coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      },
      Some("""SELECT e.event_id, e.user_id,
             |  count(r.event_id) AS n_prior,
             |  round(coalesce(sum(r.value), 0), 4) AS sum_value
             |FROM (SELECT * FROM events WHERE event_type = 'error') e
             |LEFT JOIN events r
             |  ON r.user_id = e.user_id
             |  AND r.ts >= e.ts - INTERVAL 5 MINUTE
             |  AND r.ts <= e.ts
             |  AND r.event_id <> e.event_id
             |GROUP BY 1, 2""".stripMargin)),

    // ---- exact percentiles (linear interpolation — quantile_cont) -----
    // Exact percentiles via distributed selection
    // (operators.DistributedPercentile), NOT the built-in percentile()
    // aggregate: the built-in's buffer holds every value of the group,
    // which is the canonical executor OOM at 100 TB. Values are
    // bit-identical (same weighted interpolation, pinned in
    // OperatorsSpec) and both columns here are NOT NULL, so the oracle
    // is unchanged; one exactMulti call = one lineitem scan.
    GQ("q36_percentiles",
      (s, dir) => graft.operators.DistributedPercentile.exactMulti(
          t(s, dir).lineitem, "l_returnflag",
          Seq("l_extendedprice" -> Seq("p50" -> 0.5, "p95" -> 0.95),
            "l_quantity" -> Seq("q25_qty" -> 0.25)))
        .select(col("l_returnflag"),
          round(col("p50"), 4).as("p50"),
          round(col("p95"), 4).as("p95"),
          round(col("q25_qty"), 4).as("q25_qty")),
      Some("""SELECT l_returnflag,
             |round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
             |round(quantile_cont(l_quantity, 0.25), 4) AS q25_qty
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // ---- exact percentiles over a COMPOUND group key ------------------
    // exactKeys packs (l_returnflag, l_linestatus) into one ordered
    // struct through the range partitioning and unpacks it on output —
    // same distributed-selection machinery, multi-column key
    GQ("q38_percentiles_compound_key",
      (s, dir) => graft.operators.DistributedPercentile.exactKeys(
          t(s, dir).lineitem, Seq("l_returnflag", "l_linestatus"),
          Seq("l_extendedprice" -> Seq("p50" -> 0.5, "p90" -> 0.9),
            "l_discount" -> Seq("p50_disc" -> 0.5)))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"),
          round(col("p50_disc"), 4).as("p50_disc")),
      Some("""SELECT l_returnflag, l_linestatus,
             |round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
             |round(quantile_cont(l_discount, 0.5), 4) AS p50_disc
             |FROM lineitem GROUP BY 1, 2""".stripMargin)),

    // ---- RANGE-frame window (interval-bounded trailing aggregate) -----
    GQ("q37_range_frame_window",
      (s, dir) => t(s, dir).orders
        .select(col("o_custkey"), col("o_orderkey"),
          expr("""round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 |ORDER BY o_orderdate
                 |RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW), 4)
                 |""".stripMargin).as("trailing_90d")),
      Some("""SELECT o_custkey, o_orderkey,
             |round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |  ORDER BY o_orderdate
             |  RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW), 4)
             |  AS trailing_90d
             |FROM orders""".stripMargin)),

    // ---- full outer join with unmatched rows on BOTH sides ------------
    // odd-nation customers vs all-nation suppliers: customer-only rows
    // (odd nations without suppliers) AND supplier-only rows (even
    // nations) both appear, so null handling on each side is exercised
    GQ("q39_full_outer",
      (s, dir) => {
        val c = t(s, dir).customer.filter(col("c_nationkey") % 2 === 1)
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_cust"),
            round(sum(col("c_acctbal")), 4).as("cust_bal"))
        val su = t(s, dir).supplier
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_supp"),
            round(sum(col("s_acctbal")), 4).as("supp_bal"))
        c.join(su, c("c_nationkey") === su("s_nationkey"), "full_outer")
          .select(
            coalesce(c("c_nationkey"), su("s_nationkey")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("cust_bal"), lit(0.0)).as("cust_bal"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"),
            coalesce(col("supp_bal"), lit(0.0)).as("supp_bal"))
      },
      Some("""WITH c AS (
             |  SELECT c_nationkey, count(*) AS n_cust,
             |         round(sum(c_acctbal), 4) AS cust_bal
             |  FROM customer WHERE c_nationkey % 2 = 1 GROUP BY 1),
             |s AS (
             |  SELECT s_nationkey, count(*) AS n_supp,
             |         round(sum(s_acctbal), 4) AS supp_bal
             |  FROM supplier GROUP BY 1)
             |SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
             |       coalesce(n_cust, 0) AS n_cust,
             |       coalesce(cust_bal, 0.0) AS cust_bal,
             |       coalesce(n_supp, 0) AS n_supp,
             |       coalesce(supp_bal, 0.0) AS supp_bal
             |FROM c FULL JOIN s ON c.c_nationkey = s.s_nationkey"""
        .stripMargin)),

    // ---- unpivot / melt (wide → long) ----------------------------------
    GQ("q40_unpivot",
      (s, dir) => t(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 4).as("qty"),
          round(sum(col("l_extendedprice")), 4).as("price"),
          round(sum(col("l_discount")), 4).as("disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price"), col("disc")), "measure", "val"),
      Some("""WITH w AS (
             |  SELECT l_returnflag, round(sum(l_quantity), 4) AS qty,
             |         round(sum(l_extendedprice), 4) AS price,
             |         round(sum(l_discount), 4) AS disc
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, 'qty' AS measure, qty AS val FROM w
             |UNION ALL SELECT l_returnflag, 'price', price FROM w
             |UNION ALL SELECT l_returnflag, 'disc', disc FROM w"""
        .stripMargin)),

    // ---- map construction + size + explode to rows ---------------------
    // (map VALUES are rows after explode, so the hash compare stays
    // engine-portable — map literals themselves hash differently)
    GQ("q41_map_funcs",
      (s, dir) => t(s, dir).customer
        .select(col("c_custkey"),
          map(lit("acctbal"), round(col("c_acctbal"), 4),
            lit("keyx100"), round(col("c_custkey") / lit(100.0), 4)).as("m"))
        .select(col("c_custkey"), size(col("m")).as("n_keys"),
          explode(col("m")).as(Seq("k", "v"))),
      Some("""SELECT c_custkey, 2 AS n_keys, 'acctbal' AS k,
             |       round(c_acctbal, 4) AS v
             |FROM customer
             |UNION ALL
             |SELECT c_custkey, 2, 'keyx100', round(c_custkey / 100.0, 4)
             |FROM customer""".stripMargin)),

    // ---- posexplode (explode with ordinal position) --------------------
    GQ("q42_posexplode",
      (s, dir) => t(s, dir).part
        .select(col("p_partkey"),
          posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .select(col("p_partkey"), col("pos").cast("long").as("pos"),
          col("word")),
      Some("""SELECT p_partkey,
             |  CAST(generate_subscripts(string_split(p_name, ' '), 1) - 1
             |    AS BIGINT) AS pos,
             |  unnest(string_split(p_name, ' ')) AS word
             |FROM part""".stripMargin)),

    // ---- order-dependent fold: per-user EWMA over the event stream ----
    // EWMA is inherently sequential (ewma_t = 0.3·v_t + 0.7·ewma_{t-1}).
    // Executed as repartition(user) + sortWithinPartitions + a streaming
    // per-group fold: O(1) state per user and the sort spills to disk,
    // so one pathological hot user (bot traffic, 10⁸ events) costs disk,
    // not an aggregation buffer — unlike a collect_list formulation,
    // whose whole per-user history lands in a single in-memory array.
    // The segmented-affine alternative (EWMA composes as 0.7ⁿ·acc + b)
    // was rejected on purpose: it reassociates the arithmetic, and the
    // hash oracle needs the EXACT left-fold doubles DuckDB's list_reduce
    // produces. Sort order (ts, event_id, value) is totally determined
    // even if a (ts, event_id) pair ever duplicated — value is the final
    // tiebreak on BOTH engines, so the fold order is unique (the
    // ordering-key-uniqueness caveat is closed, not assumed).
    GQ("q43_ewma",
      (s, dir) => {
        val ev = t(s, dir).events
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
            col("event_id"), col("value"))
        graft.operators.OrderedFold
          .ewmaByKey(ev, "user_id", "tsu", "event_id", "value", alpha = 0.3)
          .select(col("user_id"), col("n_events"),
            graft.llm.TextAnalysis.portableRound(col("ewma_raw"), 6)
              .as("ewma"))
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  floor(list_reduce(list(value ORDER BY ts, event_id, value),
             |    (acc, x) -> 0.3 * x + 0.7 * acc) * 1000000 + 0.5)
             |    / 1000000 AS ewma
             |FROM events GROUP BY 1""".stripMargin)),

    // ---- fixed-width histogram + ratio-to-report window ---------------
    GQ("q44_histogram",
      (s, dir) => {
        val bucketed = t(s, dir).orders
          .select((floor(col("o_totalprice") / lit(20000.0))).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        bucketed.select(col("bucket"), col("n"),
          graft.llm.TextAnalysis.portableRound(
            col("n") / sum(col("n")).over(Window.partitionBy()), 6)
            .as("pct"))
      },
      Some(s"""WITH h AS (
             |  SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bucket,
             |         count(*) AS n
             |  FROM orders GROUP BY 1)
             |SELECT bucket, n,
             |  ${graft.llm.TextAnalysis.portableRoundSql(
                 "n / CAST(sum(n) OVER () AS DOUBLE)", 6)} AS pct
             |FROM h""".stripMargin)),

    // ---- correlated scalar subquery (Catalyst decorrelation) ----------
    // Expressed in SQL on purpose: the DataFrame API would pre-join the
    // aggregate away by hand; the SQL form exercises Catalyst's
    // RewriteCorrelatedScalarSubquery into the same join+agg plan.
    GQ("q45_correlated_subquery",
      (s, dir) => {
        t(s, dir).lineitem.createOrReplaceTempView("g_lineitem_v")
        s.sql("""SELECT l_partkey, count(*) AS n_above
                |FROM g_lineitem_v l
                |WHERE l_extendedprice > (
                |  SELECT avg(l2.l_extendedprice) FROM g_lineitem_v l2
                |  WHERE l2.l_partkey = l.l_partkey)
                |GROUP BY l_partkey""".stripMargin)
      },
      Some("""SELECT l_partkey, count(*) AS n_above
             |FROM lineitem l
             |WHERE l_extendedprice > (
             |  SELECT avg(l2.l_extendedprice) FROM lineitem l2
             |  WHERE l2.l_partkey = l.l_partkey)
             |GROUP BY l_partkey""".stripMargin)),

    // LATERAL correlated subquery (SQL-surface parity: Spark plans it as
    // a decorrelated window top-k / DomainJoin, DuckDB as a lateral
    // dependent join — same rows either way). Total order inside the
    // LATERAL (price DESC, orderkey ASC) makes the LIMIT deterministic.
    GQ("q46_lateral_topk",
      (s, dir) => {
        t(s, dir).customer.createOrReplaceTempView("g_customer_v")
        t(s, dir).orders.createOrReplaceTempView("g_orders_v")
        s.sql("""SELECT c.c_custkey, c.c_mktsegment,
                |       o.o_orderkey, o.o_totalprice
                |FROM g_customer_v c,
                |LATERAL (SELECT oo.o_orderkey, oo.o_totalprice
                |         FROM g_orders_v oo
                |         WHERE oo.o_custkey = c.c_custkey
                |         ORDER BY oo.o_totalprice DESC, oo.o_orderkey
                |         LIMIT 3) o""".stripMargin)
      },
      Some("""SELECT c.c_custkey, c.c_mktsegment,
             |       o.o_orderkey, o.o_totalprice
             |FROM customer c,
             |LATERAL (SELECT oo.o_orderkey, oo.o_totalprice
             |         FROM orders oo
             |         WHERE oo.o_custkey = c.c_custkey
             |         ORDER BY oo.o_totalprice DESC, oo.o_orderkey
             |         LIMIT 3) o""".stripMargin)),

    // ---- ordered event funnel (view → click → purchase) ---------------
    // Staged conditional-min aggregation: each stage is a keyed agg
    // joined to the previous stage's users (shrinking frames — the
    // stage tables broadcast at scale), never a per-user event-array
    // collect or a corpus-wide ordered window. Sentinel timestamps for
    // not-reached stages (NaT never hash-compares).
    GQ("q47_funnel",
      (s, dir) => {
        val ev = t(s, dir).events
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("view_ts"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, Seq("user_id"))
          .filter(col("ts") > col("view_ts"))
          .groupBy("user_id").agg(min("ts").as("click_ts"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, Seq("user_id"))
          .filter(col("ts") > col("click_ts"))
          .groupBy("user_id").agg(min("ts").as("purchase_ts"))
        v.join(c, Seq("user_id"), "left_outer")
          .join(p, Seq("user_id"), "left_outer")
          .select(col("user_id"), col("view_ts"),
            coalesce(col("click_ts"),
              lit("1970-01-01 00:00:00").cast("timestamp")).as("click_ts"),
            coalesce(col("purchase_ts"),
              lit("1970-01-01 00:00:00").cast("timestamp")).as("purchase_ts"),
            when(col("purchase_ts").isNotNull, 3)
              .when(col("click_ts").isNotNull, 2)
              .otherwise(1).cast("int").as("stage"))
      },
      Some("""WITH fv AS (SELECT user_id, min(ts) AS view_ts
             |  FROM events WHERE event_type = 'view' GROUP BY 1),
             |fc AS (SELECT e.user_id, min(e.ts) AS click_ts
             |  FROM events e JOIN fv USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > fv.view_ts GROUP BY 1),
             |fp AS (SELECT e.user_id, min(e.ts) AS purchase_ts
             |  FROM events e JOIN fc USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > fc.click_ts GROUP BY 1)
             |SELECT v.user_id, v.view_ts,
             |  coalesce(c.click_ts, TIMESTAMP '1970-01-01') AS click_ts,
             |  coalesce(p.purchase_ts, TIMESTAMP '1970-01-01') AS purchase_ts,
             |  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
             |            WHEN c.user_id IS NOT NULL THEN 2
             |            ELSE 1 END AS INT) AS stage
             |FROM fv v LEFT JOIN fc c USING (user_id)
             |  LEFT JOIN fp p USING (user_id)""".stripMargin))
  ,

    // ---- S2 driver contract, leg 1: write → read fidelity ------------
    // (split from r9/r11's q48_sink_roundtrip per VERDICT r11 item 1.)
    // Partitioned, size-bounded, sorted-within-partition parquet write,
    // read back and re-aggregated. Self-diagnosing: n_src/cents_src are
    // collected from the SOURCE frame before any write, so if the _back
    // columns diverge while _src stays green the artifact localizes the
    // break to the sink leg (and vice versa for an oracle-side break).
    GQ("q48a_sink_write_read",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val orders = t(s, dir).orders
        val src = orders.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(centsCol).as("c"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        withScratch("graft-sink-wr") { scratch =>
          val path = scratch + "/orders"
          graft.sources.Sinks.parquet(orders, path,
            partitionBy = Seq("o_orderstatus"), maxRecordsPerFile = 2000,
            sortWithinPartitionsBy = Seq("o_orderkey"))
          val back = s.read.parquet(path).groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"), sum(centsCol).as("c"))
            .collect()
            .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
          val rows = src.toSeq.sortBy(_._1).map { case (st, (n, c)) =>
            val (nb, cb) = back.getOrElse(st, (0L, 0L))
            Row(st, n, c, nb, cb)
          }
          localResult(s, StructType(Seq(
            StructField("o_orderstatus", StringType),
            StructField("n_src", LongType),
            StructField("cents_src", LongType),
            StructField("n_back", LongType),
            StructField("cents_back", LongType))), rows)
        }
      },
      Some(s"""SELECT o_orderstatus,
             |  count(*) AS n_src,
             |  CAST(sum($CentsSql) AS BIGINT) AS cents_src,
             |  count(*) AS n_back,
             |  CAST(sum($CentsSql) AS BIGINT) AS cents_back
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---- S7 driver contract, leg 2: bulk delete as overwrite ---------
    // Delete-as-overwrite of the partitioned dataset written above (the
    // immutable-engine delete mapping, INSTALL.txt:122-126). Materialize
    // the retained rows first (a path cannot be read and overwritten
    // lazily) and pin STATIC partition-overwrite: under dynamic mode a
    // write containing no 'O' rows never touches the 'O' partition, so
    // the "delete" would silently no-op for exactly the partition being
    // deleted. Self-diagnosing: n_retained counts the checkpointed
    // delete INPUT, n_after the post-overwrite read-back — retained
    // green + after red would localize the break to the overwrite
    // itself; both red to the filter/checkpoint leg.
    GQ("q48b_sink_delete",
      (s, dir) => graft.core.Checkpoints.scoped { scope =>
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val orders = t(s, dir).orders
        val statuses = orders.select(col("o_orderstatus")).distinct()
          .collect().map(_.getString(0)).sorted.toIndexedSeq
        withScratch("graft-sink-del") { scratch =>
          val path = scratch + "/orders"
          graft.sources.Sinks.parquet(orders, path,
            partitionBy = Seq("o_orderstatus"), maxRecordsPerFile = 2000)
          val retained = scope.checkpoint(s.read.parquet(path)
            .filter(col("o_orderstatus") =!= "O"))
          val nRet = retained.groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val modeKey = "spark.sql.sources.partitionOverwriteMode"
          val prevMode = s.conf.getOption(modeKey)
          s.conf.set(modeKey, "static")
          try graft.sources.Sinks.parquet(retained, path,
            partitionBy = Seq("o_orderstatus"), maxRecordsPerFile = 2000)
          finally prevMode match {
            case Some(m) => s.conf.set(modeKey, m)
            case None    => s.conf.unset(modeKey)
          }
          val after = s.read.parquet(path).groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          scope.keep()
          val rows = statuses.map { st =>
            Row(st, nRet.getOrElse(st, 0L), after.getOrElse(st, 0L))
          }
          localResult(s, StructType(Seq(
            StructField("o_orderstatus", StringType),
            StructField("n_retained", LongType),
            StructField("n_after", LongType))), rows)
        }
      },
      Some("""SELECT o_orderstatus,
             |  CAST(CASE WHEN o_orderstatus = 'O' THEN 0
             |       ELSE count(*) END AS BIGINT) AS n_retained,
             |  CAST(CASE WHEN o_orderstatus = 'O' THEN 0
             |       ELSE count(*) END AS BIGINT) AS n_after
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---- S2 family: ORC sink round-trip (suite-only → driver-pinned) -
    GQ("q49_sink_orc",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val orders = t(s, dir).orders
        withScratch("graft-sink-orc") { scratch =>
          val path = scratch + "/orders_orc"
          graft.sources.Sinks.orc(orders, path,
            partitionBy = Seq("o_orderstatus"), maxRecordsPerFile = 2000)
          val rows = s.read.orc(path).groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"), sum(centsCol).as("c"))
            .collect()
            .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2)))
            .sortBy(_.getString(0)).toIndexedSeq
          localResult(s, StructType(Seq(
            StructField("o_orderstatus", StringType),
            StructField("n_rows", LongType),
            StructField("cents", LongType))), rows)
        }
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum($CentsSql) AS BIGINT) AS cents
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---- S2 family: JSON-lines sink round-trip -----------------------
    // Longs and strings only through the JSON text layer (cents are
    // computed BEFORE the write); read-back uses the explicit schema —
    // inference is a correctness hazard, not a contract.
    GQ("q50_sink_json",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val proj = t(s, dir).orders.select(
          col("o_orderkey"), col("o_orderstatus"), centsCol.as("cents"))
        withScratch("graft-sink-json") { scratch =>
          val path = scratch + "/orders_json"
          graft.sources.Sinks.json(proj, path)
          val rows = s.read.schema(proj.schema).json(path)
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"),
              max(col("o_orderkey")).as("k"))
            .collect()
            .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3)))
            .sortBy(_.getString(0)).toIndexedSeq
          localResult(s, StructType(Seq(
            StructField("o_orderstatus", StringType),
            StructField("n_rows", LongType),
            StructField("sum_cents", LongType),
            StructField("max_key", LongType))), rows)
        }
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum($CentsSql) AS BIGINT) AS sum_cents,
             |  CAST(max(o_orderkey) AS BIGINT) AS max_key
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---- S2 family: raw-text sink round-trip (gzip'd line files) -----
    // One delimited line per row through the compressed text layer, then
    // parsed back — the corpus-pipeline interchange shape (export to
    // line files, re-ingest elsewhere). Gzip keeps files file-level
    // splittable; maxRecordsPerFile is the parallelism knob.
    GQ("q51_sink_text",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val lines = t(s, dir).orders.select(
          concat_ws("|", col("o_orderkey"), col("o_orderstatus")).as("value"))
        withScratch("graft-sink-text") { scratch =>
          val path = scratch + "/orders_txt"
          graft.sources.Sinks.text(lines, path, compression = "gzip",
            maxRecordsPerFile = 2000)
          val parsed = s.read.text(path).select(
            split(col("value"), "\\|").getItem(0).cast("long").as("key"),
            split(col("value"), "\\|").getItem(1).as("st"))
          val rows = parsed.groupBy(col("st"))
            .agg(count(lit(1)).as("n"), sum(col("key")).as("k"))
            .collect()
            .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2)))
            .sortBy(_.getString(0)).toIndexedSeq
          localResult(s, StructType(Seq(
            StructField("o_orderstatus", StringType),
            StructField("n_lines", LongType),
            StructField("sum_key", LongType))), rows)
        }
      },
      Some("""SELECT o_orderstatus, count(*) AS n_lines,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---- S2 family: CSV sink round-trip (header + bounded files) -----
    GQ("q52_sink_csv",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val proj = t(s, dir).orders.select(
          col("o_orderkey"), col("o_orderstatus"), centsCol.as("cents"))
        withScratch("graft-sink-csv") { scratch =>
          val path = scratch + "/orders_csv"
          graft.sources.Sinks.csv(proj, path, maxRecordsPerFile = 2000)
          val rows = s.read.option("header", "true").schema(proj.schema)
            .csv(path)
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"),
              min(col("o_orderkey")).as("k"))
            .collect()
            .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3)))
            .sortBy(_.getString(0)).toIndexedSeq
          localResult(s, StructType(Seq(
            StructField("o_orderstatus", StringType),
            StructField("n_rows", LongType),
            StructField("sum_cents", LongType),
            StructField("min_key", LongType))), rows)
        }
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum($CentsSql) AS BIGINT) AS sum_cents,
             |  CAST(min(o_orderkey) AS BIGINT) AS min_key
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---- §2.4 sketch family: count-min heavy hitters (driver-pinned) --
    // A DETERMINISTIC count-min sketch built as plain DataFrame algebra,
    // so the whole sketch (not just its error bound, AccuracySpec) hash-
    // oracles in DuckDB: depth 4 md5-derived hash rows over the document
    // token stream, width 1024 (3 md5 hex digits = 0..4095, mod 1024 —
    // exactly uniform). The sketch is 4×1024 integer cells produced by
    // ONE map-side-combined groupBy (state per task is ≤ 4096 rows
    // whatever the corpus size — the reason CMS exists at 100 TB); the
    // estimate leg probes 20×4 cells through a broadcast join. Returned
    // per heavy hitter: exact count and min-over-rows CMS estimate
    // (est ≥ exact always; both engines replay the identical cells, so
    // the approximate value itself hash-verifies, like llm_pq_topk).
    GQ("q53_heavy_hitters",
      (s, dir) => {
        import graft.operators.CountMin
        val toks = CountMin.tokens(t(s, dir).documents)
        val top = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("tok").asc).limit(20)
        CountMin.estimates(top, CountMin.sketch(toks))
      },
      Some(CmsOracle.sql)),

    // ---- bucketed co-located join, driver-pinned (BucketingSpec's
    // plan contract promoted to a ★ row). Both fact tables are written
    // bucketed+sorted on the join key; the join AND the per-orderkey
    // aggregate then run with ZERO shuffle (outputPartitioning of the
    // bucketed scans already satisfies both) — the layout that turns a
    // repeated 100 TB orders⋈lineitem from a full-network shuffle per
    // query into a local merge per bucket. The query SELF-VERIFIES the
    // plan (throws → red row if an Exchange sneaks under the per-key
    // agg) and returns integer-cents aggregates collected to an inert
    // LocalRelation before the scratch tables are dropped.
    GQ("q54_bucketed_join",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val orders = t(s, dir).orders
        val lineitem = t(s, dir).lineitem
        val ot = "graft_q54_orders"
        val lt = "graft_q54_lineitem"
        withScratch("graft-bucketed") { scratch =>
          try {
            // repartition on the bucket key with numPartitions = buckets:
            // HashPartitioning and the bucketing spec share the Murmur3
            // hash, so each task owns exactly one bucket — the write runs
            // 8-way parallel and emits ONE file per bucket instead of a
            // single task writing all 8 (the 1-split-scan problem again;
            // at scale the input is already wide and this is one
            // bucket-aligned exchange the write needs anyway)
            orders.select(col("o_orderkey"), col("o_orderstatus"))
              .repartition(8, col("o_orderkey"))
              .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
              .option("path", s"$scratch/b_orders").mode("overwrite")
              .saveAsTable(ot)
            lineitem.select(col("l_orderkey"),
                (col("l_quantity").cast("decimal(15,2)") * 100)
                  .cast("long").as("qty_cents"))
              .repartition(8, col("l_orderkey"))
              .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
              .option("path", s"$scratch/b_lineitem").mode("overwrite")
              .saveAsTable(lt)
            val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
            val rows = try {
              s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
              val perKey = s.table(ot)
                .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
                .groupBy(col("o_orderkey"), col("o_orderstatus"))
                .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("q"))
              val plan = perKey.queryExecution.executedPlan.toString
              require(!plan.contains("Exchange hashpartitioning"),
                s"bucketed join+agg must be shuffle-free:\n$plan")
              perKey.groupBy(col("o_orderstatus"))
                .agg(count(lit(1)).as("n_orders"), sum(col("n")).as("n_lines"),
                  sum(col("q")).as("qty_cents"))
                .collect()
                .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2),
                  r.getLong(3)))
                .sortBy(_.getString(0)).toIndexedSeq
            } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            localResult(s, StructType(Seq(
              StructField("o_orderstatus", StringType),
              StructField("n_orders", LongType),
              StructField("n_lines", LongType),
              StructField("qty_cents", LongType))), rows)
          } finally {
            s.sql(s"DROP TABLE IF EXISTS $ot")
            s.sql(s"DROP TABLE IF EXISTS $lt")
          }
        }
      },
      Some("""WITH pk AS (
             |  SELECT o.o_orderkey, o.o_orderstatus, count(*) AS n,
             |    sum(CAST(CAST(l.l_quantity AS DECIMAL(15,2)) * 100
             |      AS BIGINT)) AS q
             |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |  GROUP BY 1, 2)
             |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(sum(n) AS BIGINT) AS n_lines,
             |  CAST(sum(q) AS BIGINT) AS qty_cents
             |FROM pk GROUP BY 1""".stripMargin)),

    // ---- explicit skew mitigation, driver-pinned (SkewSpec's
    // equivalence promoted to a ★ row): saltedJoin spreads each part
    // key's lineitem rows over 8 (key, salt) partitions with the small
    // side replicated 8×, then twoPhaseAgg rolls up to the 150-value
    // p_type key via a salted partial — the two tools for the hot key
    // AQE's runtime splitting can't fix (a single key exceeding one
    // executor even after split). Semantics are pinned ≡ the plain
    // join+group by the oracle, which knows nothing of salts.
    GQ("q55_skew_salted",
      (s, dir) => {
        val li = t(s, dir).lineitem.select(col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"),
          (col("l_extendedprice").cast("decimal(15,2)") * 100)
            .cast("long").as("price_cents"))
        val dim = t(s, dir).part
          .select(col("p_partkey").as("l_partkey"), col("p_type"))
        val joined = graft.core.Skew.saltedJoin(li, dim,
          keys = Seq("l_partkey"), leftUniqueCol = "l_orderkey",
          saltFactor = 8)
        graft.core.Skew.twoPhaseAgg(joined, keys = Seq("p_type"),
          uniqueCol = "l_linenumber",
          partial = Seq(count(lit(1)).as("pn"),
            sum(col("price_cents")).as("pc")),
          fin = Seq(sum(col("pn")).as("n_lines"),
            sum(col("pc")).as("price_cents")),
          saltFactor = 16)
      },
      Some("""SELECT p.p_type, CAST(count(*) AS BIGINT) AS n_lines,
             |  CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(15,2)) * 100
             |    AS BIGINT)) AS BIGINT) AS price_cents
             |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |GROUP BY 1""".stripMargin)),

    // ---- MERGE / upsert as a batch op (CDC-apply) --------------------
    // The relational analogue of the graph MERGE the reference is built
    // on (S3/S4): apply a change set (updates / deletes / inserts,
    // derived deterministically from the base so both engines see the
    // same changes) to a keyed table in ONE full-outer join pass — the
    // immutable-engine upsert, keyed shuffle on both sides, no
    // row-at-a-time path. The merged table round-trips through the
    // partitioned sink (S2) before aggregation, so merge semantics AND
    // storage land in one hash. The oracle states the SEMANTICS
    // (updated ∪ untouched-surviving ∪ inserted) with no outer-join
    // mechanics — a wrong null-handling branch in the merge cannot
    // slip through.
    GQ("q56_merge_upsert",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val base = t(s, dir).orders.select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("st"), centsCol.as("c"))
        // change set: +10% price on keys ≡3 (mod 10), delete keys ≡7
        // (mod 10), re-insert clones of keys ≡0 (mod 97) shifted past
        // the key space — disjoint actions by construction
        val upd = base.filter(pmod(col("k"), lit(10)) === 3)
          .select(col("k"), lit("U").as("action"),
            col("st").as("cst"), (col("c") + expr("c div 10")).as("nc"))
        val del = base.filter(pmod(col("k"), lit(10)) === 7)
          .select(col("k"), lit("D").as("action"),
            col("st").as("cst"), lit(0L).as("nc"))
        val ins = base.filter(pmod(col("k"), lit(97)) === 0)
          .select((col("k") + 10000000L).as("k"), lit("I").as("action"),
            col("st").as("cst"), col("c").as("nc"))
        val changes = upd.unionByName(del).unionByName(ins)
        val merged = base.join(changes, Seq("k"), "full_outer")
          .filter(coalesce(col("action"), lit("")) =!= "D")
          .select(col("k"),
            coalesce(col("cst"), col("st")).as("o_orderstatus"),
            when(col("action").isin("U", "I"), col("nc"))
              .otherwise(col("c")).as("cents"))
        withScratch("graft-merge") { scratch =>
          val path = scratch + "/merged"
          graft.sources.Sinks.parquet(merged, path,
            partitionBy = Seq("o_orderstatus"), maxRecordsPerFile = 5000,
            sortWithinPartitionsBy = Seq("k"))
          val rows = s.read.parquet(path).groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
              // >= : key 0 exists in the synthetic orders, so its
              // inserted clone lands exactly ON the shift boundary
              sum(when(col("k") >= 10000000L, 1L).otherwise(0L)).as("ni"))
            .collect()
            .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3)))
            .sortBy(_.getString(0)).toIndexedSeq
          localResult(s, StructType(Seq(
            StructField("o_orderstatus", StringType),
            StructField("n_rows", LongType),
            StructField("cents", LongType),
            StructField("n_inserted", LongType))), rows)
        }
      },
      Some(s"""WITH mb AS (
             |  SELECT o_orderkey AS k, o_orderstatus AS st,
             |    $CentsSql AS c
             |  FROM orders),
             |mm AS (
             |  SELECT k, st, c + c // 10 AS c FROM mb WHERE k % 10 = 3
             |  UNION ALL
             |  SELECT k, st, c FROM mb WHERE k % 10 NOT IN (3, 7)
             |  UNION ALL
             |  SELECT k + 10000000 AS k, st, c FROM mb WHERE k % 97 = 0)
             |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(c) AS BIGINT) AS cents,
             |  CAST(sum(CASE WHEN k >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_inserted
             |FROM mm GROUP BY 1""".stripMargin)),

    // ---- §2.4 sketch family: HyperLogLog distinct count (q53's
    // cardinality twin, driver-pinned). A DETERMINISTIC HLL whose
    // ESTIMATE hash-oracles in DuckDB: 256 registers from 2 exact md5
    // hex digits, rank ρ by string algebra (never libm log2), harmonic
    // sum exact-by-dyadics, one correctly-rounded division at the end
    // (operators.HyperLogLog doc). Three key columns, all in the raw
    // estimator's ≥2.5m-distinct regime; each sketch is ONE
    // map-side-combined groupBy with per-task state ≤ 256 rows —
    // estimating a 100 TB key's cardinality for the cost of a scan,
    // where COUNT(DISTINCT) shuffles the whole key space.
    GQ("q57_hll_distinct",
      (s, dir) => {
        import graft.operators.HyperLogLog
        val tt = t(s, dir)
        // Kept in the per-leg formulation: a round-17 rewrite sharing
        // one tagged key stream (grouped sketch + grouped exact
        // distinct) cut 19 AQE jobs to 8 but RAN SLOWER at sf0.1
        // (+1.8 s, same-window A/B) — the tagged stream hashes strings
        // where the exact legs hash longs, and the single fused scan
        // serialized work three independent 1-split legs had been
        // overlapping. Exchange count is not the objective function;
        // the measured plan stays.
        val legs = Seq(
          ("l_orderkey", tt.lineitem, col("l_orderkey")),
          ("l_partkey", tt.lineitem, col("l_partkey")),
          ("o_custkey", tt.orders, col("o_custkey")))
        legs.map { case (nm, df, k) =>
          val est = HyperLogLog.estimate(
            HyperLogLog.sketch(df.select(k.cast("string").as("k")), col("k")))
          df.agg(countDistinct(k).as("n_exact")).crossJoin(est)
            .select(lit(nm).as("key_name"), col("n_exact"), col("n_est"))
        }.reduce(_ unionByName _)
      },
      Some(HllOracle.sql(Seq(
        ("l_orderkey", "lineitem", "l_orderkey"),
        ("l_partkey", "lineitem", "l_partkey"),
        ("o_custkey", "orders", "o_custkey"))))),

    // ---- z-order (Morton) data layout + box-query pruning, driver-
    // pinned. The lakehouse "OPTIMIZE ZORDER BY" move: lay lineitem out
    // partitioned by the top bits of interleave(quantity, ship-day) and
    // a rectangular predicate on the TWO natural columns prunes
    // partitions through ONE derived z-range filter — correct because z
    // is coordinate-monotone, so the box maps into [z(lo,lo), z(hi,hi)]
    // (operators.ZOrder doc). The query SELF-VERIFIES that the read-back
    // plan carries the zbucket PartitionFilters (throws → red row), and
    // the oracle — which knows nothing of the layout — re-derives the
    // same aggregate AND the same z extrema from the raw table via the
    // SQL twin of the bit algebra, so the interleaving itself
    // hash-verifies. At 100 TB the same two lines turn a full scan into
    // a ≤¼-of-buckets read for any reasonable box.
    GQ("q58_zorder_layout",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        import graft.operators.ZOrder
        val epoch = java.time.LocalDate.of(1992, 1, 1).toEpochDay
        def day(d: String) = java.time.LocalDate.parse(d).toEpochDay - epoch
        val (d1, d2) = (day("1996-03-01"), day("1996-09-01"))
        val (q1, q2) = (10L, 25L)
        val laid = t(s, dir).lineitem.select(
            col("l_quantity").cast("long").as("qx"),
            datediff(col("l_shipdate"), lit("1992-01-01")).cast("long")
              .as("dy"),
            (col("l_extendedprice").cast("decimal(15,2)") * 100)
              .cast("long").as("cents"))
          .withColumn("z", ZOrder.interleave(col("qx"), col("dy")))
          .withColumn("zbucket", shiftright(col("z"), ZOrder.BucketShift))
        withScratch("graft-zorder") { scratch =>
          val path = s"$scratch/z_lineitem"
          graft.sources.Sinks.parquet(laid, path,
            partitionBy = Seq("zbucket"), sortWithinPartitionsBy = Seq("z"))
          val (zlo, zhi) = (ZOrder.interleaveLong(q1, d1),
            ZOrder.interleaveLong(q2, d2))
          val read = s.read.parquet(path)
            .filter(col("zbucket").between(zlo >> ZOrder.BucketShift,
                zhi >> ZOrder.BucketShift)
              && col("qx").between(q1, q2) && col("dy").between(d1, d2))
          val plan = read.queryExecution.executedPlan.toString
          require(plan.contains("PartitionFilters: [") &&
            plan.contains("zbucket"),
            s"z-order read must prune on the zbucket partition column:\n$plan")
          val r = read.agg(count(lit(1)).as("n_rows"),
              sum(col("cents")).as("cents"), min(col("z")).as("z_min"),
              max(col("z")).as("z_max")).head()
          localResult(s, StructType(Seq(
            StructField("n_rows", LongType), StructField("cents", LongType),
            StructField("z_min", LongType), StructField("z_max", LongType))),
            Seq(Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
        }
      },
      Some {
        val epoch = java.time.LocalDate.of(1992, 1, 1).toEpochDay
        def day(d: String) = java.time.LocalDate.parse(d).toEpochDay - epoch
        s"""WITH zl AS (
           |  SELECT CAST(l_quantity AS BIGINT) AS qx,
           |    CAST(datediff('day', DATE '1992-01-01',
           |      CAST(l_shipdate AS DATE)) AS BIGINT) AS dy,
           |    CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT)
           |      AS cents
           |  FROM lineitem),
           |zf AS (
           |  SELECT cents,
           |    ${graft.operators.ZOrder.interleaveSql("qx", "dy")} AS z
           |  FROM zl
           |  WHERE qx BETWEEN 10 AND 25
           |    AND dy BETWEEN ${day("1996-03-01")} AND ${day("1996-09-01")})
           |SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(cents) AS BIGINT) AS cents,
           |  CAST(min(z) AS BIGINT) AS z_min,
           |  CAST(max(z) AS BIGINT) AS z_max
           |FROM zf""".stripMargin
      }),

    // ---- SCD Type-2 dimension history build — the warehouse move that
    // turns a mutable attribute stream into validity intervals. Change
    // detection (keep a row only when the tracked attribute differs
    // from the previous version) and interval assignment are two
    // customer-partitioned window passes over the (date, orderkey)
    // total order; no global window forms, and the shuffle key is the
    // dimension key — the natural 100 TB partitioning. The open
    // interval coalesces to a 9999-12-31 sentinel IN BOTH ENGINES (a
    // NULL valid_to would hash NaT ≠ NaT, the q34 lesson).
    GQ("q59_scd2",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byKey = Window.partitionBy(col("o_custkey"))
          .orderBy(col("d"), col("o_orderkey"))
        val hist = t(s, dir).orders.select(col("o_custkey"),
            col("o_orderpriority"), to_date(col("o_orderdate")).as("d"),
            col("o_orderkey"))
          .withColumn("prev", lag(col("o_orderpriority"), 1).over(byKey))
          .filter(col("prev").isNull ||
            col("prev") =!= col("o_orderpriority"))
        val byVer = Window.partitionBy(col("o_custkey"))
          .orderBy(col("d"), col("o_orderkey"))
        hist.select(col("o_custkey"),
            row_number().over(byVer).as("version"),
            col("o_orderpriority"),
            date_format(col("d"), "yyyy-MM-dd").as("valid_from"),
            date_format(coalesce(lead(col("d"), 1).over(byVer),
              lit("9999-12-31").cast("date")), "yyyy-MM-dd")
              .as("valid_to"),
            when(lead(col("d"), 1).over(byVer).isNull, 1L).otherwise(0L)
              .as("is_current"))
      },
      Some("""WITH sh AS (
             |  SELECT o_custkey, o_orderpriority,
             |    CAST(o_orderdate AS DATE) AS d, o_orderkey,
             |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
             |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev
             |  FROM orders),
             |sc AS (
             |  SELECT * FROM sh
             |  WHERE prev IS NULL OR prev <> o_orderpriority)
             |SELECT o_custkey,
             |  CAST(row_number() OVER w AS INT) AS version,
             |  o_orderpriority,
             |  CAST(d AS VARCHAR) AS valid_from,
             |  CAST(coalesce(lead(d) OVER w, DATE '9999-12-31') AS VARCHAR)
             |    AS valid_to,
             |  CAST(CASE WHEN lead(d) OVER w IS NULL THEN 1 ELSE 0 END
             |    AS BIGINT) AS is_current
             |FROM sc
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)"""
        .stripMargin)),

    // ---- co-occurrence mining (frequent pairs + lift) — the market-
    // basket primitive behind "items bought together" and token-
    // association audits. Baskets are built with ONE orderkey-keyed
    // shuffle (collect_set dedups map-side inside the partial agg), and
    // pair candidates are generated per basket with array HOFs inside
    // codegen — candidate volume is Σ (basket distinct brands)², bounded
    // by the small per-order line count whatever the corpus size, NOT
    // all-pairs over the catalog; the only corpus-scale shuffles are the
    // basket build and the (a, b)-keyed count (a basket self-join would
    // add a third). Lift stays in exact integer micro-units:
    // lift = support·n_baskets / (cnt_a·cnt_b), one truncating division
    // shared by both engines.
    GQ("q60_frequent_pairs",
      (s, dir) => graft.core.Checkpoints.scoped { scope =>
        val tt = t(s, dir)
        // cached: three consumers (basket count, per-brand counts, pair
        // explode) would otherwise re-run the join+basket agg. AQE sizes
        // the basket reduce by its shuffled volume (core.Sessions) and
        // the cache keeps that layout, so consumers read a few
        // partitions, not shuffle.partitions near-empty ones
        val bk = scope.cache(tt.lineitem
          .select(col("l_orderkey"), col("l_partkey"))
          .join(broadcast(tt.part.select(col("p_partkey").as("l_partkey"),
            col("p_brand"))), Seq("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("p_brand"))).as("brands")))
        val nb = bk.agg(count(lit(1)).as("n_baskets"))
        val cnt = bk.select(explode(col("brands")).as("p_brand"))
          .groupBy(col("p_brand")).agg(count(lit(1)).as("c"))
        // ordered pairs (i < j) from the sorted basket array — pure
        // codegen'd array work, no self-join: for element i, pair it
        // with every later element via slice+transform, then flatten.
        val pairs = bk.select(explode(expr(
            """flatten(transform(brands, (a, i) ->
               transform(slice(brands, i + 2, size(brands)),
                 b -> struct(a AS brand_a, b AS brand_b))))"""))
            .as("p"))
          .groupBy(col("p.brand_a").as("brand_a"),
            col("p.brand_b").as("brand_b"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 100)
        pairs
          .join(broadcast(cnt.select(col("p_brand").as("brand_a"),
            col("c").as("ca"))), Seq("brand_a"))
          .join(broadcast(cnt.select(col("p_brand").as("brand_b"),
            col("c").as("cb"))), Seq("brand_b"))
          .crossJoin(broadcast(nb))
          .select(col("brand_a"), col("brand_b"), col("support"),
            // numerator in decimal(38,0): the 64-bit product
            // 1e6·support·n_baskets wraps silently under non-ANSI Spark
            // at corpus scale while DuckDB raises — decimal keeps both
            // engines exact (≤1e30 ≪ 1e38); `div` on decimals is still
            // the shared truncating integral divide (BIGINT result)
            expr("""(CAST(1000000 AS DECIMAL(38,0)) * support * n_baskets)
                    div (CAST(ca AS DECIMAL(38,0)) * cb)""")
              .as("lift_micro"))
      },
      Some("""WITH cb AS (
             |  SELECT DISTINCT l.l_orderkey, p.p_brand
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
             |cn AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
             |  AS n_baskets FROM cb),
             |cc AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS c
             |  FROM cb GROUP BY 1),
             |cp AS (
             |  SELECT x.p_brand AS brand_a, y.p_brand AS brand_b,
             |    CAST(count(*) AS BIGINT) AS support
             |  FROM cb x JOIN cb y ON x.l_orderkey = y.l_orderkey
             |    AND x.p_brand < y.p_brand
             |  GROUP BY 1, 2 HAVING count(*) >= 100)
             |SELECT p.brand_a, p.brand_b, p.support,
             |  CAST((CAST(1000000 AS HUGEINT) * p.support
             |      * (SELECT n_baskets FROM cn))
             |    // (a.c * b.c) AS BIGINT) AS lift_micro
             |FROM cp p
             |JOIN cc a ON a.p_brand = p.brand_a
             |JOIN cc b ON b.p_brand = p.brand_b""".stripMargin)),

    // ---- cohort retention matrix — first-seen-day cohorts × activity-
    // day offsets with a distinct-user count per cell, the product-
    // analytics staple. Two shuffles total (per-user first day, then the
    // (cohort, offset) cell count); the distinct-user count inside each
    // cell is exact. Day granularity because the synthetic event stream
    // spans one month.
    GQ("q61_cohort_retention",
      (s, dir) => {
        val ev = t(s, dir).events
          .select(col("user_id"), to_date(col("ts")).as("d"))
        val cohort = ev.groupBy(col("user_id"))
          .agg(min(col("d")).as("cohort_day"))
        ev.join(cohort, Seq("user_id"))
          .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd")
              .as("cohort_day"),
            datediff(col("d"), col("cohort_day")).as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      Some("""WITH ce AS (
             |  SELECT user_id, CAST(ts AS DATE) AS d FROM events),
             |cf AS (
             |  SELECT user_id, min(d) AS cohort_day FROM ce GROUP BY 1)
             |SELECT CAST(cf.cohort_day AS VARCHAR) AS cohort_day,
             |  CAST(datediff('day', cf.cohort_day, ce.d) AS INT)
             |    AS day_offset,
             |  CAST(count(DISTINCT ce.user_id) AS BIGINT) AS n_users
             |FROM ce JOIN cf USING (user_id)
             |GROUP BY 1, 2""".stripMargin)),

    // ---- incremental aggregate maintenance with DURABLE merged state —
    // the incremental-ETL contract: yesterday's aggregate state is
    // persisted to parquet, today's delta is aggregated alone, and the
    // two MERGE without touching yesterday's rows. Every statistic is
    // carried as its mergeable state form: count/sum add, min/min,
    // max/max — and the distinct-customer count rides as 256 HLL
    // registers whose per-bucket max is associative, so the merged
    // estimate equals the from-scratch estimate EXACTLY (the theorem
    // this row pins: the oracle knows nothing of the split and
    // resketches the full table). At 100 TB this is the difference
    // between rescanning the corpus per day and scanning the day.
    GQ("q62_incremental_agg",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        import graft.operators.HyperLogLog
        val ords = t(s, dir).orders.select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("st"), centsCol.as("cents"),
          col("o_custkey").cast("string").as("ck"))
        val base = ords.filter(pmod(col("k"), lit(10)) =!= 7)
        val delta = ords.filter(pmod(col("k"), lit(10)) === 7)
        def scalarState(df: DataFrame) = df.groupBy(col("st"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
            min(col("k")).as("mn"), max(col("k")).as("mx"))
        def hllState(df: DataFrame) = HyperLogLog.sketchBy(
          df.select(col("st"), col("ck")), col("ck"), Seq("st"))
        withScratch("graft-incr") { scratch =>
          graft.sources.Sinks.parquet(scalarState(base),
            s"$scratch/state_scalar")
          graft.sources.Sinks.parquet(hllState(base), s"$scratch/state_hll")
          val mergedScalar = s.read.parquet(s"$scratch/state_scalar")
            .union(scalarState(delta))
            .groupBy(col("st"))
            .agg(sum(col("n")).as("n_rows"), sum(col("sc")).as("sum_cents"),
              min(col("mn")).as("min_key"), max(col("mx")).as("max_key"))
          val mergedHll = s.read.parquet(s"$scratch/state_hll")
            .union(hllState(delta))
            .groupBy(col("st"), col("bucket")).agg(max(col("r")).as("r"))
          val rows = mergedScalar
            .join(HyperLogLog.estimateBy(mergedHll, Seq("st")), Seq("st"))
            .collect()
            .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5)))
            .sortBy(_.getString(0)).toIndexedSeq
          localResult(s, StructType(Seq(
            StructField("o_orderstatus", StringType),
            StructField("n_rows", LongType),
            StructField("sum_cents", LongType),
            StructField("min_key", LongType),
            StructField("max_key", LongType),
            StructField("custkeys_est", LongType))), rows)
        }
      },
      Some(s"""WITH iscalar AS (
             |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(sum($CentsSql) AS BIGINT) AS sum_cents,
             |    CAST(min(o_orderkey) AS BIGINT) AS min_key,
             |    CAST(max(o_orderkey) AS BIGINT) AS max_key
             |  FROM orders GROUP BY 1),
             |${HllOracle.groupedCtes("orders", "o_custkey",
                 "o_orderstatus")}
             |SELECT s.o_orderstatus, s.n_rows, s.sum_cents, s.min_key,
             |  s.max_key, e.n_est AS custkeys_est
             |FROM iscalar s JOIN ihest e ON e.g = s.o_orderstatus"""
        .stripMargin)),

    // ---- HLL set algebra — the reason cardinality sketches beat plain
    // approx-distinct at 100 TB: the UNION of two key sets costs one
    // register max-merge (exact at the sketch level — no rescan of
    // either side), and the INTERSECTION estimates by inclusion–
    // exclusion over three register reads. Customers-with-F-orders vs
    // customers-with-O-orders; exact counterparts ride along, and the
    // oracle replays register construction, merge, and both estimates,
    // so the whole algebra hash-verifies.
    GQ("q63_hll_setops",
      (s, dir) => graft.core.Checkpoints.scoped { scope =>
        import graft.operators.HyperLogLog
        val ords = t(s, dir).orders
          .filter(col("o_orderstatus").isin("F", "O"))
          .select(col("o_orderstatus").as("g"),
            col("o_custkey").cast("string").as("ck"))
        val regs = scope.cache(HyperLogLog.sketchBy(ords, col("ck"), Seq("g")))
        def est(r: DataFrame, nm: String) =
          HyperLogLog.estimate(r).select(col("n_est").as(nm))
        val estA = est(regs.filter(col("g") === "F")
          .select("bucket", "r"), "n_a_est")
        val estB = est(regs.filter(col("g") === "O")
          .select("bucket", "r"), "n_b_est")
        val estU = est(regs.groupBy("bucket").agg(max(col("r")).as("r")),
          "n_union_est")
        val exact = t(s, dir).orders.agg(
          countDistinct(when(col("o_orderstatus") === "F",
            col("o_custkey"))).as("n_a_exact"),
          countDistinct(when(col("o_orderstatus") === "O",
            col("o_custkey"))).as("n_b_exact"),
          countDistinct(when(col("o_orderstatus").isin("F", "O"),
            col("o_custkey"))).as("n_union_exact"))
        val inter = t(s, dir).orders.groupBy(col("o_custkey"))
          .agg(max(when(col("o_orderstatus") === "F", 1).otherwise(0))
            .as("hf"),
            max(when(col("o_orderstatus") === "O", 1).otherwise(0))
              .as("ho"))
          .filter(col("hf") === 1 && col("ho") === 1)
          .agg(count(lit(1)).as("n_inter_exact"))
        exact.crossJoin(inter).crossJoin(estA).crossJoin(estB)
          .crossJoin(estU)
          .select(col("n_a_exact"), col("n_a_est"), col("n_b_exact"),
            col("n_b_est"), col("n_union_exact"), col("n_union_est"),
            col("n_inter_exact"),
            greatest(col("n_a_est") + col("n_b_est") - col("n_union_est"),
              lit(0L)).as("n_inter_est"))
      },
      Some {
        val est = (src: String) =>
          s"(SELECT ${HllOracle.estExprSql} FROM $src)"
        s"""WITH horders AS (
           |  SELECT o_orderstatus AS g, o_custkey
           |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
           |${HllOracle.groupedCtes("horders", "o_custkey", "g")},
           |hru AS (SELECT bucket, max(r) AS r FROM ihreg GROUP BY 1),
           |hx AS (
           |  SELECT
           |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
           |     FROM orders WHERE o_orderstatus = 'F') AS n_a_exact,
           |    ${est("ihreg WHERE g = 'F'")} AS n_a_est,
           |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
           |     FROM orders WHERE o_orderstatus = 'O') AS n_b_exact,
           |    ${est("ihreg WHERE g = 'O'")} AS n_b_est,
           |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
           |     FROM orders WHERE o_orderstatus IN ('F', 'O'))
           |      AS n_union_exact,
           |    ${est("hru")} AS n_union_est,
           |    (SELECT CAST(count(*) AS BIGINT) FROM (
           |       SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           |       INTERSECT
           |       SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
           |      AS n_inter_exact)
           |SELECT n_a_exact, n_a_est, n_b_exact, n_b_est, n_union_exact,
           |  n_union_est, n_inter_exact,
           |  CAST(greatest(n_a_est + n_b_est - n_union_est, 0) AS BIGINT)
           |    AS n_inter_est
           |FROM hx""".stripMargin
      }),

    // ---- snapshot diff (change-data-feed derivation) — q56's inverse:
    // given two PERSISTED table versions, derive the change set. One
    // full-outer join on the key classifies every row I/U/D/N; the
    // oracle states only the expected class populations (it derives
    // them from the change rules directly and never sees the join), so
    // the diff mechanics are pinned by their semantics. At 100 TB this
    // is the audit tool for "what did yesterday's load actually
    // change" — one co-partitioned join, no history replay.
    GQ("q64_snapshot_diff",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val v0 = t(s, dir).orders.select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("st"), centsCol.as("c"))
        // v1 = the q56 change semantics applied (update/delete/insert)
        val v1 = v0.filter(pmod(col("k"), lit(10)) === 3)
          .select(col("k"), col("st"), (col("c") + expr("c div 10")).as("c"))
          .unionByName(v0.filter(pmod(col("k"), lit(10)) =!= 3 &&
            pmod(col("k"), lit(10)) =!= 7))
          .unionByName(v0.filter(pmod(col("k"), lit(97)) === 0)
            .select((col("k") + 10000000L).as("k"), col("st"), col("c")))
        withScratch("graft-snapdiff") { scratch =>
          graft.sources.Sinks.parquet(v0, s"$scratch/v0")
          graft.sources.Sinks.parquet(v1, s"$scratch/v1")
          val a = s.read.parquet(s"$scratch/v0").as("a")
          val b = s.read.parquet(s"$scratch/v1").as("b")
          val diff = a.join(b, col("a.k") === col("b.k"), "full_outer")
            .select(
              when(col("a.k").isNull, "I")
                .when(col("b.k").isNull, "D")
                .when(col("a.c") =!= col("b.c") ||
                  col("a.st") =!= col("b.st"), "U")
                .otherwise("N").as("change_type"),
              (coalesce(col("b.c"), lit(0L)) - coalesce(col("a.c"), lit(0L)))
                .as("delta"))
          val rows = diff.groupBy(col("change_type"))
            .agg(count(lit(1)).as("n_rows"), sum(col("delta"))
              .as("cents_delta"))
            .collect()
            .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2)))
            .sortBy(_.getString(0)).toIndexedSeq
          localResult(s, StructType(Seq(
            StructField("change_type", StringType),
            StructField("n_rows", LongType),
            StructField("cents_delta", LongType))), rows)
        }
      },
      Some(s"""WITH sd AS (
             |  SELECT o_orderkey AS k, $CentsSql AS c FROM orders)
             |SELECT 'D' AS change_type, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(-sum(c) AS BIGINT) AS cents_delta
             |FROM sd WHERE k % 10 = 7
             |UNION ALL
             |SELECT 'I', CAST(count(*) AS BIGINT),
             |  CAST(sum(c) AS BIGINT) FROM sd WHERE k % 97 = 0
             |UNION ALL
             |SELECT 'N', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
             |FROM sd WHERE k % 10 NOT IN (3, 7)
             |UNION ALL
             |SELECT 'U', CAST(count(*) AS BIGINT),
             |  CAST(sum(c // 10) AS BIGINT) FROM sd WHERE k % 10 = 3"""
        .stripMargin)),

    // ---- bloom-filter semi-join reduction (an explicit runtime
    // filter): build a compact bloom over the dimension's join keys,
    // prefilter the fact scan BEFORE the shuffle, and let the real join
    // remove the false positives — semantics provably unchanged (the
    // oracle is the plain join and has never heard of the filter). At
    // 100 TB this ships megabytes of filter bits instead of shuffling
    // fact rows that cannot match; the surviving-row bound is pinned in
    // OperatorsSpec (the bloom's own fp rate), not in the hash contract
    // (filter bits are engine-local).
    GQ("q65_bloom_prune",
      (s, dir) => {
        import s.implicits._
        val urgent = t(s, dir).orders
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val keyBytes = urgent
          .select(col("o_orderkey").cast("string").cast("binary")
            .as[Array[Byte]])
        val nKeys = urgent.count()
        val targetBits = math.min(1L << 26, math.max(1L << 14, nKeys * 16))
        val numBits =
          if (java.lang.Long.bitCount(targetBits) == 1) targetBits
          else java.lang.Long.highestOneBit(targetBits) << 1
        val words = keyBytes.select(
          new graft.functions.BloomBuild((numBits / 64).toInt, 7).toColumn)
          .head()
        val bloom = new graft.functions.BloomBits(words, 7)
        def hit(c: Column): Column =
          org.apache.spark.sql.graftbridge.ColumnBridge.column(
            graft.functions.BloomContainsExpr(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
              bloom))
        val li = t(s, dir).lineitem.select(col("l_orderkey"),
          (col("l_extendedprice").cast("decimal(15,2)") * 100)
            .cast("long").as("price_cents"))
        val pruned = li.filter(hit(col("l_orderkey").cast("string")))
        pruned.join(urgent, col("l_orderkey") === col("o_orderkey"))
          .agg(countDistinct(col("o_orderkey")).as("n_urgent_orders"),
            count(lit(1)).as("n_lines"),
            sum(col("price_cents")).as("price_cents"))
      },
      Some("""SELECT
             |  CAST(count(DISTINCT o.o_orderkey) AS BIGINT)
             |    AS n_urgent_orders,
             |  CAST(count(*) AS BIGINT) AS n_lines,
             |  CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(15,2)) * 100
             |    AS BIGINT)) AS BIGINT) AS price_cents
             |FROM lineitem l
             |JOIN orders o ON o.o_orderkey = l.l_orderkey
             |WHERE o.o_orderpriority = '1-URGENT'""".stripMargin)),

    // ---- time-series gap filling (resample + LOCF) — the missing-
    // reading repair every metrics/training-feature pipeline needs:
    // materialize each user's full hourly timeline between first and
    // last observation, then carry the last observation forward across
    // the gaps. The per-hour representative is the max-event_id row
    // (deterministic, NO float arithmetic — the carried value is a raw
    // stored double, so it hashes exactly). Shuffle keys are
    // (user, hour): series stay co-partitioned, the LOCF window is
    // per-user — never global. Timeline expansion is sequence()+explode,
    // generate_series in the oracle.
    GQ("q66_gapfill",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, dir).events.select(col("user_id"),
          date_trunc("hour", col("ts")).as("h"), col("event_id"),
          col("value"))
        val perHour = ev.groupBy(col("user_id"), col("h"))
          .agg(count(lit(1)).as("n_obs"),
            max(struct(col("event_id"), col("value"))).as("m"))
          .select(col("user_id"), col("h"), col("n_obs"),
            col("m.value").as("v"))
        val timeline = ev.groupBy(col("user_id"))
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"),
            explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        timeline.join(perHour, Seq("user_id", "h"), "left_outer")
          .select(col("user_id"),
            date_format(col("h"), "yyyy-MM-dd HH:00").as("hour"),
            coalesce(col("n_obs"), lit(0L)).as("n_obs"),
            last(col("v"), ignoreNulls = true).over(w).as("value"))
      },
      Some("""WITH ge AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h, event_id, value
             |  FROM events),
             |gh AS (
             |  SELECT user_id, h, CAST(count(*) AS BIGINT) AS n_obs,
             |    max(ROW(event_id, value))[2] AS v
             |  FROM ge GROUP BY 1, 2),
             |gt AS (
             |  SELECT user_id, unnest(generate_series(min(h), max(h),
             |    INTERVAL 1 HOUR)) AS h
             |  FROM ge GROUP BY user_id)
             |SELECT t.user_id, strftime(t.h, '%Y-%m-%d %H:00') AS hour,
             |  CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
             |  last_value(o.v IGNORE NULLS) OVER (
             |    PARTITION BY t.user_id ORDER BY t.h
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
             |FROM gt t
             |LEFT JOIN gh o ON o.user_id = t.user_id AND o.h = t.h"""
        .stripMargin)),

    // ---- remaining window-function coverage: cume_dist, nth_value,
    // first/last over explicit frames — the q33 family's tail. All
    // per-customer partitions (never global); cume_dist emerges in
    // integer micro via its definition count(≤)/count(*) — both engines
    // agree exactly because the inputs are integers.
    GQ("q67_window_extras",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderkey"))
        val wf = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        t(s, dir).orders.select(col("o_custkey"), col("o_orderkey"),
            centsCol.as("c"))
          // single-order customers would make nth_value(2) NULL — and a
          // nullable BIGINT upcasts asymmetrically in the compare
          // harness, so the contract keeps to ≥2-row partitions
          .withColumn("n_in_part", count(lit(1)).over(
            Window.partitionBy(col("o_custkey"))))
          .filter(col("n_in_part") >= 2)
          .select(col("o_custkey"), col("o_orderkey"),
            floor(cume_dist().over(w) * 1000000).cast("long")
              .as("cume_micro"),
            nth_value(col("c"), 2).over(wf).as("second_cents"),
            first(col("c")).over(wf).as("first_cents"),
            last(col("c")).over(wf).as("last_cents"))
      },
      Some("""WITH wo AS (
             |  SELECT o_custkey, o_orderkey,
             |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
             |      AS c,
             |    count(*) OVER (PARTITION BY o_custkey) AS n_in_part
             |  FROM orders)
             |SELECT o_custkey, o_orderkey,
             |  CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT)
             |    AS cume_micro,
             |  nth_value(c, 2) OVER wf AS second_cents,
             |  first_value(c) OVER wf AS first_cents,
             |  last_value(c) OVER wf AS last_cents
             |FROM wo WHERE n_in_part >= 2
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
             |  wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""
        .stripMargin)),

    // ---- event-transition matrix (first-order Markov estimate) — the
    // path-analysis primitive behind "what do users do next": per-user
    // event streams in (ts, event_id) total order → (from, to) bigram
    // counts → row-normalized probabilities in exact integer micro.
    // One user-keyed window pass + one (from, to) count: both shuffles
    // are key-partitioned, nothing global.
    GQ("q68_transitions",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val bigrams = t(s, dir).events
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val totals = bigrams.groupBy(col("from_type"))
          .agg(sum(col("n")).as("row_n"))
        bigrams.join(totals, Seq("from_type"))
          .select(col("from_type"), col("to_type"), col("n"),
            expr("(1000000 * n) div row_n").as("p_micro"))
      },
      Some("""WITH tb AS (
             |  SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |tc AS (
             |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
             |  FROM tb WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |tt AS (
             |  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n
             |  FROM tc GROUP BY 1)
             |SELECT c.from_type, c.to_type, c.n,
             |  CAST((1000000 * c.n) // t.row_n AS BIGINT) AS p_micro
             |FROM tc c JOIN tt t ON t.from_type = c.from_type"""
        .stripMargin)),

    // ---- column-level data profiling (the Deequ/"analyzer" primitive a
    // pipeline runs before trusting a new drop of data): per column —
    // row count, null count, exact distinct count, min/max, mean length.
    // The table is melted to (col_name, val) rows with stack() so ONE
    // scan profiles every column; count/null/min/max/len collapse
    // map-side to 6 rows before the shuffle, and the exact distinct
    // count two-phases on (col_name, val) — the standard distributed
    // profile (no per-column passes, no countDistinct Expand). Values
    // are canonicalized to strings with engine-portable renderings
    // (decimal(18,2) for the money column — the data is exact 2 dp, so
    // the cast is unambiguous — and an explicit timestamp format);
    // min/max are therefore string-ordered BY CONTRACT, which both
    // engines collate identically for this ASCII data. Mean length is
    // exact integer x100 (sum·100 div count), never a float avg.
    GQ("q69_data_profile",
      (s, dir) => {
        val m = t(s, dir).orders.selectExpr(
          """stack(6,
             'o_orderkey',      cast(o_orderkey as string),
             'o_custkey',       cast(o_custkey as string),
             'o_orderstatus',   o_orderstatus,
             'o_totalprice',    cast(cast(o_totalprice as decimal(18,2))
                                     as string),
             'o_orderdate',     date_format(o_orderdate,
                                     'yyyy-MM-dd HH:mm:ss'),
             'o_orderpriority', o_orderpriority
           ) as (col_name, val)""")
        val stats = m.groupBy(col("col_name")).agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_nulls"),
          min(col("val")).as("min_val"),
          max(col("val")).as("max_val"),
          expr("(sum(length(val)) * 100) div count(val)")
            .as("avg_len_x100"))
        val dist = m.filter(col("val").isNotNull).distinct()
          .groupBy(col("col_name")).agg(count(lit(1)).as("n_distinct"))
        stats.join(dist, Seq("col_name"))
          .select(col("col_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_val"), col("max_val"),
            col("avg_len_x100"))
      },
      Some("""WITH pm AS (
             |  SELECT 'o_orderkey' AS col_name,
             |    CAST(o_orderkey AS VARCHAR) AS val FROM orders
             |  UNION ALL SELECT 'o_custkey',
             |    CAST(o_custkey AS VARCHAR) FROM orders
             |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
             |  UNION ALL SELECT 'o_totalprice',
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
             |    FROM orders
             |  UNION ALL SELECT 'o_orderdate',
             |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') FROM orders
             |  UNION ALL SELECT 'o_orderpriority', o_orderpriority
             |    FROM orders)
             |SELECT col_name,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) - count(val) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
             |  min(val) AS min_val,
             |  max(val) AS max_val,
             |  CAST((sum(length(val)) * 100) // count(val) AS BIGINT)
             |    AS avg_len_x100
             |FROM pm GROUP BY 1""".stripMargin)),

    // ---- declarative data-quality constraint audit (the Deequ "check
    // suite" shape): named constraints over keys, foreign keys, domains,
    // and ranges, each reporting its violation count and pass/fail. The
    // per-table range/domain checks FUSE into one conditional-sum scan
    // per table (no per-constraint passes); uniqueness is one key-keyed
    // count; referential integrity is a LEFT ANTI join per FK edge —
    // each the shape you'd run at 100 TB (anti joins shuffle on the key,
    // dims broadcast). `acctbal_nonneg` fails on real TPC-H-ish data
    // (negative balances exist), exercising the fail path.
    GQ("q70_constraint_audit",
      (s, dir) => {
        val tt = t(s, dir)
        def chk(name: String, violations: org.apache.spark.sql.DataFrame) =
          violations.select(lit(name).as("constraint_name"),
            col("violations"))
        val dupKeys = tt.orders.groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("c")).filter(col("c") > 1)
          .agg(coalesce(sum(col("c") - 1), lit(0L)).as("violations"))
        val ordScan = tt.orders.agg(
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("status_domain"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
            .as("price_positive"))
        val liScan = tt.lineitem.agg(
          sum(when(col("l_quantity") <= 0, 1L).otherwise(0L))
            .as("qty_positive"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
            .otherwise(0L)).as("discount_range"))
        val custScan = tt.customer.agg(
          sum(when(col("c_acctbal") < 0, 1L).otherwise(0L))
            .as("acctbal_nonneg"))
        val fkLiOrders = tt.lineitem.select(col("l_orderkey"))
          .join(tt.orders.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))
        val fkOrdCust = tt.orders.select(col("o_custkey"))
          .join(broadcast(tt.customer.select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))
        val fkLiPart = tt.lineitem.select(col("l_partkey"))
          .join(broadcast(tt.part.select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))
        val docScan = t(s, dir)("documents").agg(
          sum(when(col("text").isNull || length(col("text")) === 0, 1L)
            .otherwise(0L)).as("violations"))
        chk("orders_pk_unique", dupKeys)
          .unionAll(chk("orders_status_domain",
            ordScan.select(col("status_domain").as("violations"))))
          .unionAll(chk("orders_price_positive",
            ordScan.select(col("price_positive").as("violations"))))
          .unionAll(chk("lineitem_qty_positive",
            liScan.select(col("qty_positive").as("violations"))))
          .unionAll(chk("lineitem_discount_range",
            liScan.select(col("discount_range").as("violations"))))
          .unionAll(chk("customer_acctbal_nonneg",
            custScan.select(col("acctbal_nonneg").as("violations"))))
          .unionAll(chk("fk_lineitem_orders", fkLiOrders))
          .unionAll(chk("fk_orders_customer", fkOrdCust))
          .unionAll(chk("fk_lineitem_part", fkLiPart))
          .unionAll(chk("documents_text_nonempty", docScan))
          .select(col("constraint_name"), col("violations"),
            when(col("violations") === 0, "pass").otherwise("fail")
              .as("status"))
      },
      Some("""WITH checks AS (
             |  SELECT 'orders_pk_unique' AS constraint_name,
             |    CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS violations
             |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey
             |        HAVING count(*) > 1)
             |  UNION ALL SELECT 'orders_status_domain',
             |    CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN
             |      ('O','F','P') THEN 1 ELSE 0 END), 0) AS BIGINT)
             |    FROM orders
             |  UNION ALL SELECT 'orders_price_positive',
             |    CAST(coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1
             |      ELSE 0 END), 0) AS BIGINT) FROM orders
             |  UNION ALL SELECT 'lineitem_qty_positive',
             |    CAST(coalesce(sum(CASE WHEN l_quantity <= 0 THEN 1
             |      ELSE 0 END), 0) AS BIGINT) FROM lineitem
             |  UNION ALL SELECT 'lineitem_discount_range',
             |    CAST(coalesce(sum(CASE WHEN l_discount < 0 OR
             |      l_discount > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
             |    FROM lineitem
             |  UNION ALL SELECT 'customer_acctbal_nonneg',
             |    CAST(coalesce(sum(CASE WHEN c_acctbal < 0 THEN 1
             |      ELSE 0 END), 0) AS BIGINT) FROM customer
             |  UNION ALL SELECT 'fk_lineitem_orders',
             |    CAST(count(*) AS BIGINT) FROM lineitem l
             |    WHERE NOT EXISTS (SELECT 1 FROM orders o
             |      WHERE o.o_orderkey = l.l_orderkey)
             |  UNION ALL SELECT 'fk_orders_customer',
             |    CAST(count(*) AS BIGINT) FROM orders o
             |    WHERE NOT EXISTS (SELECT 1 FROM customer c
             |      WHERE c.c_custkey = o.o_custkey)
             |  UNION ALL SELECT 'fk_lineitem_part',
             |    CAST(count(*) AS BIGINT) FROM lineitem l
             |    WHERE NOT EXISTS (SELECT 1 FROM part p
             |      WHERE p.p_partkey = l.l_partkey)
             |  UNION ALL SELECT 'documents_text_nonempty',
             |    CAST(coalesce(sum(CASE WHEN text IS NULL OR
             |      length(text) = 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
             |    FROM documents)
             |SELECT constraint_name, violations,
             |  CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END
             |    AS status
             |FROM checks""".stripMargin)),

    // ---- entity resolution (record linkage): blocked candidate
    // generation + multi-attribute verify + 1-hop min-label resolution —
    // the structured-records sibling of the document near-dup family.
    // Dirty duplicates are synthesized deterministically from the part
    // catalog (every 5th record gets a copy with a 1-char typo and an
    // offset id; the offset is far above any tested SF's key range).
    // The candidate join runs on a BLOCKING KEY (a substring the typo
    // position cannot touch), never all-pairs: per-block volume is
    // Σ|block|², bounded by the catalog's name-prefix fan-out. At
    // 100 TB you'd union several redundant blocking keys (prefix,
    // suffix, sorted-token) the same way the MinHash bands do — the
    // shape here is one band of that scheme. The verify is
    // Fellegi–Sunter-style multi-attribute agreement (fuzzy name:
    // edit distance ≤ 2, exact size, exact price-cents) — name distance
    // alone over-merges this catalog, whose entity names differ by
    // single brand digits; the attribute conjunction yields exactly the
    // injected duplicates (precision 1.0 / recall 1.0 at sf0.01).
    // Resolution assigns each record the minimum id among itself and
    // its verified matches (1-hop min-label — the transitive-closure
    // version is the CC kernel llm_dedup_corpus already certifies).
    GQ("q71_entity_resolution",
      (s, dir) => graft.core.Checkpoints.scoped { scope =>
        val base = t(s, dir).part.select(col("p_partkey").as("id"),
          concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"))
            .as("name"),
          col("p_size").as("sz"),
          round(col("p_retailprice") * 100).cast("long").as("pc"))
        val dirty = base.filter(col("id") % 5 === 0)
          .select((col("id") + 1000000L).as("id"),
            concat(lit("x"), expr("substring(name, 2)")).as("name"),
            col("sz"), col("pc"))
        val recs = base.unionAll(dirty)
        // exact-clone collapse BEFORE the pairwise stage (the same
        // quadratic-blowup guard the MinHash/Jaccard dedups use): the
        // match predicate depends only on the attribute tuple, so
        // records sharing (name, sz, pc) have identical match sets —
        // one representative per distinct tuple carries the fuzzy
        // work, and per-block candidate volume is Σ|distinct block|²
        // however many clones the corpus stacks on each tuple. Groups
        // remember their min id (the label seed) and size (the match
        // count contribution).
        val grp = scope.cache(recs.groupBy(col("name"), col("sz"), col("pc"))
          .agg(min(col("id")).as("gmin"), count(lit(1)).as("gsz")))
        val blocked = grp.withColumn("bk", expr("substring(name, 3, 8)"))
        // gmin < gmin orders distinct tuples (ids are unique, so group
        // minima are too); clone pairs never reach the join
        val cand = blocked.as("a").join(blocked.as("b"),
            col("a.bk") === col("b.bk") &&
              col("a.gmin") < col("b.gmin") &&
              col("a.sz") === col("b.sz") && col("a.pc") === col("b.pc") &&
              levenshtein(col("a.name"), col("b.name")) <= 2)
          .select(col("a.gmin").as("ga"), col("a.gsz").as("gasz"),
            col("b.gmin").as("gb"), col("b.gsz").as("gbsz"))
        val nbrG = cand.select(col("ga").as("g"), col("gb").as("ng"),
            col("gbsz").as("nsz"))
          .unionAll(cand.select(col("gb").as("g"), col("ga").as("ng"),
            col("gasz").as("nsz")))
        val gagg = nbrG.groupBy(col("g"))
          .agg(min(col("ng")).as("mng"), sum(col("nsz")).as("msz"))
        // per-record expansion: a record's direct matches are its own
        // clones (gsz − 1) plus every member of a fuzzy-matched group;
        // its 1-hop min label is min(own group min, matched group
        // minima) — identical to the naive per-record formulation the
        // SQL oracle spells out, clone-for-clone
        val gfull = grp.join(gagg, col("gmin") === col("g"), "left")
          .select(col("name"), col("sz"), col("pc"), col("gmin"),
            col("gsz"),
            least(col("gmin"), coalesce(col("mng"), col("gmin")))
              .as("gentity"),
            coalesce(col("msz"), lit(0L)).as("mout"))
        recs.join(gfull, Seq("name", "sz", "pc"))
          .select(col("id").as("record_id"),
            col("gentity").as("entity_id"),
            (col("gsz") - 1 + col("mout")).as("n_matches"))
      },
      Some("""WITH base AS (
             |  SELECT p_partkey AS id,
             |    p_name || ' ' || p_brand || ' ' || p_type AS name,
             |    p_size AS sz,
             |    CAST(round(p_retailprice * 100) AS BIGINT) AS pc
             |  FROM part),
             |dirty AS (
             |  SELECT id + 1000000 AS id, 'x' || substr(name, 2) AS name,
             |    sz, pc
             |  FROM base WHERE id % 5 = 0),
             |al AS (SELECT * FROM base UNION ALL SELECT * FROM dirty),
             |bl AS (SELECT id, name, sz, pc, substr(name, 3, 8) AS bk
             |  FROM al),
             |cand AS (
             |  SELECT a.id AS id_a, b.id AS id_b
             |  FROM bl a JOIN bl b ON a.bk = b.bk AND a.id < b.id
             |    AND a.sz = b.sz AND a.pc = b.pc
             |    AND levenshtein(a.name, b.name) <= 2),
             |nbr AS (
             |  SELECT id_a AS id, id_b AS nb FROM cand
             |  UNION ALL SELECT id_b, id_a FROM cand)
             |SELECT al.id AS record_id,
             |  CAST(least(al.id, coalesce(min(n.nb), al.id)) AS BIGINT)
             |    AS entity_id,
             |  CAST(count(n.nb) AS BIGINT) AS n_matches
             |FROM al LEFT JOIN nbr n ON n.id = al.id
             |GROUP BY al.id""".stripMargin)),

    // ---- robust time-series anomaly detection (median/MAD z-score) —
    // the monitoring primitive behind "did yesterday's volume spike":
    // daily revenue vs the median, scaled by the median absolute
    // deviation (robust to the outliers it hunts, unlike mean/stddev).
    // Everything stays in exact integer arithmetic: the heavy work is
    // the first day-keyed aggregation (map-side combined); the two
    // medians run over the DAY table, whose cardinality is the time
    // range, not the fact volume — at 100 TB that's still thousands of
    // rows, so exact percentile there is free. All medians are taken in
    // a ×2 domain (midpoint of two ints ×2 is an int), so the scores
    // are integer-exact in both engines; 3.5 MADs is the conventional
    // outlier fence.
    GQ("q72_anomaly_mad",
      (s, dir) => graft.core.Checkpoints.scoped { scope =>
        // cached: the day table is tiny (bounded by the time range) but
        // three consumers (median, deviations, MAD) would otherwise
        // re-run the FACT scan + day aggregation each
        val daily = scope.cache(t(s, dir).orders
          .groupBy(date_format(to_date(col("o_orderdate")), "yyyy-MM-dd")
            .as("day"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("rev_cents")))
        val med = daily.agg(
          expr("cast(percentile(2 * rev_cents, 0.5) as bigint)")
            .as("med2x"))
        val dev = daily.crossJoin(broadcast(med))
          .withColumn("dev2x", abs(lit(2) * col("rev_cents")
            - col("med2x")))
        val mad = dev.agg(
          expr("cast(percentile(2 * dev2x, 0.5) as bigint)").as("mad2x2"))
        dev.crossJoin(broadcast(mad))
          .select(col("day"), col("rev_cents"),
            expr("(2000000 * dev2x) div mad2x2").as("score_micro"))
          .withColumn("is_outlier",
            when(col("score_micro") >= 3500000L, 1L).otherwise(0L))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS rev_cents
             |  FROM orders GROUP BY 1),
             |m AS (SELECT CAST(quantile_cont(2 * rev_cents, 0.5)
             |  AS BIGINT) AS med2x FROM daily),
             |d AS (SELECT day, rev_cents,
             |    abs(2 * rev_cents - med2x) AS dev2x
             |  FROM daily, m),
             |md AS (SELECT CAST(quantile_cont(2 * dev2x, 0.5) AS BIGINT)
             |  AS mad2x2 FROM d)
             |SELECT day, rev_cents,
             |  CAST((2000000 * dev2x) // mad2x2 AS BIGINT) AS score_micro,
             |  CAST(CASE WHEN (2000000 * dev2x) // mad2x2 >= 3500000
             |    THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
             |FROM d, md""".stripMargin)),

    // ---- marketing attribution: LAST-TOUCH revenue per channel ------
    // The composed timeline shape, not a join: purchases and touch
    // events (click/view) merge into one per-user event stream, a
    // single carry-forward window (the q66 LOCF idiom) stamps each
    // purchase with its most recent preceding touch, and a 7-day
    // lookback decides attributed vs organic. ONE shuffle on user_id
    // total — at 100 TB this beats the as-of-join formulation (q34)
    // whenever touches and conversions live in the same event firehose,
    // because the sort absorbs both sides at once. Ties are impossible
    // by contract, not by data: the window orders by (ts, is_purchase,
    // event_id), a total order both engines sort identically (same-
    // instant touches attribute before the purchase consumes them).
    // Revenue quantizes per row to micro-units before summing.
    GQ("q75_attribution",
      (s, dir) => {
        val tl = t(s, dir).events
          .filter(col("event_type").isin("click", "view", "purchase"))
          .select(col("user_id"), col("ts"), col("event_type"),
            col("event_id"), col("value"),
            when(col("event_type") === "purchase", 1).otherwise(0)
              .as("is_p"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("is_p"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val stamped = tl.select(col("*"),
          last(when(col("is_p") === 0, col("ts")), ignoreNulls = true)
            .over(w).as("lt_ts"),
          last(when(col("is_p") === 0, col("event_type")),
            ignoreNulls = true).over(w).as("lt_type"))
        stamped.filter(col("is_p") === 1)
          .select(
            when(col("lt_ts").isNotNull &&
                col("lt_ts") >= col("ts") - expr("INTERVAL 7 DAYS"),
              col("lt_type")).otherwise(lit("none")).as("channel"),
            floor(col("value") * 10000 + 0.5).cast("long").as("rev"))
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("rev")).as("revenue_micro"))
      },
      Some("""WITH tl AS (
             |  SELECT user_id, ts, event_type, event_id, value,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
             |  FROM events
             |  WHERE event_type IN ('click', 'view', 'purchase')),
             |c AS (
             |  SELECT *,
             |    last_value(CASE WHEN is_p = 0 THEN ts END IGNORE NULLS)
             |      OVER w AS lt_ts,
             |    last_value(CASE WHEN is_p = 0 THEN event_type END
             |      IGNORE NULLS) OVER w AS lt_type
             |  FROM tl
             |  WINDOW w AS (PARTITION BY user_id
             |    ORDER BY ts, is_p, event_id ROWS UNBOUNDED PRECEDING))
             |SELECT CASE WHEN lt_ts IS NOT NULL
             |    AND lt_ts >= ts - INTERVAL '7 days'
             |    THEN lt_type ELSE 'none' END AS channel,
             |  count(*) AS n_purchases,
             |  CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
             |    AS BIGINT) AS revenue_micro
             |FROM c WHERE is_p = 1 GROUP BY 1""".stripMargin)),

    // ---- read-side PARTITION PRUNING over a directory-partitioned
    // sink: write orders partitioned by status (Sinks S2 surface), read
    // one status back, and REQUIRE — in the query itself, the q54
    // self-verifying idiom — that the filter lands in the scan's
    // PartitionFilters (directory-level pruning: untouched partitions
    // are never listed, let alone read). At 100 TB this is the
    // difference between scanning one status's files and scanning the
    // table; the oracle computes the same aggregate from the unsplit
    // source, so the partitioned round-trip is also value-pinned.
    GQ("q76_partition_prune",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val o = t(s, dir).orders.select(col("o_orderkey"),
          col("o_orderstatus").as("st"), centsCol.as("cents"))
        withScratch("graft-partprune") { scratch =>
          graft.sources.Sinks.parquet(o, s"$scratch/by_status",
            partitionBy = Seq("st"))
          val pruned = s.read.parquet(s"$scratch/by_status")
            .filter(col("st") === "F")
          val agg = pruned.agg(count(lit(1)).as("n"),
            sum(col("cents")).as("c"))
          // structural check on the aggregate's physical plan: the
          // status predicate must live in the scan's partitionFilters
          // (not dataFilters), i.e. directory-level pruning — inspecting
          // the expressions survives plan-string format drift across
          // Spark versions. sparkPlan, not executedPlan: AQE wraps the
          // latter in an AdaptiveSparkPlanExec whose children are not
          // traversable by collect, and partition filters are decided at
          // planning time anyway.
          val scans = agg.queryExecution.sparkPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }
          // the equality itself must be a partition filter — a bare
          // "references st" test would be satisfied by the implicit
          // isnotnull(st) alone even if st = 'F' stopped pruning
          import org.apache.spark.sql.catalyst.expressions.{
            AttributeReference, EqualTo, Literal}
          def prunesOnF(f: org.apache.spark.sql.execution
              .FileSourceScanExec): Boolean =
            f.partitionFilters.exists(_.exists {
              case EqualTo(a: AttributeReference, Literal(v, _)) =>
                a.name == "st" && String.valueOf(v) == "F"
              case EqualTo(Literal(v, _), a: AttributeReference) =>
                a.name == "st" && String.valueOf(v) == "F"
              case _ => false
            })
          require(scans.nonEmpty && scans.forall(prunesOnF),
            "st = 'F' did not prune at the partition level: " +
              scans.map(_.partitionFilters.mkString("[", ", ", "]"))
                .mkString("; "))
          val r = agg.collect()(0)
          localResult(s, StructType(Seq(
            StructField("st", StringType),
            StructField("n_orders", LongType),
            StructField("cents_total", LongType))),
            Seq(Row("F", r.getLong(0), r.getLong(1))))
        }
      },
      Some(s"""SELECT 'F' AS st, count(*) AS n_orders,
             |  CAST(sum($CentsSql) AS BIGINT) AS cents_total
             |FROM orders WHERE o_orderstatus = 'F'""".stripMargin))
  )

  /** DuckDB replay of operators.HyperLogLog — register index from 2
    * positional md5 hex digits, rank ρ via regexp leading-zero count +
    * nibble CASE (string algebra only: floor(log2()) is libm-dependent
    * at exact powers of two), harmonic sum of dyadics (exact in double,
    * order-independent), estimate = one division by the α·m² literal
    * both engines parse to the identical IEEE double. Shared by
    * q57_hll_distinct and stream_hll_distinct — one oracle pins
    * batch ≡ streamed ≡ SQL.
    */
  private[queries] object HllOracle {
    /** THE estimate fragment (an aggregate select-list expression over
      * register rows (bucket, r)) — single SQL source of truth
      * mirroring operators.HyperLogLog.harmonicSum, incl. the coalesce
      * that makes an empty register set the all-absent sum S = m.
      * Used by `leg`, `groupedCtes`, and q63's merged-register reads.
      */
    def estExprSql: String =
      s"""CAST(floor(CAST(${graft.operators.HyperLogLog.AlphaM2}
         |        AS DOUBLE) /
         |      (coalesce(sum(CAST(1.0 AS DOUBLE)
         |          / (CAST(1 AS BIGINT) << r)), CAST(0.0 AS DOUBLE))
         |        + (${graft.operators.HyperLogLog.M} - count(*))))
         |      AS BIGINT)""".stripMargin

    /** One (key_name, n_exact, n_est) leg over `table`.`keyCol`. */
    def leg(name: String, table: String, keyCol: String): String =
      s"""SELECT '$name' AS key_name,
         |  (SELECT CAST(count(DISTINCT $keyCol) AS BIGINT) FROM $table)
         |    AS n_exact,
         |  (SELECT $estExprSql
         |   FROM (
         |     SELECT bucket, max(rho) AS r FROM (
         |       SELECT
         |         CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
         |           + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
         |           AS INT) AS bucket,
         |         CASE WHEN z = 8 THEN 33 ELSE z * 4 +
         |           CASE WHEN c = '1' THEN 3
         |                WHEN c IN ('2', '3') THEN 2
         |                WHEN c IN ('4', '5', '6', '7') THEN 1
         |                ELSE 0 END + 1 END AS rho
         |       FROM (
         |         SELECT h, z, substr(h8, z + 1, 1) AS c FROM (
         |           SELECT h, h8,
         |             length(regexp_extract(h8, '^(0*)', 1)) AS z
         |           FROM (
         |             SELECT h, substr(h, 3, 8) AS h8 FROM (
         |               SELECT md5(CAST($keyCol AS VARCHAR)) AS h
         |               FROM $table)))))
         |     GROUP BY 1)) AS n_est""".stripMargin

    def sql(keys: Seq[(String, String, String)]): String =
      keys.map { case (n, t, c) => leg(n, t, c) }.mkString("\nUNION ALL\n")

    /** Grouped-register CTE pair `ihreg`/`ihest`: one m-register set and
      * one raw estimate per value of `groupCol` (q62's incremental-
      * maintenance oracle replays the FULL-table sketch; the engine
      * merges persisted + delta registers — equal because register max
      * is associative).
      */
    def groupedCtes(table: String, keyCol: String, groupCol: String)
        : String =
      s"""ihreg AS MATERIALIZED (
         |  SELECT g, bucket, max(rho) AS r FROM (
         |    SELECT g,
         |      CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
         |        + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
         |        AS INT) AS bucket,
         |      CASE WHEN z = 8 THEN 33 ELSE z * 4 +
         |        CASE WHEN c = '1' THEN 3
         |             WHEN c IN ('2', '3') THEN 2
         |             WHEN c IN ('4', '5', '6', '7') THEN 1
         |             ELSE 0 END + 1 END AS rho
         |    FROM (
         |      SELECT g, h, z, substr(h8, z + 1, 1) AS c FROM (
         |        SELECT g, h, h8,
         |          length(regexp_extract(h8, '^(0*)', 1)) AS z
         |        FROM (
         |          SELECT g, h, substr(h, 3, 8) AS h8 FROM (
         |            SELECT $groupCol AS g,
         |              md5(CAST($keyCol AS VARCHAR)) AS h
         |            FROM $table)))))
         |  GROUP BY 1, 2),
         |ihest AS (
         |  SELECT g, $estExprSql AS n_est
         |  FROM ihreg GROUP BY 1)""".stripMargin
  }
}
