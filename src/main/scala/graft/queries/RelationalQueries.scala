package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.operators.Dedup
import graft.functions.GraftFunctions
import graft.functions.XFormulas._
import graft.queries.Shared._

/** Relational and TPC-H queries: scans, filters, joins (range joins
  * included), aggregates, windows, set operations, pivots, scalar
  * functions, MERGE/CDC/IVM, over the TPC-H tables (SURVEY.md §2). */
object RelationalQueries {

  private val pivotFlags = QuerySpec("q_pivot_flags", (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("l_returnflag") === "A", dec(col("l_quantity"))))
          .cast("double").as("qty_a"),
        sum(when(col("l_returnflag") === "N", dec(col("l_quantity"))))
          .cast("double").as("qty_n"),
        sum(when(col("l_returnflag") === "R", dec(col("l_quantity"))))
          .cast("double").as("qty_r"),
        count(lit(1)).as("n")),
    """SELECT l_linestatus,
                  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
                  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
                  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r,
                  COUNT(*) AS n
           FROM lineitem GROUP BY l_linestatus""")

  // q_range_join and q_range_join_auto: one abs-tolerance theta join,
  // bucketed by hand or by BucketedRangeJoinRule
  private val rangeJoinOracle =
    """SELECT p_brand, COUNT(*) AS n_pairs
         FROM lineitem JOIN part ON abs(l_quantity - p_size) <= 2
         GROUP BY p_brand"""

  // q_topk_group and q_topk_group_window: one top-k per group
  private val topkGroupOracle =
    """SELECT l_partkey, l_orderkey, l_linenumber, rn FROM (
             SELECT l_partkey, l_orderkey, l_linenumber,
                    ROW_NUMBER() OVER (PARTITION BY l_partkey
                      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
             FROM lineitem) WHERE rn <= 2"""

  val all: Seq[QuerySpec] = Seq(
    // ----- S1 scan + P1/P2 projection with alias (database.py:231-263) -----
    QuerySpec("q_scan_project", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("qty")),
      "SELECT l_orderkey, l_linenumber, l_quantity AS qty FROM lineitem"),

    // ----- F1 equality filter on str column (database.py:443-458) -----
    QuerySpec("q_filter_eq", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag")),
      """SELECT l_orderkey, l_linenumber, l_returnflag
         FROM lineitem WHERE l_returnflag = 'R'"""),

    // ----- F1 != filter (database.py:452-453) -----
    QuerySpec("q_filter_neq", (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .select(col("o_orderkey"), col("o_orderstatus")),
      "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus <> 'F'"),

    // ----- F1 range ops + F3 AND conjunction (database.py:313-335) -----
    QuerySpec("q_filter_range", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 30 && col("l_discount") < 0.05 &&
          col("l_tax") <= 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount")),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
         FROM lineitem
         WHERE l_quantity >= 30 AND l_discount < 0.05 AND l_tax <= 0.05"""),

    // ----- timestamp-predicate filter (pushes to parquet scan) -----
    QuerySpec("q_filter_date", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01")
        .select(col("l_orderkey"), col("l_linenumber")),
      """SELECT l_orderkey, l_linenumber FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'"""),

    // ----- J1 equi join; dim side broadcast (database.py:526-537) -----
    QuerySpec("q_join_equi", (s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice")),
      """SELECT o_orderkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey"""),

    // ----- J2 != theta join (database.py:539-553) -----
    QuerySpec("q_join_theta_neq", (s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") =!= col("r_regionkey"))
        .select(col("n_name"), col("r_name")),
      """SELECT n_name, r_name
         FROM nation JOIN region ON n_regionkey <> r_regionkey"""),

    // ----- J3 range theta join + J7 self join (database.py:555-617) -----
    QuerySpec("q_join_range", (s, dir) => {
      val sup = t(s, dir, "supplier")
      sup.as("a").join(broadcast(sup.as("b")),
          col("a.s_acctbal") > col("b.s_acctbal"))
        .select(col("a.s_suppkey").as("richer"),
          col("b.s_suppkey").as("poorer"))
    },
      """SELECT a.s_suppkey AS richer, b.s_suppkey AS poorer
         FROM supplier a JOIN supplier b ON a.s_acctbal > b.s_acctbal"""),

    // ----- J7 self equi join via aliases (database.py:213-219) -----
    QuerySpec("q_join_self", (s, dir) => {
      val n = t(s, dir, "nation")
      n.as("n1").join(n.as("n2"),
          col("n1.n_regionkey") === col("n2.n_regionkey") &&
          col("n1.n_nationkey") < col("n2.n_nationkey"))
        .select(col("n1.n_name").as("nation_a"),
          col("n2.n_name").as("nation_b"))
    },
      """SELECT n1.n_name AS nation_a, n2.n_name AS nation_b
         FROM nation n1 JOIN nation n2
           ON n1.n_regionkey = n2.n_regionkey
          AND n1.n_nationkey < n2.n_nationkey"""),

    // ----- J5 compound join predicates, same pair (database.py:294-311) ---
    QuerySpec("q_join_compound", (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey") &&
          col("l_quantity") > col("p_size"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty")),
      """SELECT p_brand, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN part
           ON l_partkey = p_partkey AND l_quantity > p_size
         GROUP BY p_brand"""),

    // ----- tolerance range join via bucketing + factorized counting -----
    // The quantity/size domains are tiny (~50 values), so materializing
    // the matching PAIRS is inherently quadratic (~1.2B at sf0.1). For a
    // count-style aggregate the scalable form is factorized: range-join
    // the two value HISTOGRAMS (50 x ~1.2k rows) and multiply counts —
    // identical result, pair materialization never happens.
    QuerySpec("q_range_join", (s, dir) => {
      val liHist = t(s, dir, "lineitem")
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("cnt_l"))
      val partHist = t(s, dir, "part")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("cnt_p"))
      graft.operators.RangeJoin.bucketed(liHist, "l_quantity",
          partHist, "p_size", 2.0)
        .groupBy(col("p_brand"))
        .agg(sum(col("cnt_l") * col("cnt_p")).as("n_pairs"))
    },
      rangeJoinOracle),

    // same query through the OPTIMIZER RULE: a naive abs-tolerance theta
    // join that BucketedRangeJoinRule rewrites to the bucketed equi join
    // automatically (plan-asserted in RangeJoinSpec)
    QuerySpec("q_range_join_auto", (s, dir) => {
      val liHist = t(s, dir, "lineitem")
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("cnt_l"))
      val partHist = t(s, dir, "part")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("cnt_p"))
      liHist.join(partHist,
          abs(col("l_quantity") - col("p_size")) <= 2)
        .groupBy(col("p_brand"))
        .agg(sum(col("cnt_l") * col("cnt_p")).as("n_pairs"))
    },
      rangeJoinOracle),

    // the rule's asymmetric BETWEEN band form: quantity within
    // [size - 1, size + 3] — auto-rewritten to the same bucketed equi
    // join (RangeJoinSpec pins the no-BNLJ plan)
    QuerySpec("q_range_join_band", (s, dir) => {
      val liHist = t(s, dir, "lineitem")
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("cnt_l"))
      val partHist = t(s, dir, "part")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("cnt_p"))
      liHist.join(partHist,
          col("l_quantity") >= col("p_size") - 1 &&
            col("l_quantity") <= col("p_size") + 3)
        .groupBy(col("p_brand"))
        .agg(sum(col("cnt_l") * col("cnt_p")).as("n_pairs"))
    },
      """SELECT p_brand, COUNT(*) AS n_pairs
         FROM lineitem JOIN part
           ON l_quantity >= p_size - 1 AND l_quantity <= p_size + 3
         GROUP BY p_brand"""),

    // the rule's interval-containment form: point-in-interval join
    // bucketed by floor(v/w) with the interval side exploded to its
    // covered buckets
    QuerySpec("q_range_join_interval", (s, dir) => {
      val liHist = t(s, dir, "lineitem")
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("cnt_l"))
      val iv = t(s, dir, "part")
        .select(col("p_brand"), col("p_size").as("lo"),
          (col("p_size") + 5).as("hi"))
        .groupBy(col("p_brand"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("cnt_p"))
      liHist.join(iv,
          col("l_quantity") >= col("lo") && col("l_quantity") <= col("hi"))
        .groupBy(col("p_brand"))
        .agg(sum(col("cnt_l") * col("cnt_p")).as("n_pairs"))
    },
      """SELECT p_brand, COUNT(*) AS n_pairs
         FROM lineitem JOIN part
           ON l_quantity >= p_size AND l_quantity <= p_size + 5
         GROUP BY p_brand"""),

    // ----- J6 multi-table join chain + agg (database.py:656-789) -----
    QuerySpec("q_join_multi", (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items")),
      """SELECT r_name, n_name,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue,
                COUNT(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name"""),

    // ----- TPC-H Q3-style shipping priority: selective join + agg + topk
    QuerySpec("q3_shipping", (s, dir) =>
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") < "1998-01-01"),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .filter(col("l_shipdate") > "1996-06-30"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10),
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1996-06-30'
         GROUP BY o_orderkey, odate
         ORDER BY revenue DESC, o_orderkey LIMIT 10"""),

    // ----- Phase D: GROUP BY + COUNT/SUM (sql-to-json:146-181, disabled
    // in the reference) as full TPC-H Q1 -----
    QuerySpec("q1_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(dec(col("l_discount"))).cast("double") / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order")),
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
                COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),

    // ----- Aggregate + HAVING-style post-filter -----
    QuerySpec("q_group_having", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("spend"))
        .filter(col("cnt") >= 12),
      """SELECT o_custkey, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
         FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12"""),

    // ----- DISTINCT (dedup primitive, exact) -----
    QuerySpec("q_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct(),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    // ----- Global aggregates, no grouping -----
    QuerySpec("q_agg_global", (s, dir) =>
      t(s, dir, "lineitem")
        .agg(
          count(lit(1)).as("cnt"),
          countDistinct(col("l_partkey")).as("n_parts"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty")),
      """SELECT COUNT(*) AS cnt, COUNT(DISTINCT l_partkey) AS n_parts,
                MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
         FROM lineitem"""),

    // ----- ORDER BY + LIMIT (top-k; Spark plans TakeOrderedAndProject) ---
    QuerySpec("q_topk", (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice")),
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),

    // ----- Window function: per-customer top-3 orders -----
    QuerySpec("q_window_rank", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    },
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3"""),

    // ----- set operations -----
    QuerySpec("q_union_all", (s, dir) =>
      t(s, dir, "region").select(col("r_name").as("name"))
        .unionAll(t(s, dir, "nation").select(col("n_name").as("name"))),
      "SELECT r_name AS name FROM region UNION ALL SELECT n_name AS name FROM nation"),

    QuerySpec("q_intersect", (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk"))),
      "SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey AS nk FROM supplier"),

    QuerySpec("q_except", (s, dir) => // orders with no lineitems
      t(s, dir, "orders").select(col("o_orderkey").as("ok"))
        .except(t(s, dir, "lineitem").select(col("l_orderkey").as("ok"))),
      "SELECT o_orderkey AS ok FROM orders EXCEPT SELECT l_orderkey AS ok FROM lineitem"),

    QuerySpec("q_union_distinct", (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .distinct(),
      """SELECT c_nationkey AS nk FROM customer
           UNION SELECT s_nationkey AS nk FROM supplier"""),

    QuerySpec("q_except_all", (s, dir) => // multiset semantics: keeps dup counts
      t(s, dir, "lineitem").select(col("l_suppkey").as("sk"))
        .exceptAll(t(s, dir, "supplier").select(col("s_suppkey").as("sk"))),
      """SELECT l_suppkey AS sk FROM lineitem
           EXCEPT ALL SELECT s_suppkey AS sk FROM supplier"""),

    // ----- outer / semi / anti joins -----
    QuerySpec("q_outer_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders")),
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey"""),

    QuerySpec("q_semi_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")),
      """SELECT c_custkey, c_name FROM customer
           WHERE EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 300000)"""),

    QuerySpec("q_anti_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      """SELECT c_custkey, c_name FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey AND o_totalprice > 400000)"""),

    QuerySpec("q_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty")),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
           FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""),

    QuerySpec("q_grouping_sets", (s, dir) => {
      // explicit grouping sets: (returnflag), (linestatus) — no (a,b), no ()
      val li = t(s, dir, "lineitem")
      li.createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
               FROM lineitem_gs
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""")
    },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
           FROM lineitem
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""),

    // ----- rollup + pivot-style conditional aggregation -----
    QuerySpec("q_rollup", (s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n")),
      """SELECT r_name, n_name, COUNT(*) AS n
           FROM nation JOIN region ON n_regionkey = r_regionkey
           GROUP BY ROLLUP(r_name, n_name)"""),

    pivotFlags,

    // ----- scalar functions -----
    QuerySpec("q_string_funcs", (s, dir) =>
      t(s, dir, "part").selectExpr(
        "p_partkey",
        "upper(p_name) AS uname",
        "substr(p_type, 1, 5) AS t5",
        "CAST(length(p_brand) AS BIGINT) AS blen",
        "concat(p_brand, '#', p_type) AS tag"),
      """SELECT p_partkey, upper(p_name) AS uname, substr(p_type, 1, 5) AS t5,
                  CAST(length(p_brand) AS BIGINT) AS blen,
                  concat(p_brand, '#', p_type) AS tag
           FROM part"""),

    QuerySpec("q_date_funcs", (s, dir) =>
      t(s, dir, "orders")
        .selectExpr("CAST(year(o_orderdate) AS BIGINT) AS yr",
          "CAST(month(o_orderdate) AS BIGINT) AS mo",
          "date_format(o_orderdate, 'yyyy-MM') AS ym")
        .groupBy("yr", "mo", "ym")
        .agg(count(lit(1)).as("n")),
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(month(o_orderdate) AS BIGINT) AS mo,
                  strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS n
           FROM orders GROUP BY 1, 2, 3"""),

    // ----- more window shapes -----
    QuerySpec("q_window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        sum(dec(col("o_totalprice"))).over(w).cast("double")
          .as("running_spend"))
    },
      """SELECT o_custkey, o_orderkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
           FROM orders"""),

    QuerySpec("q_lag_lead", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
    },
      """SELECT o_custkey, o_orderkey,
                  lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
                  lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
           FROM orders"""),

    // global NTILE without the single-partition window: two-phase
    // range-partitioned rank + broadcast total (plans.ParallelRank) —
    // the orders table is fact-sized, so the global sort must stay
    // parallel at 100 TB
    QuerySpec("q_ntile", (s, dir) =>
      graft.plans.ParallelRank.ntile(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "tile", 4, 32, col("o_totalprice"), col("o_orderkey"))
        .select(col("o_orderkey"), col("tile")),
      """SELECT o_orderkey,
                  CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS tile
           FROM orders"""),

    // ----- scalar subquery (broadcast the 1-row aggregate) -----
    QuerySpec("q_scalar_subquery", (s, dir) => {
      val orders = t(s, dir, "orders")
      val avgDf = orders.agg(
        (sum(dec(col("o_totalprice"))).cast("double") / count(lit(1)))
          .as("avg_price"))
      orders.crossJoin(broadcast(avgDf))
        .filter(col("o_totalprice") > col("avg_price"))
        .select(col("o_orderkey"), col("o_totalprice"))
    },
      """SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)"""),

    // ----- the Dataset.pivot API proper (q_pivot_flags is the manual
    // CASE-sum form; same result, same oracle shape) -----
    QuerySpec("q_pivot_api", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(dsum(col("l_quantity")))
        .select(col("l_linestatus"), col("A").as("qty_a"),
          col("N").as("qty_n"), col("R").as("qty_r")),
      """SELECT l_linestatus,
                  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
                  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
                  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
           FROM lineitem GROUP BY l_linestatus"""),

    // ----- collection aggregates with deterministic ordering -----
    QuerySpec("q_collect_agg", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("array_join(slice(sort_array(collect_list(o_orderkey)), 1, 5), ',')")
            .as("first5"),
          expr("CAST(size(collect_set(o_custkey)) AS BIGINT)").as("n_cust")),
      """SELECT o_orderstatus, COUNT(*) AS n,
                  array_to_string(list_sort(list(o_orderkey))[1:5], ',') AS first5,
                  CAST(len(list_distinct(list(o_custkey))) AS BIGINT) AS n_cust
           FROM orders GROUP BY o_orderstatus"""),

    // ----- TPC-H Q18-style: large-volume orders (agg → join → top-k) -----
    QuerySpec("q18_big_orders", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
          col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(100)
    },
      """WITH big AS (SELECT l_orderkey,
                               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
                        FROM lineitem GROUP BY l_orderkey
                        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250)
           SELECT c_name, o_orderkey, o_totalprice, sum_qty
           FROM big
           JOIN orders   ON o_orderkey = l_orderkey
           JOIN customer ON o_custkey = c_custkey
           ORDER BY sum_qty DESC, o_orderkey LIMIT 100"""),

    // ----- TPC-H Q5-style: regional revenue with co-located cust/supp -----
    QuerySpec("q5_region_volume", (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
        .groupBy(col("n_name"))
        .agg(expr(
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_items")),
      """SELECT n_name,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           JOIN nation   ON s_nationkey = n_nationkey
           JOIN region   ON n_regionkey = r_regionkey
           WHERE r_name = 'ASIA'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1997-01-01'
           GROUP BY n_name"""),

    // ----- TPC-H Q10-style: top customers by returned-item revenue -----
    QuerySpec("q10_returns", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .filter(col("l_returnflag") === "R" &&
          col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01")
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(expr(
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20),
      """SELECT c_custkey, c_name, n_name,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
           FROM customer
           JOIN orders   ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN nation   ON c_nationkey = n_nationkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1996-07-01'
           GROUP BY c_custkey, c_name, n_name
           ORDER BY revenue DESC, c_custkey LIMIT 20"""),

    // ----- MERGE INTO emulation: one full-outer shuffle on the key -----
    QuerySpec("q_merge_upsert", (s, dir) => {
      // persist barrier: base feeds the update set, the insert set, AND
      // the merge target — one orders scan instead of three
      val base = graft.operators.Dedup.persistTracked(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice")))
      val upd = base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (dec(col("o_totalprice")) + 10).cast("double").as("o_totalprice"))
      val ins = base.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit("I").as("o_orderstatus"), col("o_totalprice"))
      graft.operators.Merge.upsert(base, upd.unionAll(ins), "o_orderkey")
    },
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
           upd AS (SELECT o_orderkey, 'U' AS o_orderstatus,
                          CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS DOUBLE) AS o_totalprice
                   FROM base WHERE o_orderkey % 7 = 0),
           ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
                          'I' AS o_orderstatus, o_totalprice
                   FROM base WHERE o_orderkey % 11 = 0),
           delta AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
           SELECT coalesce(d.o_orderkey, b.o_orderkey) AS o_orderkey,
                  coalesce(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
                  coalesce(d.o_totalprice, b.o_totalprice) AS o_totalprice
           FROM base b FULL JOIN delta d ON b.o_orderkey = d.o_orderkey"""),

    // ----- unpivot/melt (inverse of q_pivot_flags) -----
    QuerySpec("q_unpivot", (s, dir) =>
      pivotFlags.run(s, dir)
        .unpivot(Array(col("l_linestatus")),
          Array(col("qty_a"), col("qty_n"), col("qty_r")), "flag", "qty")
        .filter(col("qty").isNotNull),
      """WITH p AS (SELECT l_linestatus,
                  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
                  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
                  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
           FROM lineitem GROUP BY l_linestatus)
           SELECT l_linestatus, 'qty_a' AS flag, qty_a AS qty FROM p WHERE qty_a IS NOT NULL
           UNION ALL
           SELECT l_linestatus, 'qty_n' AS flag, qty_n AS qty FROM p WHERE qty_n IS NOT NULL
           UNION ALL
           SELECT l_linestatus, 'qty_r' AS flag, qty_r AS qty FROM p WHERE qty_r IS NOT NULL"""),

    // ----- RFM customer segmentation: recency/frequency/monetary
    // quartiles. Each quartile is a GLOBAL ntile over the per-customer
    // table — computed with the two-phase range-partitioned rank
    // (plans.ParallelRank), never a single-partition window: the
    // per-customer frame is itself fact-scaled (hundreds of millions of
    // customers at 100 TB) -----
    QuerySpec("q_rfm", (s, dir) => {
      // persist barrier (opt guide §5): the first ntile's
      // repartitionByRange SAMPLES its input before shuffling it, so an
      // unpersisted cust ran the orders aggregation twice (sampling
      // pass + data pass); the two later ntiles read their persisted
      // predecessors already
      val cust = Dedup.persistTracked(t(s, dir, "orders")
        .withColumn("t_us", expr("unix_micros(cast(o_orderdate as timestamp))"))
        .groupBy(col("o_custkey"))
        .agg(max(col("t_us")).as("last_us"),
          count(lit(1)).as("freq"),
          sum(dec(col("o_totalprice"))).cast("double").as("monetary")))
      val r1 = graft.plans.ParallelRank.ntile(cust, "rq", 4, 32,
        col("last_us").desc, col("o_custkey"))
      val r2 = graft.plans.ParallelRank.ntile(r1, "fq", 4, 32,
        col("freq").desc, col("o_custkey"))
      graft.plans.ParallelRank.ntile(r2, "mq", 4, 32,
        col("monetary").desc, col("o_custkey"))
        .withColumn("segment", expr("concat(rq, fq, mq)"))
        .select(col("o_custkey"), col("freq"), col("monetary"),
          col("rq"), col("fq"), col("mq"), col("segment"))
    },
      """WITH cust AS (SELECT o_custkey, MAX(epoch_us(o_orderdate)) AS last_us,
                                COUNT(*) AS freq,
                                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
                         FROM orders GROUP BY o_custkey),
           q AS (SELECT o_custkey, freq, monetary,
                        CAST(NTILE(4) OVER (ORDER BY last_us DESC, o_custkey) AS BIGINT) AS rq,
                        CAST(NTILE(4) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS fq,
                        CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS mq
                 FROM cust)
           SELECT o_custkey, freq, monetary, rq, fq, mq,
                  concat(rq, fq, mq) AS segment
           FROM q"""),

    // ----- RANGE window frame: trailing-30-day per-customer stats -----
    QuerySpec("q_window_range_frame", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("t_us"))
        .rangeBetween(-2592000000000L, Window.currentRow) // 30 days in µs
      t(s, dir, "orders")
        .withColumn("t_us", expr("unix_micros(cast(o_orderdate as timestamp))"))
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_trailing"),
          sum(dec(col("o_totalprice"))).over(w).cast("double")
            .as("spend_trailing"))
    },
      """SELECT o_custkey, o_orderkey,
                  COUNT(*) OVER w AS n_trailing,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_trailing
           FROM (SELECT *, epoch_us(o_orderdate) AS t_us FROM orders)
           WINDOW w AS (PARTITION BY o_custkey ORDER BY t_us
                        RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)"""),

    // ----- TPC-H Q2-style: rows matching a per-group max (correlated
    // scalar subquery semantics via join-with-aggregate) -----
    QuerySpec("q2_top_supplier", (s, dir) => {
      val sup = t(s, dir, "supplier")
      val best = sup.groupBy(col("s_nationkey").as("nk"))
        .agg(max(col("s_acctbal")).as("max_bal"))
      sup.join(best, col("s_nationkey") === col("nk") &&
          col("s_acctbal") === col("max_bal"))
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    },
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier s
           WHERE s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
                              WHERE s2.s_nationkey = s.s_nationkey)"""),

    // ----- TPC-H Q7-style: bilateral volume between two nations by year -----
    QuerySpec("q7_nation_volume", (s, dir) => {
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("sn_key"))
        .join(n2, col("c_nationkey") === col("cn_key"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(expr(
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_items"))
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                  CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
           WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
           GROUP BY supp_nation, cust_nation, yr"""),

    // ----- TPC-H Q22-style: rich-but-quiet customers (scalar subquery
    // threshold + conditional anti-join) -----
    QuerySpec("q22_quiet_rich", (s, dir) => {
      val cust = t(s, dir, "customer")
      val avgPos = cust.filter(col("c_acctbal") > 0)
        .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1)))
          .as("avg_bal"))
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 250000)
        .select(col("o_custkey"))
      cust.crossJoin(avgPos)
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal"))
    },
      """SELECT c_custkey, c_acctbal FROM customer
           WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                              FROM customer WHERE c_acctbal > 0)
             AND NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey AND o_totalprice > 250000)"""),

    // ----- window: first/last/nth value over an explicit full frame -----
    QuerySpec("q_window_firstlast", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        last(col("o_orderkey")).over(w).as("last_ok"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
    },
      """SELECT o_custkey, o_orderkey,
                  first_value(o_orderkey) OVER w AS first_ok,
                  last_value(o_orderkey) OVER w AS last_ok,
                  nth_value(o_orderkey, 2) OVER w AS second_ok
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""),

    // ----- share-of-total ratios (windowed denominator) -----
    QuerySpec("q_share_of_total", (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
        (dec(col("o_totalprice")).cast("double") /
          sum(dec(col("o_totalprice"))).over(w).cast("double"))
          .as("share"))
    },
      """SELECT o_orderkey, o_orderstatus,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) /
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS share
           FROM orders"""),

    // ----- inline VALUES dimension joined in (literal broadcast dim) -----
    QuerySpec("q_values_join", (s, dir) => {
      import s.implicits._
      val statusNames = Seq(("O", "open"), ("F", "fulfilled"), ("P", "pending"))
        .toDF("code", "status_name")
      t(s, dir, "orders")
        .join(broadcast(statusNames), col("o_orderstatus") === col("code"))
        .groupBy(col("status_name"))
        .agg(count(lit(1)).as("n"))
    },
      """SELECT status_name, COUNT(*) AS n
           FROM orders
           JOIN (VALUES ('O', 'open'), ('F', 'fulfilled'), ('P', 'pending'))
                AS dim(code, status_name)
             ON o_orderstatus = code
           GROUP BY status_name"""),

    // ----- bounded-frame moving average (exact decimal over the frame) -----
    QuerySpec("q_moving_avg", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-3, Window.currentRow)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        (sum(dec(col("o_totalprice"))).over(w).cast("double") /
          count(lit(1)).over(w)).as("mavg4"))
    },
      """SELECT o_custkey, o_orderkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                    / COUNT(*) OVER w AS mavg4
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)"""),

    // ----- rank() with REAL ties (coarse dates): gaps after tie groups;
    // every other ranking query uses a total order, this one exercises
    // the tie semantics proper -----
    QuerySpec("q_rank_ties", (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderdate"))
      t(s, dir, "orders").select(col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
    },
      """SELECT o_orderkey,
                  CAST("rank"() OVER w AS BIGINT) AS rnk,
                  CAST(dense_rank() OVER w AS BIGINT) AS drnk
           FROM orders
           WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate)"""),

    // ----- window: dense_rank / percent_rank / cume_dist -----
    QuerySpec("q_window_ranks2", (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(col("o_orderkey"),
        dense_rank().over(w).cast("long").as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
    },
      """SELECT o_orderkey,
                  CAST(dense_rank() OVER w AS BIGINT) AS drank,
                  percent_rank() OVER w AS prank,
                  cume_dist() OVER w AS cdist
           FROM orders
           WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)"""),

    // ----- conditional expressions: CASE / NULLIF / COALESCE / LEAST -----
    QuerySpec("q_conditional", (s, dir) =>
      t(s, dir, "lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CASE WHEN l_quantity >= 40 THEN 'bulk' WHEN l_quantity >= 10 THEN 'mid' ELSE 'small' END AS bucket",
        "coalesce(nullif(l_returnflag, 'N'), 'none') AS flag2",
        "least(l_quantity, l_discount * 1000) AS lo",
        "greatest(l_quantity, l_tax * 100) AS hi"),
      """SELECT l_orderkey, l_linenumber,
                  CASE WHEN l_quantity >= 40 THEN 'bulk' WHEN l_quantity >= 10 THEN 'mid' ELSE 'small' END AS bucket,
                  coalesce(nullif(l_returnflag, 'N'), 'none') AS flag2,
                  least(l_quantity, l_discount * 1000) AS lo,
                  greatest(l_quantity, l_tax * 100) AS hi
           FROM lineitem"""),

    // ----- explicit cross join (J9: the reference hangs; we execute) -----
    QuerySpec("q_cross_join", (s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name")),
      "SELECT r_name, n_name FROM region CROSS JOIN nation"),

    // ----- custom whole-operator plan: exact top-k per group via
    // partial/final map-side pruning (graft.plans.TopKPerGroup) -----
    QuerySpec("q_topk_group", (s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.plans.TopK.topKPerGroup(li, Seq("l_partkey"),
        Seq(li.col("l_extendedprice").desc, li.col("l_orderkey"),
          li.col("l_linenumber")), 2)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("rn"))
    },
      topkGroupOracle),

    // ----- TPC-H Q4-style: order priority with a conditioned EXISTS -----
    QuerySpec("q4_order_priority", (s, dir) => {
      val late = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-04-01")
        .join(late, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n_orders
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1996-04-01'
             AND EXISTS (SELECT 1 FROM lineitem
                         WHERE l_orderkey = o_orderkey
                           AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
           GROUP BY o_orderpriority"""),

    // ----- TPC-H Q14-style: promo revenue share (conditional ratio) -----
    QuerySpec("q14_promo_share", (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(col("l_shipdate") >= "1996-03-01" && col("l_shipdate") < "1996-04-01")
        .agg(
          expr("CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)")
            .as("promo_rev"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("total_rev"))
        .selectExpr("promo_rev", "total_rev",
          "100 * promo_rev / total_rev AS promo_pct"),
      """WITH f AS (SELECT * FROM lineitem JOIN part ON l_partkey = p_partkey
                      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
                        AND l_shipdate < TIMESTAMP '1996-04-01'),
           a AS (SELECT
             CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_rev,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev
             FROM f)
           SELECT promo_rev, total_rev, 100 * promo_rev / total_rev AS promo_pct
           FROM a"""),

    // ----- TPC-H Q19-style: disjunctive multi-attribute predicates -----
    QuerySpec("q19_disjunctive", (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 30)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 40)))
        .agg(expr(
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_items")),
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                  AND l_quantity BETWEEN 1 AND 30)
              OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                  AND l_quantity BETWEEN 10 AND 40)"""),

    // ----- TPC-H Q8-style: nation market share within a region, by
    // year. Two exact decimal sums then ONE division — engine-identical
    // doubles. Dims broadcast; the fact table shuffles once per agg -----
    QuerySpec("q8_market_share", (s, dir) => {
      val cn = broadcast(t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("n_nationkey").as("c_natkey")))
      val sn = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("s_natkey"),
          col("n_name").as("supp_nation")))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(cn, col("c_nationkey") === col("c_natkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("s_natkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          expr("CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN " +
            "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) " +
            "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)").as("nation_rev"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("total_rev"))
        .withColumn("mkt_share", expr("nation_rev / total_rev"))
    },
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                  CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN
                    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_rev,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev,
                  CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN
                    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
           FROM lineitem
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           GROUP BY 1"""),

    // ----- TPC-H Q9-style: profit by supplier nation and year (no
    // partsupp table in the corpus — cost is retailprice x quantity) -----
    QuerySpec("q9_profit", (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,2))) - " +
          "CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) " +
          "AS DOUBLE)").as("profit")),
      """SELECT n_name AS nation,
                  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2))) -
                           CAST(p_retailprice AS DECIMAL(18,2)) *
                           CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
           FROM lineitem
           JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation   ON s_nationkey = n_nationkey
           GROUP BY 1, 2"""),

    // ----- TPC-H Q11-style (no partsupp table: supplied VALUE is
    // emulated as sum(qty*price) per (nation, part)): parts whose
    // stocked value exceeds a fraction of the nation's total — the
    // HAVING-against-a-correlated-scalar shape. The national totals are
    // group-sized → broadcast back; the fraction literal is e0 -----
    QuerySpec("q11_value_share", (s, dir) => {
      // persist barrier (opt guide §5): `value` feeds BOTH the national
      // totals and the final share join — unpersisted, the plan scanned
      // lineitem and ran the (nationkey, partkey) aggregation TWICE
      // (round-11 plan audit: two full agg chains under one join).
      // Decimal sums are exact, so the barrier cannot perturb the hash.
      val value = Dedup.persistTracked(t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("l_partkey"))
        .agg(expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * " +
          "CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,4))")
          .as("val_dec")))
      val national = value.groupBy(col("s_nationkey"))
        .agg(sum(col("val_dec")).as("total_dec"))
      value.join(broadcast(national), Seq("s_nationkey"))
        .filter(col("val_dec").cast("double") >
          col("total_dec").cast("double") * lit(0.002))
        .select(col("s_nationkey"), col("l_partkey"),
          col("val_dec").cast("double").as("part_value"))
    },
      """WITH v AS (SELECT s_nationkey, l_partkey,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                           CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(28,4)) AS val_dec
                 FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                 GROUP BY 1, 2),
           n AS (SELECT s_nationkey, SUM(val_dec) AS total_dec
                 FROM v GROUP BY 1)
           SELECT v.s_nationkey, l_partkey,
                  CAST(val_dec AS DOUBLE) AS part_value
           FROM v JOIN n ON v.s_nationkey = n.s_nationkey
           WHERE CAST(val_dec AS DOUBLE)
                 > CAST(total_dec AS DOUBLE) * 0.002e0"""),

    // ----- TPC-H Q12-style (no shipmode/receiptdate columns: LATE =
    // shipped more than 60 days after the order date): order-priority
    // mix among late vs on-time lines — the CASE-sum-over-join shape -----
    QuerySpec("q12_late_lines", (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > expr("o_orderdate + INTERVAL 60 DAYS"))
        .groupBy(col("late"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_priority"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_priority")),
      """SELECT l_shipdate > o_orderdate + INTERVAL 60 DAY AS late,
                  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
                  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1"""),

    // ----- TPC-H Q15-style: THE top revenue supplier(s) — the
    // view + max-subquery shape; ties all surface (rank over the
    // 1-row broadcast max, no arbitrary pick) -----
    QuerySpec("q15_top_revenue", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01"))
        .groupBy(col("l_suppkey"))
        .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(28,4))")
          .as("rev_dec"))
      val top = rev.agg(max(col("rev_dec")).as("max_dec"))
      rev.crossJoin(broadcast(top))
        .filter(col("rev_dec") === col("max_dec"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_revenue"))
    },
      """WITH r AS (SELECT l_suppkey,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2))))
                    AS DECIMAL(28,4)) AS rev_dec
                 FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
                 GROUP BY 1),
           m AS (SELECT MAX(rev_dec) AS max_dec FROM r)
           SELECT l_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
           FROM r CROSS JOIN m
           JOIN supplier ON l_suppkey = s_suppkey
           WHERE rev_dec = max_dec"""),

    // ----- TPC-H Q20-style (no partsupp: availability emulated as each
    // supplier's total shipped qty per part): suppliers of RED parts
    // shipping above a volume threshold — the nested-semi-join shape,
    // all reductions before any join -----
    QuerySpec("q20_excess_parts", (s, dir) => {
      val redParts = t(s, dir, "part")
        .filter(col("p_name").startsWith("red "))
        .select(col("p_partkey"))
      val supplied = t(s, dir, "lineitem")
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(dec(col("l_quantity"))).as("qty_dec"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .filter(col("qty_dec").cast("double") > 40.0)
      supplied
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("qty_dec")).cast("double").as("total_qty"))
    },
      """WITH gp AS (SELECT p_partkey FROM part
                      WHERE p_name LIKE 'red %'),
           sup AS (SELECT l_suppkey, l_partkey,
                          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec,
                          COUNT(DISTINCT l_orderkey) AS n_orders
                   FROM lineitem JOIN gp ON l_partkey = p_partkey
                   GROUP BY 1, 2
                   HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                               AS DOUBLE) > 40.0e0)
           SELECT l_suppkey, s_name, COUNT(*) AS n_parts,
                  CAST(SUM(qty_dec) AS DOUBLE) AS total_qty
           FROM sup JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2"""),

    // ----- TPC-H Q13-style: customer distribution by order count,
    // INCLUDING zero-order customers (the left join is the point) -----
    QuerySpec("q13_custdist", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
          "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist")),
      """SELECT c_count, COUNT(*) AS custdist FROM (
             SELECT c_custkey, COUNT(o_orderkey) AS c_count
             FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             GROUP BY c_custkey)
           GROUP BY c_count"""),

    // ----- TPC-H Q16-style: distinct supplier count per part group
    // (partsupp stands in as the observed lineitem pairs) -----
    QuerySpec("q16_supplier_cnt", (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt")),
      """SELECT p_brand, p_type, p_size,
                  COUNT(DISTINCT l_suppkey) AS supplier_cnt
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand <> 'Brand#1'
             AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
           GROUP BY 1, 2, 3"""),

    // ----- TPC-H Q17-style: revenue from small-quantity outlier lines
    // (below 20% of the part's average quantity). The correlated
    // subquery becomes one partial-aggregable per-part avg + an
    // equi-join back — no window over the fact table -----
    QuerySpec("q17_small_qty", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val avgQty = li
        .join(broadcast(t(s, dir, "part").filter(col("p_brand") === "Brand#3")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey").as("ap_key"))
        .agg((expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)") /
          count(lit(1))).as("avg_qty"))
      li.join(avgQty, col("l_partkey") === col("ap_key"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)")
          .as("total_price"),
          count(lit(1)).as("n_lines"))
    },
      """WITH a AS (SELECT l_partkey AS ap_key,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#3' GROUP BY l_partkey)
           SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
                  COUNT(*) AS n_lines
           FROM lineitem JOIN a ON l_partkey = ap_key
           WHERE l_quantity < 0.2 * avg_qty"""),

    // ----- TPC-H Q21-style: suppliers who were the ONLY supplier with a
    // returned line in a multi-supplier order (no commit/receipt dates
    // in the corpus — returnflag stands in for lateness). The
    // exists/not-exists pair becomes a semi + anti join -----
    QuerySpec("q21_lonely_return", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val multi = li.groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supps"))
        .filter(col("n_supps") >= 2)
        .select(col("l_orderkey"))
      val ret = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val others = ret.select(col("l_orderkey").as("other_okey"),
        col("l_suppkey").as("other_supp"))
      ret
        .join(multi, "l_orderkey")
        .join(others,
          col("other_okey") === col("l_orderkey") &&
            col("other_supp") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    },
      """WITH multi AS (SELECT l_orderkey FROM lineitem
                          GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) >= 2),
           ret AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
                   WHERE l_returnflag = 'R')
           SELECT s_name, COUNT(*) AS numwait
           FROM ret r
           JOIN multi USING (l_orderkey)
           JOIN supplier ON r.l_suppkey = s_suppkey
           WHERE NOT EXISTS (SELECT 1 FROM ret o
                             WHERE o.l_orderkey = r.l_orderkey
                               AND o.l_suppkey <> r.l_suppkey)
           GROUP BY s_name
           ORDER BY numwait DESC, s_name LIMIT 10"""),

    // ----- per-customer gap between first and second order (windows +
    // date arithmetic composed) -----
    QuerySpec("q_order_gap", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("next_date", lead(col("o_orderdate"), 1).over(w))
        .filter(col("rn") === 1 && col("next_date").isNotNull)
        .selectExpr("o_custkey",
          "CAST(datediff(next_date, o_orderdate) AS BIGINT) AS gap_days")
    },
      """SELECT o_custkey, CAST(date_diff('day', d1, d2) AS BIGINT) AS gap_days
           FROM (
             SELECT o_custkey, o_orderdate AS d1,
                    lead(o_orderdate) OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) AS d2,
                    ROW_NUMBER() OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) AS rn
             FROM orders)
           WHERE rn = 1 AND d2 IS NOT NULL"""),

    // ----- GLOBAL rank family through PLAIN SQL text: no ParallelRank
    // call anywhere — the GlobalWindowRule optimizer rewrite plans these
    // `OVER (ORDER BY …)` windows as the two-phase range-partitioned
    // shape (PlanHygieneSpec proves no single-partition window stage
    // survives), and the DuckDB oracle runs the IDENTICAL SQL -----
    QuerySpec("q_sql_global_rank", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gwr")
      s.sql(
        """SELECT o_orderkey,
          |  CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
          |    AS BIGINT) AS rn,
          |  CAST(rank() OVER (ORDER BY o_orderpriority) AS BIGINT) AS rk,
          |  CAST(dense_rank() OVER (ORDER BY o_orderpriority)
          |    AS BIGINT) AS dr,
          |  CAST(ntile(7) OVER (ORDER BY o_totalprice DESC, o_orderkey)
          |    AS BIGINT) AS nt,
          |  percent_rank() OVER (ORDER BY o_orderpriority) AS pr
          |FROM orders_gwr""".stripMargin)
    },
      """SELECT o_orderkey,
          |  CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
          |    AS BIGINT) AS rn,
          |  CAST(rank() OVER (ORDER BY o_orderpriority) AS BIGINT) AS rk,
          |  CAST(dense_rank() OVER (ORDER BY o_orderpriority)
          |    AS BIGINT) AS dr,
          |  CAST(ntile(7) OVER (ORDER BY o_totalprice DESC, o_orderkey)
          |    AS BIGINT) AS nt,
          |  percent_rank() OVER (ORDER BY o_orderpriority) AS pr
          |FROM orders""".stripMargin),

    // ----- GLOBAL running aggregates + cume_dist through PLAIN SQL: the
    // GlobalWindowRule rewrite extends past ranks — sum/count/max with
    // the SQL default RANGE frame and cume_dist replan as the two-phase
    // shape (typed decimal prefix fold; peers included so ties are
    // deterministic). Revenue sums ride DECIMAL for exact association;
    // the DuckDB oracle runs the IDENTICAL SQL -----
    QuerySpec("q_sql_running", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gwr2")
      s.sql(
        """SELECT o_orderkey,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |    OVER (ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS run_rev,
          |  count(*) OVER (ORDER BY o_orderdate, o_orderkey) AS run_n,
          |  max(o_totalprice)
          |    OVER (ORDER BY o_orderdate, o_orderkey) AS run_max,
          |  cume_dist() OVER (ORDER BY o_orderpriority) AS cd
          |FROM orders_gwr2""".stripMargin)
    },
      """SELECT o_orderkey,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |    OVER (ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS run_rev,
          |  count(*) OVER (ORDER BY o_orderdate, o_orderkey) AS run_n,
          |  max(o_totalprice)
          |    OVER (ORDER BY o_orderdate, o_orderkey) AS run_max,
          |  cume_dist() OVER (ORDER BY o_orderpriority) AS cd
          |FROM orders""".stripMargin),

    // ----- "share of total" through PLAIN SQL `OVER ()`: the third
    // single-partition window shape users write. GlobalWindowRule plans
    // it as a 1-row scalar aggregation broadcast-crossed back — the
    // optimized plan contains NO Window operator at all -----
    QuerySpec("q_sql_share", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gwr3")
      s.sql(
        """SELECT o_orderkey,
          |  CAST(o_totalprice AS DOUBLE) /
          |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER ()
          |      AS DOUBLE) AS price_share,
          |  count(*) OVER () AS n_total,
          |  max(o_totalprice) OVER () AS max_price
          |FROM orders_gwr3""".stripMargin)
    },
      """SELECT o_orderkey,
          |  CAST(o_totalprice AS DOUBLE) /
          |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER ()
          |      AS DOUBLE) AS price_share,
          |  count(*) OVER () AS n_total,
          |  max(o_totalprice) OVER () AS max_price
          |FROM orders""".stripMargin),

    // ----- salted skew join through the correctness gate: its contract
    // is row-identical output to the plain equi join (the oracle runs
    // the plain form) -----
    QuerySpec("q_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
      graft.operators.ScaleJoins.saltedJoin(
          li, t(s, dir, "part"), "p_partkey", buckets = 8,
          saltCol = "l_orderkey")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
    },
      """SELECT p_brand, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY p_brand"""),

    // ----- bitwise aggregates -----
    QuerySpec("q_bitwise_agg", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("bit_and(o_orderkey)").as("band"),
          expr("bit_or(o_orderkey)").as("bor"),
          expr("bit_xor(o_orderkey)").as("bxor"),
          count(lit(1)).as("n")),
      """SELECT o_orderstatus,
                  bit_and(o_orderkey) AS band, bit_or(o_orderkey) AS bor,
                  bit_xor(o_orderkey) AS bxor, COUNT(*) AS n
           FROM orders GROUP BY o_orderstatus"""),

    // ----- gaps-and-islands: order streaks (gap <= 60 days) per customer -----
    QuerySpec("q_order_streaks", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull ||
            expr("datediff(o_orderdate, prev) > 60"), 1).otherwise(0))
        .withColumn("sid", sum(col("brk")).over(wRun))
        .groupBy(col("o_custkey"), col("sid"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("longest"))
    },
      """WITH l AS (SELECT o_custkey, o_orderkey, o_orderdate,
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders),
           m AS (SELECT *, CASE WHEN prev IS NULL
                    OR date_diff('day', prev, o_orderdate) > 60
                  THEN 1 ELSE 0 END AS brk FROM l),
           s AS (SELECT *, SUM(brk) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
           g AS (SELECT o_custkey, sid, COUNT(*) AS len
                 FROM s GROUP BY o_custkey, sid)
           SELECT o_custkey, COUNT(*) AS n_streaks, MAX(len) AS longest
           FROM g GROUP BY o_custkey"""),

    // ----- market-basket affinity: brand pairs co-bought within an
    // order, with exact rational lift (same log-free discipline as
    // q_word_cooccur) -----
    QuerySpec("q_basket_lift", (s, dir) => {
      // ONE corpus-scale shuffle: collect each order's distinct brand
      // set (per-order fan-out bounded by |brands| = 25), then a SINGLE
      // explode emits both the co-bought pairs (from the sorted set, so
      // b1 < b2 by construction) and a ('', brand) sentinel per member,
      // so pair counts AND per-brand counts come out of one groupBy.
      // The corpus-scale frame has exactly one consumer — nothing big
      // is cached or recomputed (the r3 shape re-ran the distinct
      // subtree 4x); only the vocab²-sized count table persists for its
      // two readers. A/B-measured vs okey-self-join + persist (1.3x
      // slower) and a bit_or bitmask variant (1.6x slower — the extra
      // brand-index join costs more than long-typed shuffle rows save).
      val sets = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("okey"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
      val counts = graft.operators.Dedup.persistTracked(sets
        .select(explode(expr(
          "flatten(transform(bs, (x, i) -> concat(" +
            "array(struct(x AS b1, '' AS b2)), " +
            "transform(slice(bs, i + 2, size(bs)), " +
            "y -> struct(x AS b1, y AS b2)))))")).as("p"))
        .select(col("p.b1"), col("p.b2"))
        .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("n_ab")))
      val pairs = counts.filter(col("b2") =!= "")
      val bc = counts.filter(col("b2") === "")
        .select(col("b1").as("brand"), col("n_ab").as("n_b"))
      val no = t(s, dir, "orders").agg(count(lit(1)).as("n_orders"))
      pairs
        .join(broadcast(bc.select(col("brand").as("b1"),
          col("n_b").as("n_1"))), "b1")
        .join(broadcast(bc.select(col("brand").as("b2"),
          col("n_b").as("n_2"))), "b2")
        .crossJoin(broadcast(no))
        .filter(col("n_ab") >= 50)
        .select(col("b1"), col("b2"), col("n_ab"),
          expr("CAST(n_ab * n_orders AS DOUBLE) / CAST(n_1 * n_2 AS DOUBLE)")
            .as("lift"))
    },
      """WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand
                       FROM lineitem JOIN part ON l_partkey = p_partkey),
           p AS (SELECT a.p_brand AS b1, b.p_brand AS b2, COUNT(*) AS n_ab
                 FROM ob a JOIN ob b ON a.okey = b.okey AND a.p_brand < b.p_brand
                 GROUP BY 1, 2),
           bc AS (SELECT p_brand, COUNT(*) AS n_b FROM ob GROUP BY p_brand),
           no AS (SELECT COUNT(*) AS n_orders FROM orders)
           SELECT b1, b2, n_ab,
                  CAST(n_ab * n_orders AS DOUBLE) /
                  CAST(n1.n_b * n2.n_b AS DOUBLE) AS lift
           FROM p JOIN bc n1 ON p.b1 = n1.p_brand
                  JOIN bc n2 ON p.b2 = n2.p_brand
                  CROSS JOIN no
           WHERE n_ab >= 50"""),

    // ----- null-safe equality and null-generating expressions -----
    QuerySpec("q_null_semantics", (s, dir) =>
      t(s, dir, "lineitem").selectExpr("l_orderkey", "l_linenumber",
        "nullif(l_returnflag, 'N') AS nflag",
        "l_returnflag <=> nullif(l_returnflag, 'N') AS nsafe_eq",
        "nullif(l_returnflag, 'N') IS NULL AS was_n"),
      """SELECT l_orderkey, l_linenumber,
                  nullif(l_returnflag, 'N') AS nflag,
                  l_returnflag IS NOT DISTINCT FROM nullif(l_returnflag, 'N') AS nsafe_eq,
                  nullif(l_returnflag, 'N') IS NULL AS was_n
           FROM lineitem"""),

    // ----- GROUPING(): rollup-null vs data-null disambiguation -----
    QuerySpec("q_grouping_fn", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"))
        .agg(grouping(col("l_returnflag")).cast("long").as("g"),
          count(lit(1)).as("n")),
      """SELECT l_returnflag, CAST(GROUPING(l_returnflag) AS BIGINT) AS g,
                  COUNT(*) AS n
           FROM lineitem GROUP BY ROLLUP(l_returnflag)"""),

    // ----- date arithmetic: trunc, add_months, datediff, ISO weekday -----
    QuerySpec("q_date_arith", (s, dir) =>
      t(s, dir, "orders").selectExpr("o_orderkey",
        "date_format(date_trunc('month', o_orderdate), 'yyyy-MM-dd') AS mo",
        "date_format(add_months(o_orderdate, 3), 'yyyy-MM-dd') AS plus3",
        "CAST(datediff(o_orderdate, DATE '1995-01-01') AS BIGINT) AS dd",
        "CAST(weekday(o_orderdate) + 1 AS BIGINT) AS isodow"),
      """SELECT o_orderkey,
                  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mo,
                  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3,
                  CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS dd,
                  CAST(isodow(o_orderdate) AS BIGINT) AS isodow
           FROM orders"""),

    // ----- multiset intersection (INTERSECT ALL) -----
    QuerySpec("q_intersect_all", (s, dir) =>
      t(s, dir, "lineitem").select(col("l_suppkey").as("sk"))
        .intersectAll(t(s, dir, "supplier").select(col("s_suppkey").as("sk"))),
      """SELECT l_suppkey AS sk FROM lineitem
           INTERSECT ALL SELECT s_suppkey AS sk FROM supplier"""),

    // ----- recursive CTE (Spark 4 WITH RECURSIVE) -----
    QuerySpec("q_recursive_cte", (s, dir) =>
      s.sql(
        """WITH RECURSIVE s(n, f) AS (
             SELECT 1, CAST(1 AS BIGINT)
             UNION ALL
             SELECT n + 1, f * (n + 1) FROM s WHERE n < 15)
           SELECT n, f FROM s"""),
      """WITH RECURSIVE s(n, f) AS (
             SELECT 1, CAST(1 AS BIGINT)
             UNION ALL
             SELECT n + 1, f * (n + 1) FROM s WHERE n < 15)
           SELECT n, f FROM s"""),

    // ----- TPC-H Q6 through the spark.sql entry point (temp view) -----
    QuerySpec("q6_forecast", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem_v
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
             AND l_discount >= 0.02 AND l_discount <= 0.06
             AND l_quantity < 24""")
    },
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
             AND l_discount >= 0.02 AND l_discount <= 0.06
             AND l_quantity < 24"""),

    // ----- JSON extraction (round-trip through a JSON string column) -----
    QuerySpec("q_json_extract", (s, dir) =>
      t(s, dir, "orders")
        .selectExpr("o_orderkey",
          """concat('{"status":"', o_orderstatus, '","price":',
                    CAST(o_totalprice AS STRING), '}') AS js""")
        .selectExpr("o_orderkey",
          "get_json_object(js, '$.status') AS status",
          "CAST(get_json_object(js, '$.price') AS DOUBLE) AS price"),
      """WITH j AS (SELECT o_orderkey,
                  '{"status":"' || o_orderstatus || '","price":' ||
                  CAST(o_totalprice AS VARCHAR) || '}' AS js FROM orders)
           SELECT o_orderkey,
                  json_extract_string(js, '$.status') AS status,
                  CAST(json_extract_string(js, '$.price') AS DOUBLE) AS price
           FROM j"""),

    // ----- window twin of q_topk_group: same rows via row_number, so
    // every bench round measures the custom operator against Spark's
    // WindowGroupLimit path on identical data -----
    QuerySpec("q_topk_group_window", (s, dir) => {
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("rn"))
    },
      topkGroupOracle),

    // ----- max_by/arg_max with a deterministic composite tie-break -----
    QuerySpec("q_argmax", (s, dir) => {
      // exact integer cents * 1e9 + orderkey: unique, so ties can't make
      // the arg_max engine-dependent
      val key = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "* 1000000000 + o_orderkey"
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(expr(s"max_by(o_orderkey, $key)").as("best_order"),
          max(dec(col("o_totalprice"))).cast("double").as("top_price"),
          count(lit(1)).as("n_orders"))
    },
      """SELECT c_nationkey,
                  arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                                      * 1000000000 + o_orderkey) AS best_order,
                  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS top_price,
                  COUNT(*) AS n_orders
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_nationkey"""),

    // ----- CDC SNAPSHOT DIFF: classify every key across two snapshot
    // versions (insert / delete / update / unchanged) with one full
    // outer join on the key — the standard change-data-capture reconcile.
    // Snapshots are carved deterministically from `orders` (key mod
    // classes), so both engines derive identical inputs. Exact DECIMAL
    // compare for the update test; the join shuffles on the key only -----
    QuerySpec("q_cdc_diff", (s, dir) => {
      val cur = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val old = cur.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey").as("k_old"),
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("price_old"))
      val neu = cur.filter(col("o_orderkey") % 89 =!= 0)
        .select(col("o_orderkey").as("k_new"),
          col("o_totalprice").as("price_new"))
      old.join(neu, col("k_old") === col("k_new"), "full_outer")
        .select(
          when(col("k_old").isNull, lit("insert"))
            .when(col("k_new").isNull, lit("delete"))
            .when(dec(col("price_old")) =!= dec(col("price_new")),
              lit("update"))
            .otherwise(lit("unchanged")).as("op"),
          coalesce(col("k_old"), col("k_new")).as("k"))
        .groupBy(col("op"))
        .agg(count(lit(1)).as("n"),
          min(col("k")).as("min_key"), max(col("k")).as("max_key"))
    },
      """WITH cur AS (SELECT o_orderkey, o_totalprice FROM orders),
           old AS (SELECT o_orderkey AS k_old,
                          CASE WHEN o_orderkey % 13 = 0
                               THEN o_totalprice + 1.0
                               ELSE o_totalprice END AS price_old
                   FROM cur WHERE o_orderkey % 97 <> 0),
           neu AS (SELECT o_orderkey AS k_new, o_totalprice AS price_new
                   FROM cur WHERE o_orderkey % 89 <> 0),
           d AS (SELECT CASE WHEN k_old IS NULL THEN 'insert'
                             WHEN k_new IS NULL THEN 'delete'
                             WHEN CAST(price_old AS DECIMAL(18,2))
                               <> CAST(price_new AS DECIMAL(18,2)) THEN 'update'
                             ELSE 'unchanged' END AS op,
                        COALESCE(k_old, k_new) AS k
                 FROM old FULL OUTER JOIN neu ON k_old = k_new)
           SELECT op, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
           FROM d GROUP BY op"""),

    // ----- association RULES over the basket pairs (the directional
    // complement of q_basket_lift): confidence = P(consequent | ante),
    // support = P(pair) — exact single divisions over integer counts.
    // Same one-shuffle basket shape as q_basket_lift: each order's
    // sorted distinct brand set explodes ONCE into unordered pairs plus
    // per-brand sentinels, one groupBy serves pair AND antecedent
    // counts; rules fan both directions from the b1<b2 pair table
    // (vocab²-sized, persisted for its two readers) -----
    QuerySpec("q_assoc_rules", (s, dir) => {
      val sets = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("okey"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
      val counts = graft.operators.Dedup.persistTracked(sets
        .select(explode(expr(
          "flatten(transform(bs, (x, i) -> concat(" +
            "array(struct(x AS b1, '' AS b2)), " +
            "transform(slice(bs, i + 2, size(bs)), " +
            "y -> struct(x AS b1, y AS b2)))))")).as("p"))
        .select(col("p.b1"), col("p.b2"))
        .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("n_ab")))
      val rules = counts.filter(col("b2") =!= "")
        .select(explode(array(
          struct(col("b1").as("antecedent"), col("b2").as("consequent"),
            col("n_ab")),
          struct(col("b2").as("antecedent"), col("b1").as("consequent"),
            col("n_ab")))).as("r"))
        .select(col("r.antecedent").as("antecedent"),
          col("r.consequent").as("consequent"), col("r.n_ab").as("n_ab"))
      val bc = counts.filter(col("b2") === "")
        .select(col("b1").as("antecedent"), col("n_ab").as("n_a"))
      val no = t(s, dir, "orders").agg(count(lit(1)).as("n_orders"))
      rules.join(broadcast(bc), "antecedent")
        .crossJoin(broadcast(no))
        .filter(col("n_ab") >= 40)
        .select(col("antecedent"), col("consequent"), col("n_ab"),
          expr("CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE)")
            .as("confidence"),
          expr("CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE)")
            .as("support"))
    },
      s"""WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand
                 FROM lineitem JOIN part ON l_partkey = p_partkey),
           pc AS (SELECT a.p_brand AS antecedent, b.p_brand AS consequent,
                         COUNT(*) AS n_ab
                  FROM ob a JOIN ob b
                    ON a.okey = b.okey AND a.p_brand <> b.p_brand
                  GROUP BY 1, 2),
           bc AS (SELECT p_brand AS antecedent, COUNT(*) AS n_a
                  FROM ob GROUP BY 1),
           no AS (SELECT COUNT(*) AS n_orders FROM orders)
           SELECT antecedent, consequent, n_ab,
                  CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS confidence,
                  CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support
           FROM pc JOIN bc USING (antecedent) CROSS JOIN no
           WHERE n_ab >= 40"""),

    // ----- percent_rank / cume_dist windows: distribution position of
    // each customer's balance within its nation — both are exact small-
    // integer rationals ((rank-1)/(n-1), peers/n), so the doubles are
    // engine-identical -----
    QuerySpec("q_window_pctrank", (s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("acct_c"), col("c_custkey"))
      t(s, dir, "customer")
        .selectExpr("c_custkey", "c_nationkey",
          "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acct_c")
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_nationkey"), col("acct_c"),
          col("pr"), col("cd"))
    },
      """SELECT c_custkey, c_nationkey, acct_c, pr, cd FROM (
             SELECT c_custkey, c_nationkey,
                    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                      AS acct_c,
                    percent_rank() OVER w AS pr,
                    cume_dist() OVER w AS cd
             FROM customer
             WINDOW w AS (PARTITION BY c_nationkey
               ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT),
                        c_custkey))
           WHERE c_custkey % 10 = 0"""),

    // ----- per-shard TABLE CHECKSUM (anti-entropy / Merkle-leaf shape):
    // order-independent SUM of per-row content hashes, sharded on a key
    // projection — two replicas (or a source and its CDC-applied copy)
    // compare shard digests and re-sync only the shards that differ.
    // Hash sums commute, so the digest is identical under ANY
    // partitioning or row order; rendering goes through exact
    // decimal/int casts (double formatting differs across engines) -----
    QuerySpec("q_table_checksum", (s, dir) => {
      t(s, dir, "orders")
        .selectExpr("o_orderkey % 16 AS shard",
          "concat_ws('|', CAST(o_orderkey AS STRING), o_orderstatus, " +
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)) AS row_str")
        .select(col("shard"),
          GraftFunctions.polyHash(col("row_str")).as("h"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
    },
      s"""WITH r AS (SELECT o_orderkey % 16 AS shard,
                  concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))
                    AS row_str
                 FROM orders)
           SELECT shard, COUNT(*) AS n_rows,
                  CAST(SUM(${duckStrHash("row_str")}) AS BIGINT) AS checksum
           FROM r GROUP BY shard"""),

    // ----- ANTI-ENTROPY SYNC PLAN: q_table_checksum executed against a
    // drifted replica — per-shard digests of the base and a replica
    // missing some rows, joined to the list of shards needing re-sync
    // (with row-count deltas). The repair job ships only those shards:
    // digest compare is metadata-sized however big the table. -----
    QuerySpec("q_sync_plan", (s, dir) => {
      // persist: the hashed projection feeds the base digest AND the
      // replica digest (a filtered view of the same rows)
      val rows = Dedup.persistTracked(t(s, dir, "orders")
        .selectExpr("o_orderkey",
          "o_orderkey % 16 AS shard",
          "concat_ws('|', CAST(o_orderkey AS STRING), o_orderstatus, " +
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)) AS row_str")
        .select(col("o_orderkey"), col("shard"),
          GraftFunctions.polyHash(col("row_str")).as("h")))
      def digest(df: DataFrame) = df.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("h")).as("cs"))
      val base = digest(rows)
      // the replica lost every 97th row (simulated partial CDC apply)
      val replica = digest(rows.filter(col("o_orderkey") % 97 =!= 0))
        .withColumnRenamed("n", "n_r").withColumnRenamed("cs", "cs_r")
      base.join(replica, Seq("shard"), "full_outer")
        .filter(!(col("cs") <=> col("cs_r")) || !(col("n") <=> col("n_r")))
        .select(col("shard"), col("n").as("n_base"),
          coalesce(col("n_r"), lit(0L)).as("n_replica"),
          (col("n") - coalesce(col("n_r"), lit(0L))).as("rows_to_ship"))
    },
      s"""WITH rh AS (SELECT o_orderkey, o_orderkey % 16 AS shard,
                  ${duckStrHash("""concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))""")} AS h
                 FROM orders),
           b AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(h) AS BIGINT) AS cs
                 FROM rh GROUP BY shard),
           rep AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_r,
                          CAST(SUM(h) AS BIGINT) AS cs_r
                   FROM rh WHERE o_orderkey % 97 <> 0 GROUP BY shard)
           SELECT coalesce(b.shard, rep.shard) AS shard,
                  n AS n_base, coalesce(n_r, 0) AS n_replica,
                  n - coalesce(n_r, 0) AS rows_to_ship
           FROM b FULL OUTER JOIN rep ON b.shard = rep.shard
           WHERE cs IS DISTINCT FROM cs_r OR n IS DISTINCT FROM n_r"""),

    // ----- INCREMENTAL VIEW MAINTENANCE: per-priority order counts
    // maintained from the OLD snapshot plus the CDC delta (inserts add,
    // deletes subtract; updates don't move counts between groups here
    // since the key's group is stable) — then proven equal to a direct
    // recompute over the NEW snapshot. The 100 TB point: the maintained
    // path touches only the delta, never rescans the snapshot -----
    QuerySpec("q_ivm_counts", (s, dir) => {
      // persist barrier: the 2-col projection fans out to old/new filters
      // consumed by four aggregations — one orders scan, not four
      val cur = graft.operators.Dedup.persistTracked(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")))
      val old = cur.filter(col("o_orderkey") % 97 =!= 0)
      val neu = cur.filter(col("o_orderkey") % 89 =!= 0)
      val oldCounts = old.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_old"))
      val delta = old.select(col("o_orderkey").as("k_old"),
          col("o_orderpriority").as("p_old"))
        .join(neu.select(col("o_orderkey").as("k_new"),
          col("o_orderpriority").as("p_new")),
          col("k_old") === col("k_new"), "full_outer")
        .select(
          coalesce(col("p_old"), col("p_new")).as("o_orderpriority"),
          when(col("k_old").isNull, 1L)
            .when(col("k_new").isNull, -1L).otherwise(0L).as("d"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("d")).as("dn"))
      val maintained = oldCounts
        .join(delta, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          (coalesce(col("n_old"), lit(0L)) +
            coalesce(col("dn"), lit(0L))).as("maintained"))
      val direct = neu.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("direct"))
      maintained.join(direct, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"), col("maintained"), col("direct"),
          (col("maintained") === col("direct")).as("consistent"))
    },
      """WITH cur AS (SELECT o_orderkey, o_orderpriority FROM orders),
           old AS (SELECT * FROM cur WHERE o_orderkey % 97 <> 0),
           neu AS (SELECT * FROM cur WHERE o_orderkey % 89 <> 0),
           oc AS (SELECT o_orderpriority, COUNT(*) AS n_old
                  FROM old GROUP BY 1),
           d AS (SELECT COALESCE(o.o_orderpriority, n.o_orderpriority)
                          AS o_orderpriority,
                        CASE WHEN o.o_orderkey IS NULL THEN 1
                             WHEN n.o_orderkey IS NULL THEN -1
                             ELSE 0 END AS dd
                 FROM old o FULL OUTER JOIN neu n
                   ON o.o_orderkey = n.o_orderkey),
           dc AS (SELECT o_orderpriority, CAST(SUM(dd) AS BIGINT) AS dn
                  FROM d GROUP BY 1),
           m AS (SELECT COALESCE(oc.o_orderpriority, dc.o_orderpriority)
                          AS o_orderpriority,
                        COALESCE(n_old, 0) + COALESCE(dn, 0) AS maintained
                 FROM oc FULL OUTER JOIN dc USING (o_orderpriority)),
           dir AS (SELECT o_orderpriority, COUNT(*) AS direct
                   FROM neu GROUP BY 1)
           SELECT o_orderpriority, CAST(maintained AS BIGINT) AS maintained,
                  direct, maintained = direct AS consistent
           FROM m FULL OUTER JOIN dir USING (o_orderpriority)"""),

    // ----- IVM for a JOIN view (the q_ivm_counts big sibling): view =
    // per-priority lineitem counts THROUGH the orders join. CDC delta
    // arrives on the FACT side only, so maintenance = old aggregate +
    // (delta ⋈ dim) — the delta join costs |delta|, never |fact|; the
    // direct recompute it must equal re-joins everything. The readout a
    // 100 TB nightly-refresh pipeline checks before trusting maintained
    // aggregates. -----
    QuerySpec("q_ivm_join", (s, dir) => {
      // persist barrier: the 2-col fact projection fans out to the
      // base/delta filters, each consumed by a join + aggregate
      val li = Dedup.persistTracked(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")))
      // ord feeds all three aggregation paths — persist or scan ×3
      val ord = Dedup.persistTracked(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")))
      val base = li.filter(col("l_orderkey") % 13 =!= 0)
      val delta = li.filter(col("l_orderkey") % 13 === 0)
      def agg(fact: DataFrame) = fact
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
      val maintained = agg(base)
        .withColumnRenamed("n", "n_old").withColumnRenamed("qty", "q_old")
        .join(agg(delta)
          .withColumnRenamed("n", "dn").withColumnRenamed("qty", "dq"),
          Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          (coalesce(col("n_old"), lit(0L)) +
            coalesce(col("dn"), lit(0L))).as("maintained_n"),
          (coalesce(col("q_old"), lit(BigDecimal(0)).cast(DecimalType(18, 2))) +
            coalesce(col("dq"), lit(BigDecimal(0)).cast(DecimalType(18, 2))))
            .cast(DecimalType(18, 2)).as("maintained_qty"))
      val direct = agg(li)
        .withColumnRenamed("n", "direct_n").withColumnRenamed("qty", "direct_qty")
      maintained.join(direct, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          col("maintained_n"), col("direct_n"),
          col("maintained_qty").cast("double").as("maintained_qty"),
          col("direct_qty").cast("double").as("direct_qty"),
          (col("maintained_n") === col("direct_n") &&
            col("maintained_qty") === col("direct_qty")).as("consistent"))
    },
      // Maintained = base aggregate + (delta ⋈ dim); the oracle computes
      // both paths and the consistency flag exactly as the Spark side.
      s"""WITH li AS (SELECT l_orderkey, l_quantity FROM lineitem),
           ord AS (SELECT o_orderkey, o_orderpriority FROM orders),
           agg_base AS (SELECT o_orderpriority, COUNT(*) AS n_old,
                               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q_old
                        FROM li JOIN ord ON l_orderkey = o_orderkey
                        WHERE l_orderkey % 13 <> 0 GROUP BY o_orderpriority),
           agg_delta AS (SELECT o_orderpriority, COUNT(*) AS dn,
                                SUM(CAST(l_quantity AS DECIMAL(18,2))) AS dq
                         FROM li JOIN ord ON l_orderkey = o_orderkey
                         WHERE l_orderkey % 13 = 0 GROUP BY o_orderpriority),
           maint AS (SELECT coalesce(b.o_orderpriority, d.o_orderpriority) AS o_orderpriority,
                            CAST(coalesce(b.n_old, 0) + coalesce(d.dn, 0) AS BIGINT) AS maintained_n,
                            CAST(coalesce(b.q_old, 0) + coalesce(d.dq, 0) AS DECIMAL(18,2)) AS maintained_qty
                     FROM agg_base b FULL OUTER JOIN agg_delta d
                       ON b.o_orderpriority = d.o_orderpriority),
           direct AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS direct_n,
                             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS direct_qty
                      FROM li JOIN ord ON l_orderkey = o_orderkey
                      GROUP BY o_orderpriority)
           SELECT coalesce(m.o_orderpriority, t.o_orderpriority) AS o_orderpriority,
                  maintained_n, direct_n,
                  CAST(maintained_qty AS DOUBLE) AS maintained_qty,
                  CAST(direct_qty AS DOUBLE) AS direct_qty,
                  (maintained_n = direct_n AND maintained_qty = direct_qty) AS consistent
           FROM maint m FULL OUTER JOIN direct t
             ON m.o_orderpriority = t.o_orderpriority""")
  )
}
