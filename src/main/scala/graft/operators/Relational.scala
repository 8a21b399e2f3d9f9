package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core relational operator surface — one query per capability in the
  * reference's logical-operator set
  * (/root/reference/src/operators/relational/logical/mod.rs:21,
  * README "Relational operators"). Every query is declarative
  * DataFrame API so Catalyst performs the rewrites keenwa implements
  * as rules (pushdown, pruning, join selection, semi/anti-join
  * decorrelation — /root/reference/src/rules/rewrite/filter_push_down.rs:1,
  * src/rules/implementation/join.rs:1, src/operators/builder/subqueries.rs:1).
  *
  * Determinism rules (SURVEY §4): decimal-accumulated sums cast back
  * to double; ints cast to BIGINT; timestamps rendered as strings;
  * every output deterministically ordered with a unique tiebreak.
  */
object Relational {
  type QFn = (SparkSession, String) => DataFrame

  /** Every query here is short SQL: one-split tables load as a single
    * partition, with no exchange above them. */
  private val Tables = graft.sources.Tables.interactive

  /** Exact sum: accumulate as decimal (order-insensitive), emit double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")
  private def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s))

  /** `> ALL(S)` / `< ANY(S)` decorrelation over S = `subqVal` of the
    * orders matching `subqPred`, with FULL SQL three-valued semantics.
    * The broadcast aggregate carries (max over non-null S, row count,
    * non-null count); the comparison chain reproduces every 3VL case:
    * empty S (`> ALL(∅)`=TRUE, `< ANY(∅)`=FALSE), NULL probe value
    * (UNKNOWN against non-empty S), a definitive non-null witness
    * (x ≤ max disproves ALL; x < max proves ANY), and otherwise
    * UNKNOWN when S contains any NULL (the NULL could have been the
    * refuting/satisfying value). An all-NULL S falls through the
    * NULL-valued max comparison into the hasNulls → UNKNOWN arm.
    * (AnyAllSpec exercises each case on synthetic nullable data.)
    */
  def anyAllRewrite(orders: DataFrame, subqPred: Column,
      subqVal: Column = col("o_totalprice")): DataFrame = {
    val agg = orders.filter(subqPred)
      .agg(max(subqVal).as("p_max"), count(lit(1)).as("p_n"),
        count(subqVal).as("p_nn"))
    val x = col("o_totalprice")
    val unknown = lit(null).cast("boolean")
    val hasNulls = col("p_n") > col("p_nn")
    orders.crossJoin(broadcast(agg))
      .select(col("o_orderkey"),
        when(col("p_n") === 0, lit(true))
          .when(x.isNull, unknown)
          .when(x <= col("p_max"), lit(false))
          .when(hasNulls, unknown)
          .otherwise(lit(true)).as("gt_all_p"),
        when(col("p_n") === 0, lit(false))
          .when(x.isNull, unknown)
          .when(x < col("p_max"), lit(true))
          .when(hasNulls, unknown)
          .otherwise(lit(false)).as("lt_any_p"))
      .orderBy("o_orderkey")
  }

  /** (name, spark query, oracle SQL) triples. */
  val entries: Seq[(String, QFn, Option[String])] = Seq(

    // ---- scan + filter + aggregate (TPC-H Q1 shape) ----
    ("q01_agg", (s: SparkSession, d: String) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),

    // ---- projection + scalar arithmetic ----
    ("q02_project", (s: SparkSession, d: String) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        (col("p_retailprice") * lit(1.1)).cast(DecimalType(18, 4)).cast("double").as("adj_price"),
        ((col("p_size") + lit(5)) * lit(2)).cast("bigint").as("size2"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey, p_brand || '#' || p_type AS brand_type,
        CAST(CAST(p_retailprice * 1.1 AS DECIMAL(18,4)) AS DOUBLE) AS adj_price,
        CAST((p_size + 5) * 2 AS BIGINT) AS size2
      FROM part ORDER BY p_partkey""")),

    // ---- inner join chain + agg + top-k (TPC-H Q3 shape) ----
    ("q03_join_inner", (s: SparkSession, d: String) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > ts("1996-01-01 00:00:00"))
      broadcast(c)
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("revenue"))
        .orderBy(desc("revenue"), col("o_orderkey")).limit(10)
    }, Some("""
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // ---- left outer join. Partial-agg-below-join (the rewrite a
    //      keenwa-class optimizer applies): orders pre-aggregates by
    //      o_custkey BEFORE the join, so the join carries one row per
    //      customer instead of one per order — at 100x the fact size
    //      the shuffle shrinks ~10x and c_name strings never ride
    //      through the fact shuffle ----
    ("q04_join_left", (s: SparkSession, d: String) => {
      val perCust = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(col("o_orderkey")).as("pn"), dsum(col("o_totalprice")).as("pt"))
      Tables.customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("pn"), lit(0L)).as("n_orders"),
          coalesce(col("pt"), lit(0.0)).as("total_spent"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_name ORDER BY c_custkey""")),

    // ---- right outer join ----
    ("q05_join_right", (s: SparkSession, d: String) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"), "right")
        .groupBy(col("o_orderkey"))
        .agg(count(col("l_linenumber")).as("n_lines"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, count(l_linenumber) AS n_lines
      FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderkey ORDER BY o_orderkey""")),

    // ---- full outer join ----
    ("q06_join_full", (s: SparkSession, d: String) => {
      val sup = Tables.supplier(s, d).groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      val cus = Tables.customer(s, d).groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      sup.join(cus, col("s_nationkey") === col("c_nationkey"), "full")
        .select(
          coalesce(col("s_nationkey"), col("c_nationkey")).cast("bigint").as("nationkey"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"))
        .orderBy("nationkey")
    }, Some("""
      WITH s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1),
           c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1)
      SELECT CAST(coalesce(s_nationkey, c_nationkey) AS BIGINT) AS nationkey,
             coalesce(n_supp, 0) AS n_supp, coalesce(n_cust, 0) AS n_cust
      FROM s FULL JOIN c ON s_nationkey = c_nationkey ORDER BY nationkey""")),

    // ---- cross join ----
    ("q07_join_cross", (s: SparkSession, d: String) => {
      Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select(col("r_name"), col("n_name")).orderBy("r_name", "n_name")
    }, Some("""
      SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name""")),

    // ---- semi join (EXISTS) ----
    ("q08_join_semi", (s: SparkSession, d: String) => {
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") > 45).select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice")).orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      ORDER BY o_orderkey""")),

    // ---- anti join (NOT EXISTS) ----
    ("q09_join_anti", (s: SparkSession, d: String) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")).orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""")),

    // ---- UNION ALL ----
    ("q10_union", (s: SparkSession, d: String) => {
      val a = Tables.supplier(s, d).select(col("s_nationkey").cast("bigint").as("nationkey"))
      val b = Tables.customer(s, d).select(col("c_nationkey").cast("bigint").as("nationkey"))
      a.unionAll(b).groupBy("nationkey").agg(count(lit(1)).as("n")).orderBy("nationkey")
    }, Some("""
      SELECT nationkey, count(*) AS n FROM (
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
        UNION ALL
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer)
      GROUP BY nationkey ORDER BY nationkey""")),

    // ---- EXCEPT (distinct) ----
    ("q11_except", (s: SparkSession, d: String) => {
      val a = Tables.customer(s, d).select(col("c_nationkey").cast("bigint").as("nationkey"))
      val b = Tables.supplier(s, d).select(col("s_nationkey").cast("bigint").as("nationkey"))
      a.except(b).orderBy("nationkey")
    }, Some("""
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
      EXCEPT
      SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
      ORDER BY nationkey""")),

    // ---- EXCEPT ALL ----
    ("q11_except_all", (s: SparkSession, d: String) => {
      val a = Tables.customer(s, d).select(col("c_nationkey").cast("bigint").as("nationkey"))
      val b = Tables.supplier(s, d).select(col("s_nationkey").cast("bigint").as("nationkey"))
      a.exceptAll(b).groupBy("nationkey").agg(count(lit(1)).as("n")).orderBy("nationkey")
    }, Some("""
      SELECT nationkey, count(*) AS n FROM (
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        EXCEPT ALL
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
      GROUP BY nationkey ORDER BY nationkey""")),

    // ---- INTERSECT (distinct) ----
    ("q12_intersect", (s: SparkSession, d: String) => {
      val a = Tables.orders(s, d).select(col("o_custkey").as("k"))
      val b = Tables.customer(s, d).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("k"))
      a.intersect(b).orderBy("k")
    }, Some("""
      SELECT o_custkey AS k FROM orders
      INTERSECT
      SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
      ORDER BY k""")),

    // ---- INTERSECT ALL ----
    ("q12_intersect_all", (s: SparkSession, d: String) => {
      val a = Tables.orders(s, d).select(col("o_custkey").as("k"))
      val b = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("k"))
      a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n")).orderBy("k")
    }, Some("""
      SELECT k, count(*) AS n FROM (
        SELECT o_custkey AS k FROM orders
        INTERSECT ALL
        SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
      GROUP BY k ORDER BY k""")),

    // ---- ORDER BY + LIMIT + OFFSET ----
    ("q13_limit_offset", (s: SparkSession, d: String) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .offset(10).limit(20)
    }, Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 10""")),

    // ---- VALUES (inline relation) joined to a table ----
    ("q14_values", (s: SparkSession, d: String) => {
      import s.implicits._
      val v = Seq((1L, "URGENT"), (2L, "HIGH")).toDF("prio_id", "prio_name")
      Tables.orders(s, d)
        .join(broadcast(v),
          col("o_orderpriority") === concat(col("prio_id").cast("string"), lit("-"), col("prio_name")))
        .groupBy(col("prio_name")).agg(count(lit(1)).as("n")).orderBy("prio_name")
    }, Some("""
      SELECT prio_name, count(*) AS n
      FROM orders JOIN (VALUES (1, 'URGENT'), (2, 'HIGH')) AS v(prio_id, prio_name)
        ON o_orderpriority = CAST(prio_id AS VARCHAR) || '-' || prio_name
      GROUP BY prio_name ORDER BY prio_name""")),

    // ---- DISTINCT ----
    ("q15_distinct", (s: SparkSession, d: String) => {
      Tables.orders(s, d).select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct().orderBy("o_orderstatus", "o_orderpriority")
    }, Some("""
      SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      ORDER BY o_orderstatus, o_orderpriority""")),

    // ---- count(*) / count(col) / DISTINCT agg / FILTER agg ----
    ("q16_agg_distinct_filter", (s: SparkSession, d: String) => {
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          count(col("l_orderkey")).as("n_rows"),
          count(lit(1)).as("n_all"),
          coalesce(dsum(when(col("l_discount") > 0.05, col("l_quantity"))), lit(0.0)).as("qty_disc"),
          sum_distinct(col("l_linenumber").cast("bigint")).as("sum_distinct_ln"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
        count(DISTINCT l_suppkey) AS n_supp,
        count(l_orderkey) AS n_rows,
        count(*) AS n_all,
        coalesce(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE), 0.0) AS qty_disc,
        CAST(sum(DISTINCT CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_distinct_ln
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- HAVING ----
    ("q17_having", (s: SparkSession, d: String) => {
      Tables.lineitem(s, d).groupBy(col("l_partkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 100)
        .orderBy("l_partkey")
    }, Some("""
      SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_partkey
      HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 100
      ORDER BY l_partkey""")),

    // ---- window: row_number + rank ----
    ("q18_window_ranking", (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast("bigint").as("rn"),
          rank().over(w).cast("bigint").as("rnk"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }, Some("""
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          CAST(row_number() OVER w AS BIGINT) AS rn,
          CAST(rank() OVER w AS BIGINT) AS rnk
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
      WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // ---- window: first_value / last_value / running sum ----
    // (ordered by the unique o_orderkey: (l_orderkey, l_linenumber) is
    // not unique in this data, which would make first/last ambiguous)
    ("q19_window_value", (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(wFull).as("first_price"),
          last(col("o_totalprice")).over(wFull).as("last_price"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(wRun).cast("double").as("run_total"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some("""
      SELECT o_custkey, o_orderkey,
        first_value(o_totalprice) OVER wf AS first_price,
        last_value(o_totalprice) OVER wf AS last_price,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER wr AS DOUBLE) AS run_total
      FROM orders
      WINDOW wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             wr AS (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""")),

    // ---- scalar subquery (uncorrelated) ----
    ("q20_subquery_scalar", (s: SparkSession, d: String) => {
      val p = Tables.part(s, d)
      val avgP = p.agg((dsum(col("p_retailprice")) / count(lit(1))).as("ap"))
      p.crossJoin(broadcast(avgP)).filter(col("p_retailprice") > col("ap"))
        .select(col("p_partkey"), col("p_retailprice")).orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey, p_retailprice FROM part
      WHERE p_retailprice > (
        SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) FROM part)
      ORDER BY p_partkey""")),

    // ---- correlated EXISTS with extra predicate → semi join ----
    ("q21_exists_correlated", (s: SparkSession, d: String) => {
      Tables.supplier(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 49).select(col("l_suppkey")),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name")).orderBy("s_suppkey")
    }, Some("""
      SELECT s_suppkey, s_name FROM supplier
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
      ORDER BY s_suppkey""")),

    // ---- IN <subquery> ----
    ("q22_in_subquery", (s: SparkSession, d: String) => {
      Tables.orders(s, d)
        .join(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus, count(*) AS n FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- NOT IN <subquery> (non-null keys → anti join) ----
    ("q23_not_in_subquery", (s: SparkSession, d: String) => {
      Tables.part(s, d)
        .join(Tables.lineitem(s, d).select(col("l_partkey")),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey")).orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey FROM part
      WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
      ORDER BY p_partkey""")),

    // ---- CTE (WITH) ----
    ("q24_cte", (s: SparkSession, d: String) => {
      val co = Tables.orders(s, d).groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      val hi = co.filter(col("n") >= 3)
      Tables.customer(s, d).join(hi, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n")).orderBy("c_custkey")
    }, Some("""
      WITH co AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1),
           hi AS (SELECT * FROM co WHERE n >= 3)
      SELECT c_custkey, c_name, n FROM customer JOIN hi ON c_custkey = o_custkey
      ORDER BY c_custkey""")),

    // ---- CASE / IN-list / BETWEEN / LIKE / IS NULL ----
    ("q25_case_expr", (s: SparkSession, d: String) => {
      Tables.orders(s, d).select(
        col("o_orderkey"),
        when(col("o_totalprice") > 200000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"),
        col("o_orderstatus").isin("O", "F").as("in_list"),
        col("o_totalprice").between(50000, 150000).as("in_range"),
        col("o_orderpriority").like("%URGENT%").as("is_urgent"),
        (!col("o_orderpriority").like("%LOW%")).as("not_low"),
        col("o_orderstatus").isNull.as("status_null"),
        col("o_orderstatus").isNotNull.as("status_not_null"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        CASE WHEN o_totalprice > 200000 THEN 'big'
             WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS bucket,
        o_orderstatus IN ('O','F') AS in_list,
        o_totalprice BETWEEN 50000 AND 150000 AS in_range,
        o_orderpriority LIKE '%URGENT%' AS is_urgent,
        o_orderpriority NOT LIKE '%LOW%' AS not_low,
        o_orderstatus IS NULL AS status_null,
        o_orderstatus IS NOT NULL AS status_not_null
      FROM orders ORDER BY o_orderkey""")),

    // ---- the reference's 8 built-in scalar functions ----
    ("q26_string_funcs", (s: SparkSession, d: String) => {
      Tables.customer(s, d).select(
        col("c_custkey"),
        bit_length(col("c_name")).cast("bigint").as("bits"),
        length(col("c_name")).cast("bigint").as("chars"),
        concat(col("c_mktsegment"), lit(":"), col("c_name")).as("cat"),
        lower(col("c_name")).as("lo"),
        upper(col("c_mktsegment")).as("up"),
        instr(col("c_name"), "1").cast("bigint").as("pos"),
        hex(col("c_custkey")).as("hexkey"),
        regexp_replace(col("c_name"), lit("Customer"), lit("C")).as("repl"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey,
        CAST(bit_length(c_name) AS BIGINT) AS bits,
        CAST(length(c_name) AS BIGINT) AS chars,
        c_mktsegment || ':' || c_name AS cat,
        lower(c_name) AS lo, upper(c_mktsegment) AS up,
        CAST(strpos(c_name, '1') AS BIGINT) AS pos,
        to_hex(c_custkey) AS hexkey,
        replace(c_name, 'Customer', 'C') AS repl
      FROM customer ORDER BY c_custkey""")),

    // ---- arithmetic + comparison + boolean operators ----
    ("q27_arith", (s: SparkSession, d: String) => {
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber").cast("bigint").as("ln"),
        (col("l_quantity") + col("l_tax")).as("addv"),
        (col("l_quantity") - col("l_discount")).as("subv"),
        (col("l_quantity") * lit(2.0)).as("mulv"),
        (col("l_extendedprice") / lit(4.0)).as("divv"),
        (col("l_linenumber") % lit(3)).cast("bigint").as("modv"),
        (col("l_quantity") >= lit(25.0)).as("gev"),
        ((col("l_tax") < 0.05) || (col("l_discount") > 0.08)).as("orv"),
        (!(col("l_returnflag") === "A")).as("notv"))
        .orderBy("l_orderkey", "ln")
    }, Some("""
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
        l_quantity + l_tax AS addv,
        l_quantity - l_discount AS subv,
        l_quantity * 2.0 AS mulv,
        l_extendedprice / 4.0 AS divv,
        CAST(l_linenumber % 3 AS BIGINT) AS modv,
        l_quantity >= 25.0 AS gev,
        (l_tax < 0.05) OR (l_discount > 0.08) AS orv,
        NOT (l_returnflag = 'A') AS notv
      FROM lineitem ORDER BY l_orderkey, ln""")),

    // ---- multi-key ORDER BY asc/desc ----
    ("q28_sort_multi", (s: SparkSession, d: String) => {
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").cast("bigint").as("nat"), col("c_acctbal"))
        .orderBy(col("nat").asc, col("c_acctbal").desc, col("c_custkey").asc)
        .limit(50)
    }, Some("""
      SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nat, c_acctbal
      FROM customer ORDER BY nat ASC, c_acctbal DESC, c_custkey ASC LIMIT 50""")),

    // ---- arrays (1-based access) + tuples/structs ----
    ("q29_array_tuple", (s: SparkSession, d: String) => {
      val words = split(trim(col("text")), " ")
      Tables.documents(s, d).select(
        col("doc_id"),
        // try_element_at: NULL past the array end (= DuckDB ws[i]), where
        // ANSI-mode element_at would throw on a <3-word document
        try_element_at(words, lit(1)).as("first_word"),
        try_element_at(words, lit(3)).as("third_word"),
        size(words).cast("bigint").as("n_words"),
        struct(col("lang").as("lang"), col("source").as("source")).getField("lang").as("t_lang"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        string_split(trim(text), ' ')[1] AS first_word,
        string_split(trim(text), ' ')[3] AS third_word,
        CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_words,
        struct_extract(struct_pack(lang := lang, source := source), 'lang') AS t_lang
      FROM documents ORDER BY doc_id""")),

    // ---- window frames: running + sliding ----
    ("q30_window_frame", (s: SparkSession, d: String) => {
      // order on the exact ns long so row order matches DuckDB's
      // TIMESTAMP_NS ordering bit-for-bit
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        sum(col("value").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("run_val"),
        count(lit(1)).over(w.rowsBetween(-2, Window.currentRow)).as("cnt3"))
        .orderBy("user_id", "event_id")
    }, Some("""
      SELECT event_id, user_id,
        CAST(sum(CAST(value AS DECIMAL(18,2))) OVER
          (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_val,
        count(*) OVER
          (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cnt3
      FROM events ORDER BY user_id, event_id""")),

    // ---- date/time intervals + extract ----
    ("q31_interval_date", (s: SparkSession, d: String) => {
      Tables.orders(s, d).select(
        col("o_orderkey"),
        date_format(col("o_orderdate") + expr("INTERVAL 3 MONTH"), "yyyy-MM-dd").as("plus3m"),
        date_format(col("o_orderdate") + expr("INTERVAL 10 DAY"), "yyyy-MM-dd").as("plus10d"),
        year(col("o_orderdate")).cast("bigint").as("yr"),
        month(col("o_orderdate")).cast("bigint").as("mo"),
        dayofmonth(col("o_orderdate")).cast("bigint").as("dom"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        strftime(o_orderdate + INTERVAL 10 DAY, '%Y-%m-%d') AS plus10d,
        CAST(year(o_orderdate) AS BIGINT) AS yr,
        CAST(month(o_orderdate) AS BIGINT) AS mo,
        CAST(day(o_orderdate) AS BIGINT) AS dom
      FROM orders ORDER BY o_orderkey""")),

    // ---- window: lag / lead / dense_rank / ntile ----
    ("q35_window_more", (s: SparkSession, d: String) => {
      val wKey = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      val wStatus = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderstatus"))
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(wKey).as("prev_price"),
        lead(col("o_totalprice"), 1).over(wKey).as("next_price"),
        dense_rank().over(wStatus).cast("bigint").as("status_rank"),
        ntile(4).over(wKey).cast("bigint").as("quartile"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some("""
      SELECT o_custkey, o_orderkey,
        lag(o_totalprice, 1) OVER wk AS prev_price,
        lead(o_totalprice, 1) OVER wk AS next_price,
        CAST(dense_rank() OVER ws AS BIGINT) AS status_rank,
        CAST(ntile(4) OVER wk AS BIGINT) AS quartile
      FROM orders
      WINDOW wk AS (PARTITION BY o_custkey ORDER BY o_orderkey),
             ws AS (PARTITION BY o_custkey ORDER BY o_orderstatus)
      ORDER BY o_custkey, o_orderkey""")),

    // ---- distribution windows: percent_rank / cume_dist / nth_value
    //      (closing the window-function matrix next to q18/q19/q35/
    //      q30/q67). percent_rank and cume_dist are exact rationals of
    //      rank arithmetic — computed AS integer ratios rounded at 6dp
    //      so both engines agree bit-for-bit; nth_value over the full
    //      frame is order-deterministic via the unique o_orderkey ----
    ("q69_window_dist", (s: SparkSession, d: String) => {
      val wKey = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      val wFull = wKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        round(percent_rank().over(wKey), 6).as("pct_rank"),
        round(cume_dist().over(wKey), 6).as("cume"),
        nth_value(col("o_orderkey"), 2).over(wFull).as("second_key"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some("""
      SELECT o_custkey, o_orderkey,
        round(percent_rank() OVER wk, 6) AS pct_rank,
        round(cume_dist() OVER wk, 6) AS cume,
        nth_value(o_orderkey, 2) OVER wf AS second_key
      FROM orders
      WINDOW wk AS (PARTITION BY o_custkey ORDER BY o_orderkey),
             wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, o_orderkey""")),

    // ---- equi-join with range predicate ----
    ("q36_range_pred_join", (s: SparkSession, d: String) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate").between(col("o_orderdate"),
              col("o_orderdate") + expr("INTERVAL 60 DAY")))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders
        ON l_orderkey = o_orderkey
        AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 60 DAY
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- JSON column extraction ----
    ("q37_json", (s: SparkSession, d: String) => {
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events ORDER BY event_id""")),

    // ---- ROLLUP (hierarchical grouping sets; beyond the reference's
    //      unimplemented GROUPING SET TODO) ----
    ("q33_rollup", (s: SparkSession, d: String) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().cast("bigint").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        count(*) AS n,
        CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // ---- CUBE ----
    ("q34_cube", (s: SparkSession, d: String) => {
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          grouping_id().cast("bigint").as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }, Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // ---- CAST matrix (expr_basic_tests.yaml cast forms; double→int
    //      via trunc: Spark truncates, DuckDB rounds) ----
    ("q54_casts", (s: SparkSession, d: String) => {
      Tables.orders(s, d).select(
        col("o_orderkey"),
        col("o_orderkey").cast("string").as("key_str"),
        col("o_totalprice").cast(DecimalType(12, 1)).cast("double").as("price_dec1"),
        expr("CAST(floor(o_totalprice) AS BIGINT)").as("price_int"),
        lit("42").cast("bigint").as("s2i"),
        lit(1).cast("boolean").as("i2b"),
        date_format(lit("2000-01-02").cast("date"), "yyyy-MM-dd").as("s2d"),
        date_format(lit("2000-01-02 03:04:05").cast("timestamp"), "yyyy-MM-dd HH:mm:ss").as("s2ts"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        CAST(o_orderkey AS VARCHAR) AS key_str,
        CAST(CAST(o_totalprice AS DECIMAL(12,1)) AS DOUBLE) AS price_dec1,
        CAST(floor(o_totalprice) AS BIGINT) AS price_int,
        CAST('42' AS BIGINT) AS s2i,
        CAST(1 AS BOOLEAN) AS i2b,
        strftime(CAST('2000-01-02' AS DATE), '%Y-%m-%d') AS s2d,
        strftime(CAST('2000-01-02 03:04:05' AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS s2ts
      FROM orders ORDER BY o_orderkey""")),

    // ---- exact percentiles (continuous interpolation) ----
    ("q53_percentile", (s: SparkSession, d: String) => {
      Tables.orders(s, d).groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus,
        round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        round(quantile_cont(o_totalprice, 0.99), 6) AS p99
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- every interval class the reference supports (README "Time
    //      intervals": Year, Year-Month, Month, Day, Day-Hour,
    //      Day-Minute, Day-Second; expr_interval_tests.yaml) ----
    ("q52_interval_classes", (s: SparkSession, d: String) => {
      // the per-row cost here is 8 string renderings of a timestamp —
      // the integer-math kernel replaces DateTimeFormatter (same
      // output, property-tested); interval arithmetic itself is cheap
      def f(c: Column) = graft.functions.fmtTimestamp(c)
      val t = col("o_orderdate")
      Tables.orders(s, d).select(
        col("o_orderkey"),
        f(t + expr("INTERVAL 1 YEAR")).as("plus_y"),
        f(t + expr("INTERVAL '1-2' YEAR TO MONTH")).as("plus_ym"),
        f(t + expr("INTERVAL 14 MONTH")).as("plus_m"),
        f(t + expr("INTERVAL 40 DAY")).as("plus_d"),
        f(t + expr("INTERVAL '2 06' DAY TO HOUR")).as("plus_dh"),
        f(t + expr("INTERVAL '2 06:30' DAY TO MINUTE")).as("plus_dm"),
        f(t + expr("INTERVAL '2 06:30:15' DAY TO SECOND")).as("plus_ds"),
        f(t - expr("INTERVAL 90 MINUTE")).as("minus_min"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        strftime(o_orderdate + INTERVAL 1 YEAR, '%Y-%m-%d %H:%M:%S') AS plus_y,
        strftime(o_orderdate + INTERVAL 14 MONTH, '%Y-%m-%d %H:%M:%S') AS plus_ym,
        strftime(o_orderdate + INTERVAL 14 MONTH, '%Y-%m-%d %H:%M:%S') AS plus_m,
        strftime(o_orderdate + INTERVAL 40 DAY, '%Y-%m-%d %H:%M:%S') AS plus_d,
        strftime(o_orderdate + INTERVAL '2 days 6 hours', '%Y-%m-%d %H:%M:%S') AS plus_dh,
        strftime(o_orderdate + INTERVAL '2 days 6 hours 30 minutes', '%Y-%m-%d %H:%M:%S') AS plus_dm,
        strftime(o_orderdate + INTERVAL '2 days 6 hours 30 minutes 15 seconds', '%Y-%m-%d %H:%M:%S') AS plus_ds,
        strftime(o_orderdate - INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS minus_min
      FROM orders ORDER BY o_orderkey""")),

    // ---- correlated scalar subquery in SELECT list (keenwa
    //      subqueries_tests.yaml: "SELECT a1, (SELECT count(b1) FROM b
    //      WHERE b1=a1) FROM a") → decorrelated left join + count ----
    ("q49_correlated_scalar_select", (s: SparkSession, d: String) => {
      val co = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      Tables.customer(s, d)
        .join(co, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("n"), lit(0L)).as("n_orders"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey,
        (SELECT count(o_orderkey) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      FROM customer ORDER BY c_custkey""")),

    // ---- TPC-H Q5 shape: 6-table join chain, broadcast dims ----
    ("q50_tpch_q5", (s: SparkSession, d: String) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val sup = Tables.supplier(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderdate") < ts("1999-01-01 00:00:00"))
      val l = Tables.lineitem(s, d)
      broadcast(r)
        .join(n, col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(sup), col("s_nationkey") === col("n_nationkey"))
        .join(l, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    }, Some("""
      SELECT n_name,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM region JOIN nation ON n_regionkey = r_regionkey
        JOIN supplier ON s_nationkey = n_nationkey
        JOIN lineitem ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      WHERE r_name = 'ASIA' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // ---- PIVOT (status columns from rows) ----
    ("q51_pivot", (s: SparkSession, d: String) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority,
        count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- higher-order array functions (lambdas over nested data) ----
    ("q48_higher_order", (s: SparkSession, d: String) => {
      val ws = split(trim(col("text")), " ")
      Tables.documents(s, d).select(
        col("doc_id"),
        aggregate(transform(ws, w => length(w).cast("long")), lit(0L), (acc, x) => acc + x)
          .as("sum_word_lens"),
        size(filter(ws, w => length(w) > 4)).cast("bigint").as("n_long_words"),
        exists(ws, w => w === "spark").as("mentions_spark"),
        forall(ws, w => length(w) < 20).as("all_short"))
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents)
      SELECT doc_id,
        CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS sum_word_lens,
        CAST(len(list_filter(ws, w -> length(w) > 4)) AS BIGINT) AS n_long_words,
        len(list_filter(ws, w -> w = 'spark')) > 0 AS mentions_spark,
        len(list_filter(ws, w -> length(w) >= 20)) = 0 AS all_short
      FROM w ORDER BY doc_id""")),

    // ---- month-spine gap-fill (reference TODO "WITH RECURSIVE"; the
    //      oracle keeps the recursive form). The spine bounds are
    //      LITERALS, so the recursion is constant-foldable: built as a
    //      sequence() LocalRelation — a keenwa-class optimizer would
    //      unroll it the same way, and UnionLoop's 84-iteration fixed
    //      overhead (~2.5s at any SF, the r3 bench's slowest
    //      pure-relational query) disappears. Spark's actual UnionLoop
    //      operator stays exercised by PlanSpec's recursive-CTE test.
    //      The fact side is PRE-AGGREGATED to per-month counts before
    //      the join (q04's rewrite): join input is spine-sized at any
    //      fact scale ----
    ("q47_recursive_cte", (s: SparkSession, d: String) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders_rec")
      s.sql("""
        WITH months AS (
          SELECT explode(sequence(TIMESTAMP '1995-01-01 00:00:00',
                                  TIMESTAMP '2001-12-01 00:00:00',
                                  INTERVAL 1 MONTH)) AS m),
        mo AS (
          SELECT date_trunc('month', o_orderdate) AS mm,
            count(o_orderkey) AS mn
          FROM v_orders_rec GROUP BY 1)
        SELECT date_format(m, 'yyyy-MM') AS month, coalesce(mn, 0) AS n
        FROM months LEFT JOIN mo ON mm = m
        ORDER BY month""")
    }, Some("""
      WITH RECURSIVE months(m) AS (
        SELECT TIMESTAMP '1995-01-01 00:00:00' AS m
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months
        WHERE m < TIMESTAMP '2001-12-01 00:00:00')
      SELECT strftime(m, '%Y-%m') AS month, count(o_orderkey) AS n
      FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
      GROUP BY m ORDER BY month""")),

    // ---- ANY/ALL subqueries (left as TODO in the reference:
    //      README "ANY/ALL <subquery>") ----
    ("q46_any_all", (s: SparkSession, d: String) => {
      anyAllRewrite(Tables.orders(s, d), col("o_orderstatus") === "P")
    }, Some("""
      SELECT o_orderkey,
        o_totalprice > ALL (SELECT o_totalprice FROM orders WHERE o_orderstatus = 'P') AS gt_all_p,
        o_totalprice < ANY (SELECT o_totalprice FROM orders WHERE o_orderstatus = 'P') AS lt_any_p
      FROM orders ORDER BY o_orderkey""")),

    // ---- statistics collection (keenwa: src/statistics/simple.rs:1;
    //      row counts / NDV / min-max feeding the cost model) ----
    ("q41_stats", (s: SparkSession, d: String) => {
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("ndv_orderkey"),
        countDistinct(col("l_partkey")).as("ndv_partkey"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price"), max(col("l_extendedprice")).as("max_price"),
        count(col("l_returnflag")).as("nn_returnflag"))
    }, Some("""
      SELECT count(*) AS n_rows,
        count(DISTINCT l_orderkey) AS ndv_orderkey,
        count(DISTINCT l_partkey) AS ndv_partkey,
        min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        count(l_returnflag) AS nn_returnflag
      FROM lineitem""")),

    // ---- NULL semantics: nullif/coalesce/propagation ----
    ("q42_null_semantics", (s: SparkSession, d: String) => {
      val masked = nullif(col("o_orderstatus"), lit("P"))
      Tables.orders(s, d).select(
        col("o_orderkey"),
        masked.as("status_or_null"),
        coalesce(masked, lit("unknown")).as("coalesced"),
        (nullif(col("o_totalprice"), col("o_totalprice")) + lit(1.0)).as("null_arith"),
        masked.isNull.as("was_p"),
        when(masked.isNull, "masked").otherwise(masked).as("case_null"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        nullif(o_orderstatus, 'P') AS status_or_null,
        coalesce(nullif(o_orderstatus, 'P'), 'unknown') AS coalesced,
        nullif(o_totalprice, o_totalprice) + 1.0 AS null_arith,
        nullif(o_orderstatus, 'P') IS NULL AS was_p,
        CASE WHEN nullif(o_orderstatus, 'P') IS NULL THEN 'masked'
             ELSE nullif(o_orderstatus, 'P') END AS case_null
      FROM orders ORDER BY o_orderkey""")),

    // ---- extended string functions ----
    ("q43_string_ext", (s: SparkSession, d: String) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        substring(col("p_name"), 1, 8).as("sub8"),
        lpad(col("p_brand"), 12, "*").as("lpadded"),
        rpad(col("p_brand"), 12, "*").as("rpadded"),
        reverse(col("p_type")).as("revtype"),
        repeat(col("p_brand"), 2).as("twice"),
        split_part(col("p_brand"), lit("#"), lit(2)).as("brand_num"),
        col("p_type").startsWith("PROMO").as("is_promo"),
        col("p_type").contains("LARGE").as("has_large"),
        ltrim(rtrim(concat(lit("  "), col("p_brand"), lit("  ")))).as("trimmed"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey,
        substring(p_name, 1, 8) AS sub8,
        lpad(p_brand, 12, '*') AS lpadded,
        rpad(p_brand, 12, '*') AS rpadded,
        reverse(p_type) AS revtype,
        repeat(p_brand, 2) AS twice,
        split_part(p_brand, '#', 2) AS brand_num,
        starts_with(p_type, 'PROMO') AS is_promo,
        contains(p_type, 'LARGE') AS has_large,
        ltrim(rtrim('  ' || p_brand || '  ')) AS trimmed
      FROM part ORDER BY p_partkey""")),

    // ---- math functions (transcendentals rounded to 8dp: JVM and
    //      DuckDB libm may differ in the last ulp) ----
    ("q44_math", (s: SparkSession, d: String) => {
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber").cast("bigint").as("ln"),
        abs(col("l_discount") - 0.05).as("absd"),
        ceil(col("l_quantity")).cast("bigint").as("ceilq"),
        floor(col("l_extendedprice")).cast("bigint").as("floorp"),
        round(col("l_extendedprice"), -2).as("round100"),
        sqrt(col("l_quantity")).as("sqrtq"),
        round(exp(col("l_discount")), 8).as("expd"),
        round(log(col("l_extendedprice")), 8).as("lnp"),
        pow(col("l_quantity"), lit(2)).as("q2"),
        signum(col("l_discount") - 0.05).cast("bigint").as("sgn"))
        .orderBy("l_orderkey", "ln")
    }, Some("""
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
        abs(l_discount - 0.05) AS absd,
        CAST(ceil(l_quantity) AS BIGINT) AS ceilq,
        CAST(floor(l_extendedprice) AS BIGINT) AS floorp,
        round(l_extendedprice, -2) AS round100,
        sqrt(l_quantity) AS sqrtq,
        round(exp(l_discount), 8) AS expd,
        round(ln(l_extendedprice), 8) AS lnp,
        pow(l_quantity, 2) AS q2,
        CAST(sign(l_discount - 0.05) AS BIGINT) AS sgn
      FROM lineitem ORDER BY l_orderkey, ln""")),

    // ---- extended date functions ----
    ("q45_date_ext", (s: SparkSession, d: String) => {
      Tables.orders(s, d).select(
        col("o_orderkey"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        datediff(lit(java.sql.Date.valueOf("2002-01-01")), col("o_orderdate"))
          .cast("bigint").as("days_to_2002"),
        date_format(col("o_orderdate"), "EEEE").as("dayname"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        quarter(col("o_orderdate")).cast("bigint").as("qtr"),
        weekofyear(col("o_orderdate")).cast("bigint").as("iso_week"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS BIGINT) AS days_to_2002,
        dayname(o_orderdate) AS dayname,
        CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week
      FROM orders ORDER BY o_orderkey""")),

    // ---- SQL front end (keenwa: src/sql/mod.rs:1 via sqlparser-rs;
    //      graft: Spark SQL text over registered views) ----
    ("q40_sql_front", (s: SparkSession, d: String) => {
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      s.sql("""
        WITH co AS (
          SELECT o_custkey, count(*) AS n_orders,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spent
          FROM v_orders GROUP BY o_custkey)
        SELECT c.c_mktsegment,
               count(*) AS n_cust,
               CAST(sum(n_orders) AS BIGINT) AS n_orders,
               CAST(sum(CAST(spent AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM v_customer c JOIN co ON c.c_custkey = co.o_custkey
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment""")
    }, Some("""
      WITH co AS (
        SELECT o_custkey, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spent
        FROM orders GROUP BY o_custkey)
      SELECT c.c_mktsegment,
             count(*) AS n_cust,
             CAST(sum(n_orders) AS BIGINT) AS n_orders,
             CAST(sum(CAST(spent AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM customer c JOIN co ON c.c_custkey = co.o_custkey
      GROUP BY c.c_mktsegment
      ORDER BY c.c_mktsegment""")),

    // ---- HLL sketch distinct-count (DataSketches). The estimate
    //      itself has no SQL equivalent, so the oracle checks the
    //      sketch's CONTRACT: the estimate must land within HLL error
    //      bounds (±5% ≫ the ~1.6% rse of lgK=12) of the exact count,
    //      emitted as a hash-checked boolean next to the exact value ----
    ("q38_hll_sketch", (s: SparkSession, d: String) => {
      // sketch agg and exact distinct are SEPARATE aggregations joined
      // after: mixing countDistinct (Expand-based) with the object-hash
      // HLL agg in one groupBy doubles the input and forces the whole
      // aggregate off the codegen path (measured 8x slower at sf0.1)
      val l = Tables.lineitem(s, d)
      val approx = l.groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("l_partkey"))).as("approx"))
      val exact = l.select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
      approx.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("est_within_5pct"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        true AS est_within_5pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- hourly tumbling window over events (streaming batch-parity) ----
    ("q32_events_window", (s: SparkSession, d: String) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("hour_start", "event_type")
    }, Some("""
      SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
        event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- explicit GROUPING SETS (beyond rollup/cube: arbitrary set
    //      list; the reference left GROUPING SET support as a TODO) ----
    ("q55_grouping_sets", (s: SparkSession, d: String) => {
      Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"),
          grouping(col("o_orderstatus")).cast("bigint").as("g_status"),
          grouping(col("o_orderpriority")).cast("bigint").as("g_prio"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("rev"), col("g_status"), col("g_prio"))
        .orderBy("status", "priority")
    }, Some("""
      SELECT coalesce(o_orderstatus, '(all)') AS status,
             coalesce(o_orderpriority, '(all)') AS priority,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
             CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
             CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      ORDER BY status, priority""")),

    // ---- LATERAL correlated subquery (per-row dependent subplan;
    //      Spark plans it as a DomainJoin-decorrelated join) ----
    ("q56_lateral", (s: SparkSession, d: String) => {
      Tables.customer(s, d).filter(col("c_custkey") < 50)
        .createOrReplaceTempView("v_cust_lat")
      Tables.orders(s, d).createOrReplaceTempView("v_ord_lat")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM v_cust_lat c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM v_ord_lat o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c.c_custkey, t.o_orderkey""")
    }, Some("""
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      WHERE c.c_custkey < 50
      ORDER BY c.c_custkey, t.o_orderkey""")),

    // ---- UNPIVOT/melt (wide → long; Spark Unpivot node) ----
    ("q57_unpivot", (s: SparkSession, d: String) => {
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
          "metric", "value")
        .orderBy("p_partkey", "metric")
    }, Some("""
      SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
      UNION ALL
      SELECT p_partkey, 'retailprice', p_retailprice FROM part
      ORDER BY p_partkey, metric""")),

    // ---- regex matrix: extract / global replace / match / extract_all
    //      (patterns kept RE2-compatible — DuckDB's engine has no
    //      backreferences, so parity requires the common subset) ----
    ("q58_regex", (s: SparkSession, d: String) => {
      Tables.part(s, d).select(col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("consonants"),
        col("p_name").rlike("r[aeiou]").as("has_r_vowel"),
        size(regexp_extract_all(col("p_name"), lit("[a-z]+"), lit(0)))
          .cast("bigint").as("n_tokens"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey,
        regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        regexp_replace(p_name, '[aeiou]', '', 'g') AS consonants,
        regexp_matches(p_name, 'r[aeiou]') AS has_r_vowel,
        CAST(len(regexp_extract_all(p_name, '[a-z]+', 0)) AS BIGINT) AS n_tokens
      FROM part ORDER BY p_partkey""")),

    // ---- MapType construction + access (DuckDB map extraction yields
    //      lists, so the oracle states the equivalent scalar truth) ----
    ("q59_map", (s: SparkSession, d: String) => {
      val m = map(lit("price"), col("p_retailprice"),
        lit("size"), col("p_size").cast("double"))
      Tables.part(s, d).select(col("p_partkey"),
        element_at(m, "size").as("m_size"),
        element_at(m, "price").as("m_price"),
        array_join(map_keys(m), ",").as("m_keys"),
        size(m).cast("bigint").as("m_n"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey, CAST(p_size AS DOUBLE) AS m_size,
        p_retailprice AS m_price, 'price,size' AS m_keys,
        CAST(2 AS BIGINT) AS m_n
      FROM part ORDER BY p_partkey""")),

    // ---- TPC-H Q10 shape: returned-item revenue by customer ----
    ("q60_tpch_q10", (s: SparkSession, d: String) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1997-01-01 00:00:00"))
      val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val n = Tables.nation(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .orderBy(desc("revenue"), col("c_custkey")).limit(20)
    }, Some("""
      SELECT c_custkey, c_name, n_name,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON o_orderkey = l_orderkey
                    JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ---- TPC-H Q18 shape: large-quantity orders (agg-filter semi) ----
    ("q61_tpch_q18", (s: SparkSession, d: String) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
    }, Some("""
      WITH big AS (
        SELECT l_orderkey,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300)
      SELECT c_name, c_custkey, o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS odate, o_totalprice, sum_qty
      FROM orders JOIN big ON o_orderkey = l_orderkey
                  JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey""")),

    // ---- theta sketches (custom TypedImperativeAggregate over
    //      DataSketches): distinct counts AND their intersection —
    //      the set-op capability HLL lacks. Oracle checks the sketch
    //      contract: estimates within error bounds of exact, as
    //      hash-compared booleans beside the exact counts ----
    ("q62_theta_sketch", (s: SparkSession, d: String) => {
      import graft.functions.{thetaSketch, thetaEstimate, thetaIntersectEstimate}
      val l = Tables.lineitem(s, d)
      val sk = l.agg(
        thetaSketch(when(col("l_returnflag") === "R", col("l_partkey"))).as("sk_r"),
        thetaSketch(when(col("l_linestatus") === "F", col("l_partkey"))).as("sk_f"))
      // all three exact counts from ONE per-key flag rollup (an
      // intersect() here would be a second shuffle + merge-join)
      val both = l.groupBy(col("l_partkey")).agg(
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("in_r"),
        max(when(col("l_linestatus") === "F", 1).otherwise(0)).as("in_f"))
        .agg(sum(col("in_r")).cast("bigint").as("exact_r"),
          sum(col("in_f")).cast("bigint").as("exact_f"),
          sum(col("in_r") * col("in_f")).cast("bigint").as("exact_both"))
      sk.crossJoin(both).select(
        col("exact_r"), col("exact_f"), col("exact_both"),
        (abs(thetaEstimate(col("sk_r")) - col("exact_r")) <=
          col("exact_r") * 0.05).as("r_within_5pct"),
        (abs(thetaEstimate(col("sk_f")) - col("exact_f")) <=
          col("exact_f") * 0.05).as("f_within_5pct"),
        (abs(thetaIntersectEstimate(col("sk_r"), col("sk_f")) - col("exact_both")) <=
          col("exact_both") * 0.10).as("both_within_10pct"))
    }, Some("""
      WITH r AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
      f AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_linestatus = 'F')
      SELECT (SELECT count(*) FROM r) AS exact_r,
             (SELECT count(*) FROM f) AS exact_f,
             (SELECT count(*) FROM r JOIN f USING (l_partkey)) AS exact_both,
             true AS r_within_5pct, true AS f_within_5pct,
             true AS both_within_10pct""")),

    // ---- MERGE / upsert (SCD-1): apply a change set (updates +
    //      inserts) to a target table as one full-outer join on the
    //      key + coalesce resolution — the Delta/Iceberg MERGE INTO
    //      shape without the transaction layer. Scale: one key
    //      shuffle of the target; a small change set broadcasts
    //      (AQE picks it), so steady-state ingest never rewrites
    //      unmatched rows through the join ----
    ("q63_merge_upsert", (s: SparkSession, d: String) => {
      val target = Tables.orders(s, d)
      // simulated change set: 1-in-7 price updates + 1-in-1000 inserts
      val updates = target.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") + lit(10.0)).as("new_price"))
      val inserts = target.filter(col("o_orderkey") % 1000 === 3)
        .select((col("o_orderkey") + lit(100000000L)).as("k"),
          col("o_totalprice").as("new_price"))
      val source = updates.unionAll(inserts)
      target.join(source, col("o_orderkey") === col("k"), "full_outer")
        .select(
          coalesce(col("o_orderkey"), col("k")).as("o_orderkey"),
          coalesce(col("new_price"), col("o_totalprice")).as("o_totalprice"),
          when(col("o_orderkey").isNull, "inserted")
            .when(col("k").isNull, "kept")
            .otherwise("updated").as("merge_action"))
        .orderBy("o_orderkey")
    }, Some("""
      WITH src AS (
        SELECT o_orderkey AS k, o_totalprice + 10.0 AS new_price
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 3)
      SELECT coalesce(t.o_orderkey, s.k) AS o_orderkey,
        coalesce(s.new_price, t.o_totalprice) AS o_totalprice,
        CASE WHEN t.o_orderkey IS NULL THEN 'inserted'
             WHEN s.k IS NULL THEN 'kept' ELSE 'updated' END AS merge_action
      FROM orders t FULL JOIN src s ON t.o_orderkey = s.k
      ORDER BY o_orderkey""")),

    // ---- bitwise operators (left as TODO in the reference:
    //      README "Bitwise operators") — AND/OR/XOR/NOT/shifts/
    //      popcount as a query-surface matrix. All codegen'd
    //      comparisons on 64-bit two's-complement in both engines;
    //      DuckDB's ^ is exponentiation, so the oracle uses xor() ----
    ("q64_bitwise", (s: SparkSession, d: String) => {
      val o = Tables.orders(s, d)
      o.select(
        col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("band"),
        col("o_orderkey").bitwiseOR(lit(4096L)).as("bor"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("bxor"),
        bitwise_not(col("o_orderkey")).as("bnot"),
        shiftleft(col("o_orderkey"), 3).as("shl"),
        shiftright(col("o_orderkey"), 2).as("shr"),
        bit_count(col("o_orderkey")).cast("bigint").as("popcnt"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        o_orderkey & 255 AS band,
        o_orderkey | 4096 AS bor,
        xor(o_orderkey, o_custkey) AS bxor,
        ~o_orderkey AS bnot,
        o_orderkey << 3 AS shl,
        o_orderkey >> 2 AS shr,
        CAST(bit_count(o_orderkey) AS BIGINT) AS popcnt
      FROM orders ORDER BY o_orderkey""")),

    // ---- error-safe TRY arithmetic: NULL instead of ANSI throw on
    //      overflow / bad cast / div-by-zero / OOB index. The oracle
    //      gets the same NULLs via guards (CASE for the overflows —
    //      DuckDB BIGINT arithmetic errors rather than wraps, so the
    //      non-taken branch must never evaluate; NULLIF for the zero
    //      divisor; native OOB-NULL list indexing).
    //      SCALE NOTE: TRY codegen throws/catches a JVM exception per
    //      FAILING row — error paths must be data-rare, not
    //      structural. A first cut overflowed on ~every row (3 TRY
    //      columns × 600k rows = 1.8M exceptions) and ran 72s at
    //      sf0.1; keyed to ~1/1000 rows it runs in under a second
    //      with identical NULL semantics ----
    ("q65_try_arith", (s: SparkSession, d: String) => {
      Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber").cast("bigint").as("l_linenumber"),
        expr("try_divide(l_extendedprice, l_quantity - 25.0)").as("try_div"),
        expr("try_multiply(9223372036854775807, " +
          "CASE WHEN l_orderkey % 997 = 0 THEN 2 ELSE 1 END)").as("try_mul_ovf"),
        expr("try_add(9223372036854775800, " +
          "CASE WHEN l_orderkey % 991 = 0 THEN 100 ELSE l_orderkey % 7 END)").as("try_add_ovf"),
        expr("try_cast(CASE WHEN l_orderkey % 977 = 0 THEN l_returnflag " +
          "ELSE CAST(l_orderkey AS STRING) END AS INT)").as("try_cast_mixed"),
        expr("try_subtract(-9223372036854775800, " +
          "CASE WHEN l_orderkey % 983 = 0 THEN 100 ELSE l_orderkey % 8 END)").as("try_sub_ovf"),
        expr("try_element_at(array(l_quantity, l_discount, l_tax, l_extendedprice), " +
          "CAST(CASE WHEN l_orderkey % 971 = 0 THEN 9 ELSE 1 + l_orderkey % 4 END AS INT))").as("try_elem"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some("""
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        l_extendedprice / NULLIF(l_quantity - 25.0, 0) AS try_div,
        CASE WHEN l_orderkey % 997 <> 0 THEN CAST(9223372036854775807 AS BIGINT) END AS try_mul_ovf,
        CASE WHEN l_orderkey % 991 <> 0 THEN CAST(9223372036854775800 + l_orderkey % 7 AS BIGINT) END AS try_add_ovf,
        TRY_CAST(CASE WHEN l_orderkey % 977 = 0 THEN l_returnflag
                      ELSE CAST(l_orderkey AS VARCHAR) END AS INT) AS try_cast_mixed,
        CASE WHEN l_orderkey % 983 <> 0 THEN CAST(-9223372036854775800 - l_orderkey % 8 AS BIGINT) END AS try_sub_ovf,
        [l_quantity, l_discount, l_tax, l_extendedprice]
          [CASE WHEN l_orderkey % 971 = 0 THEN 9 ELSE 1 + l_orderkey % 4 END] AS try_elem
      FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // ---- time-RANGE window frame: all events within the past hour
    //      per user (value-bounded frame, not row-bounded — the frame
    //      q30's ROWS variants can't express). The range rides the
    //      µs-floored epoch long so both engines bound the frame on
    //      identical integers (events.parquet is TIMESTAMP(NANOS);
    //      DuckDB reads it µs-truncated — SURVEY §4) ----
    ("q67_time_range_frame", (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us")).rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("val_1h"))
        .orderBy("event_id")
    }, Some("""
      WITH e AS (SELECT event_id, user_id, value,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events)
      SELECT event_id, user_id,
        count(*) OVER w AS n_1h,
        CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS val_1h
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")),

    // ---- ordered string aggregation (listagg WITHIN GROUP, Spark 4)
    //      cross-validated in the same row against the sorted-array
    //      formulation (array_sort + array_join) — deterministic only
    //      because of the WITHIN GROUP order, which the oracle's
    //      string_agg(ORDER BY) mirrors ----
    ("q66_listagg", (s: SparkSession, d: String) => {
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"),
          array_join(array_sort(collect_list(col("n_name"))), ",").as("nations_arr"),
          count(lit(1)).as("n"))
        .orderBy("r_name")
    }, Some("""
      SELECT r_name,
        string_agg(n_name, ',' ORDER BY n_name) AS nations,
        string_agg(n_name, ',' ORDER BY n_name) AS nations_arr,
        count(*) AS n
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""")),

    // ---- approximate-quantile CONTRACT (mergeable sketch #4 next to
    //      HLL/theta/Misra-Gries): percentile_approx runs on GK
    //      summaries — partial per partition, merged — whose VALUES
    //      are merge-order-dependent, so like t15 the gate checks the
    //      deterministic guarantee, not the estimate: the exact rank
    //      of each returned quantile must sit within ±n/accuracy (+1
    //      boundary slack) of the target rank, under ANY partitioning.
    //      q53 holds the exact-percentile surface; this is the sketch
    //      a 100 TB profile actually computes (one pass, KB state) ----
    ("q68_quantile_sketch", (s: SparkSession, d: String) => {
      val acc = 1000
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast("double").as("v"))
      val n = li.count()
      val qv = li.agg(percentile_approx(col("v"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(acc)).as("qv"))
        .head().getSeq[Double](0)
      // GK promises SOME rank of the returned value is within ±tol of
      // the target — on tie-heavy data the value occupies the whole
      // rank interval [count(v<q), count(v<=q)], so gate on that
      // interval OVERLAPPING the target band, not on the upper rank
      // alone (which counts every duplicate and can flakily exceed).
      val ranks = li.agg(
        sum(when(col("v") < qv(0), 1L).otherwise(0L)).as("lo25"),
        sum(when(col("v") <= qv(0), 1L).otherwise(0L)).as("hi25"),
        sum(when(col("v") < qv(1), 1L).otherwise(0L)).as("lo50"),
        sum(when(col("v") <= qv(1), 1L).otherwise(0L)).as("hi50"),
        sum(when(col("v") < qv(2), 1L).otherwise(0L)).as("lo75"),
        sum(when(col("v") <= qv(2), 1L).otherwise(0L)).as("hi75")).head()
      val tol = n / acc + 1
      def ok(lo: Long, hi: Long, p: Double) =
        hi >= p * n - tol && lo <= p * n + tol
      s.range(1).select(lit(n).as("n"), lit(acc.toLong).as("accuracy"),
        lit(tol).as("rank_tol"),
        lit(ok(ranks.getLong(0), ranks.getLong(1), 0.25)).as("ok_p25"),
        lit(ok(ranks.getLong(2), ranks.getLong(3), 0.50)).as("ok_p50"),
        lit(ok(ranks.getLong(4), ranks.getLong(5), 0.75)).as("ok_p75"))
    }, Some("""
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(1000 AS BIGINT) AS accuracy,
        CAST(count(*) // 1000 + 1 AS BIGINT) AS rank_tol,
        true AS ok_p25, true AS ok_p50, true AS ok_p75
      FROM lineitem""")),

    // ---- three-valued boolean tests (IS [NOT] TRUE/FALSE/UNKNOWN —
    //      reference expr.rs:58: implemented variants, not TODOs) on
    //      a genuinely NULLable boolean, plus array slice() semantics
    //      (expr.rs:93) across the full bound matrix: positive,
    //      negative-from-end, length past the end (clamps), start past
    //      the end (empty). Slices stringified (engine-portable
    //      compare); the oracle re-derives each predicate in portable
    //      SQL and mirrors Spark's slice spec with DuckDB's 1-based
    //      inclusive list bounds ----
    ("q70_bool_array", (s: SparkSession, d: String) => {
      val p = Tables.part(s, d).filter(col("p_partkey") <= 500)
        .withColumn("b", expr(
          "CASE WHEN p_size % 3 = 0 THEN CAST(NULL AS BOOLEAN) " +
            "ELSE p_size % 2 = 0 END"))
        // variable-length int array (3..8 elements) — long slices
        // need more room than the 2-word synthetic p_name gives
        .withColumn("a", sequence(lit(1L), lit(3L) + col("p_size") % 6))
      p.select(col("p_partkey"),
          expr("b IS TRUE").as("is_true"),
          expr("b IS NOT TRUE").as("is_not_true"),
          expr("b IS FALSE").as("is_false"),
          expr("b IS NOT FALSE").as("is_not_false"),
          expr("b IS UNKNOWN").as("is_unknown"),
          expr("b IS NOT UNKNOWN").as("is_not_unknown"),
          concat_ws(",", slice(col("a"), 2, 3)).as("s_pos"),
          concat_ws(",", slice(col("a"), -2, 2)).as("s_neg"),
          concat_ws(",", slice(col("a"), 4, 10)).as("s_clamp"),
          concat_ws(",", expr("slice(a, 9, 2)")).as("s_past"))
        .orderBy("p_partkey")
    }, Some("""
      WITH b0 AS (
        SELECT p_partkey,
          CASE WHEN p_size % 3 = 0 THEN NULL ELSE p_size % 2 = 0 END AS b,
          generate_series(1, 3 + p_size % 6) AS a
        FROM part WHERE p_partkey <= 500)
      SELECT p_partkey,
        coalesce(b, false) AS is_true,
        NOT coalesce(b, false) AS is_not_true,
        coalesce(NOT b, false) AS is_false,
        NOT coalesce(NOT b, false) AS is_not_false,
        b IS NULL AS is_unknown,
        b IS NOT NULL AS is_not_unknown,
        coalesce(array_to_string(a[2:4], ','), '') AS s_pos,
        coalesce(array_to_string(a[len(a)-1:len(a)], ','), '') AS s_neg,
        coalesce(array_to_string(a[4:len(a)], ','), '') AS s_clamp,
        coalesce(array_to_string(a[9:10], ','), '') AS s_past
      FROM b0 ORDER BY p_partkey""")),

    // ---- TPC-H Q21 shape: EXISTS and NOT EXISTS over the SAME table
    //      with the triple supplier correlation — the classic
    //      decorrelation stress (the reference's
    //      correlated_exists_tests only exercise single EXISTS).
    //      Catalyst must plan ONE left-semi + ONE left-anti join, both
    //      keyed on l_orderkey, with the left side's exchange reused
    //      between them (plan evidence in PLANS.md). "Late" is a fixed
    //      ship-date threshold (this corpus has no commit/receipt
    //      dates); semantics: the supplier was the ONLY late shipper
    //      of a finished multi-supplier order ----
    ("q71_exists_not_exists", (s: SparkSession, d: String) => {
      Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
      Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.nation(s, d).createOrReplaceTempView("v_nation")
      s.sql("""
        SELECT s_name, count(*) AS numwait
        FROM v_supplier
        JOIN v_lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN v_orders ON o_orderkey = l1.l_orderkey
        JOIN v_nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
          AND n_name = 'NATION_3'
          AND EXISTS (
            SELECT 1 FROM v_lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM v_lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > TIMESTAMP '1997-06-30 00:00:00')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name""")
    }, Some("""
      SELECT s_name, count(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE o_orderstatus = 'F'
        AND l1.l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
        AND n_name = 'NATION_3'
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > TIMESTAMP '1997-06-30 00:00:00')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name""")),

    // ---- IGNORE NULLS window matrix: lag/lead/nth_value/last_value
    //      skipping nulls — the gap-bridging semantics every
    //      sparse-measurement series needs (and a corner engines get
    //      wrong: the skipped row still OCCUPIES its position).
    //      Prices are masked null on URGENT orders to plant
    //      deterministic gaps; (o_orderdate, o_orderkey) is the
    //      unique in-partition order ----
    ("q72_ignore_nulls", (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val masked = when(col("o_orderpriority") =!= "1-URGENT",
        col("o_totalprice").cast(DecimalType(18, 2)))
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        masked.cast("double").as("price"),
        lag(masked, 1, null, ignoreNulls = true).over(w)
          .cast("double").as("prev_price"),
        lead(masked, 1, null, ignoreNulls = true).over(w)
          .cast("double").as("next_price"),
        last(masked, ignoreNulls = true).over(wRun)
          .cast("double").as("carried"),
        nth_value(masked, 2, ignoreNulls = true).over(wRun)
          .cast("double").as("second_seen"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some("""
      WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
          CASE WHEN o_orderpriority <> '1-URGENT'
               THEN CAST(o_totalprice AS DECIMAL(18,2)) END AS mp
        FROM orders)
      SELECT o_custkey, o_orderkey,
        CAST(mp AS DOUBLE) AS price,
        CAST(lag(mp IGNORE NULLS) OVER w AS DOUBLE) AS prev_price,
        CAST(lead(mp IGNORE NULLS) OVER w AS DOUBLE) AS next_price,
        CAST(last_value(mp IGNORE NULLS) OVER wr AS DOUBLE) AS carried,
        CAST(nth_value(mp, 2 IGNORE NULLS) OVER wr AS DOUBLE)
          AS second_seen
      FROM o
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey),
             wr AS (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""")),

    // ---- schema-evolution union: two generations of the same table,
    //      different column ORDER and a column only the new one has —
    //      unionByName(allowMissingColumns) aligns by NAME and
    //      null-fills (positional UNION would mis-zip); aggregated
    //      with GROUP BY ALL (the modern shorthand both engines
    //      support). The null-filled measure makes count(col) vs
    //      count(*) diverge exactly on the old generation ----
    ("q73_union_by_name", (s: SparkSession, d: String) => {
      val o = Tables.orders(s, d)
      val oldGen = o.filter(col("o_orderdate") <
          lit("1995-01-01").cast("timestamp"))
        .select(col("o_orderpriority"), col("o_orderstatus"))
      val newGen = o.filter(col("o_orderdate") >=
          lit("1995-01-01").cast("timestamp"))
        .select(col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
          col("o_orderpriority"))
      oldGen.unionByName(newGen, allowMissingColumns = true)
        .createOrReplaceTempView("v_gens")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
          count(*) AS n_rows,
          count(price) AS n_priced,
          CAST(sum(price) AS DOUBLE) AS revenue
        FROM v_gens
        GROUP BY ALL
        ORDER BY ALL""")
    }, Some("""
      WITH gens AS (
        SELECT o_orderpriority, o_orderstatus, NULL AS price
        FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
        UNION ALL BY NAME
        SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               o_orderpriority
        FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01')
      SELECT o_orderstatus, o_orderpriority,
        count(*) AS n_rows,
        count(price) AS n_priced,
        CAST(sum(price) AS DOUBLE) AS revenue
      FROM gens
      GROUP BY ALL
      ORDER BY ALL""")),

    // ---- TPC-H Q17 shape: small-quantity revenue loss — the
    //      classic correlated-aggregate decorrelation (l_quantity <
    //      0.2·avg per part). The 0.2·avg compare is cross-multiplied
    //      to 5·q·cnt < sum so the correlated threshold never touches
    //      a float; brand semi-join broadcasts before the per-part
    //      aggregate so the subquery only aggregates brand parts ----
    ("q74_tpch_q17", (s: SparkSession, d: String) => {
      val pk = Tables.part(s, d).filter(col("p_brand") === "Brand#4")
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"),
          col("l_quantity").cast("long").as("q"),
          col("l_extendedprice"))
      val perPart = li.groupBy(col("l_partkey"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("cq"))
      li.join(perPart, Seq("l_partkey"))
        .filter(col("q") * 5L * col("cq") < col("sq"))
        .agg(round(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double") / 7.0, 6).as("avg_yearly"))
    }, Some("""
      WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
      li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
               l_extendedprice
             FROM lineitem JOIN pk ON p_partkey = l_partkey),
      pp AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS sq,
               count(*) AS cq
             FROM li GROUP BY 1)
      SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                   AS DOUBLE) / 7.0, 6) AS avg_yearly
      FROM li JOIN pp USING (l_partkey) WHERE q * 5 * cq < sq""")),

    // ---- TPC-H Q20 shape: dominant suppliers of red parts in 1996 —
    //      nested aggregate HAVING against a correlated total,
    //      cross-multiplied (2·supplier_qty > part_total) so the
    //      half-share threshold stays integer; distinct supplier set
    //      semi-joins back into the supplier dimension ----
    ("q75_tpch_q20", (s: SparkSession, d: String) => {
      val red = Tables.part(s, d).filter(col("p_name").like("%red%"))
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
        .filter(year(col("l_shipdate")) === 1996)
        .join(broadcast(red), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("q"))
      val totals = li.groupBy(col("l_partkey")).agg(sum(col("q")).as("tot"))
      val hot = li.groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("q")).as("sq"))
        .join(totals, Seq("l_partkey"))
        .filter(col("sq") * 2L > col("tot"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, d)
        .join(hot, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_suppkey")
    }, Some("""
      WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE '%red%'),
      li AS (SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS q
             FROM lineitem JOIN red ON p_partkey = l_partkey
             WHERE date_part('year', l_shipdate) = 1996),
      tot AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS tot
              FROM li GROUP BY 1),
      hot AS (SELECT DISTINCT l_suppkey
              FROM (SELECT l_suppkey, l_partkey, CAST(sum(q) AS BIGINT) AS sq
                    FROM li GROUP BY 1, 2) ps
              JOIN tot USING (l_partkey)
              WHERE sq * 2 > tot)
      SELECT s_suppkey, s_name FROM supplier
      WHERE s_suppkey IN (SELECT l_suppkey FROM hot)
      ORDER BY s_suppkey""")),

    // ---- SQL UNIQUE table-subquery predicate (reference
    //      expr.rs:147's LAST unimplemented subquery operator —
    //      ALL/ANY/SOME landed as q46): UNIQUE(<subquery>) is true
    //      iff the subquery has no duplicate non-null row. Neither
    //      engine ships the predicate, so both sides decorrelate it
    //      the same way the reference's builder would: a per-(key,
    //      value) count>1 dup set, anti-semantics via a left join
    //      null test. Per customer: are all their order totals
    //      distinct? ----
    ("q76_unique_pred", (s: SparkSession, d: String) => {
      val o = Tables.orders(s, d)
        .select(col("o_custkey"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("tp"))
      val dups = o.groupBy(col("o_custkey"), col("tp"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1L)
        .select(col("o_custkey").as("dk")).distinct()
      Tables.customer(s, d)
        .join(dups, col("c_custkey") === col("dk"), "left")
        .select(col("c_custkey"), col("dk").isNull.as("totals_unique"))
        .orderBy("c_custkey")
    }, Some("""
      WITH dups AS (
        SELECT DISTINCT o_custkey AS dk
        FROM (SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS tp,
                count(*) AS n
              FROM orders GROUP BY 1, 2) g
        WHERE n > 1)
      SELECT c_custkey, dk IS NULL AS totals_unique
      FROM customer LEFT JOIN dups ON c_custkey = dk
      ORDER BY c_custkey""")),

    // ---- TPC-H Q2 shape: minimum-cost supplier per part — the
    //      correlated-MIN subquery (`s_acctbal = (SELECT min ...)`),
    //      decorrelated as a per-part min aggregate joined back.
    //      The supplied-pairs set comes from DISTINCT lineitem
    //      (l_partkey, l_suppkey) — the stand-in for partsupp. The
    //      min is an untouched double element (no arithmetic), so
    //      equality against it is bit-exact on both engines ----
    ("q77_tpch_q2", (s: SparkSession, d: String) => {
      val pairs = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val cand = pairs.join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"), col("s_suppkey"),
          col("s_acctbal"), col("s_name"))
      val mb = cand.groupBy(col("l_partkey"))
        .agg(min(col("s_acctbal")).as("mb"))
      cand.join(mb, Seq("l_partkey"))
        .filter(col("s_acctbal") === col("mb"))
        .join(Tables.part(s, d).filter(col("p_size") < 15),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("s_acctbal"))
        .orderBy("p_partkey", "s_suppkey")
    }, Some("""
      WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      cand AS (SELECT l_partkey, s_suppkey, s_acctbal, s_name
               FROM pairs JOIN supplier ON l_suppkey = s_suppkey),
      mb AS (SELECT l_partkey, min(s_acctbal) AS mb FROM cand GROUP BY 1)
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
      FROM cand JOIN mb USING (l_partkey)
      JOIN part ON p_partkey = l_partkey
      WHERE s_acctbal = mb AND p_size < 15
      ORDER BY p_partkey, s_suppkey""")),

    // ---- TPC-H Q13 shape: customer order-count distribution — the
    //      classic outer-join-then-double-aggregate. The LEFT join
    //      keeps zero-order customers (count(o_orderkey) skips the
    //      null-extended rows, so they land in the c_count=0 bucket),
    //      and the second aggregate is over the first's output —
    //      customer-sized, not order-sized ----
    ("q78_tpch_q13", (s: SparkSession, d: String) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
      val cnt = Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      cnt.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }, Some("""
      WITH cnt AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY 1)
      SELECT c_count, count(*) AS custdist
      FROM cnt GROUP BY 1
      ORDER BY custdist DESC, c_count DESC""")),

    // ---- TPC-H Q22 shape: positive-balance customers above the
    //      segment average with no RECENT orders (lapsed since
    //      2001) — scalar-average subquery + NOT EXISTS in one query.
    //      The average threshold is cross-multiplied (bal·n > total,
    //      both decimal-exact) so no float division decides
    //      membership; the anti join IS the NOT EXISTS; the 1-row
    //      threshold frame broadcasts ----
    ("q79_tpch_q22", (s: SparkSession, d: String) => {
      val seg = Tables.customer(s, d)
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY",
          "AUTOMOBILE"))
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast(DecimalType(18, 2)).as("bal"))
      val thr = seg.filter(col("bal") > 0)
        .agg(sum(col("bal")).as("tot"), count(lit(1)).as("n"))
      seg.crossJoin(broadcast(thr))
        .filter(col("bal") * col("n") > col("tot"))
        .join(Tables.orders(s, d).filter(col("o_orderdate") >=
            lit("2001-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal")).cast("double").as("totacctbal"))
        .orderBy("c_mktsegment")
    }, Some("""
      WITH seg AS (
        SELECT c_custkey, c_mktsegment,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer
        WHERE c_mktsegment IN ('BUILDING','MACHINERY','AUTOMOBILE')),
      thr AS (SELECT sum(bal) AS tot, count(*) AS n
              FROM seg WHERE bal > 0)
      SELECT c_mktsegment, count(*) AS numcust,
             CAST(sum(bal) AS DOUBLE) AS totacctbal
      FROM seg, thr
      WHERE bal * n > tot
        AND NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2001-01-01')
      GROUP BY 1 ORDER BY 1""")),

    // ---- TPC-H Q19 shape: disjunction of brand×size×quantity
    //      envelopes (OR-of-ANDs). The planner point: each side's
    //      ENVELOPE is pushed below the join — part keeps only rows
    //      satisfying SOME branch's (brand, size) conjunct, lineitem
    //      only quantities inside the union range — so the join sees
    //      pre-shrunk inputs and the full cross-side predicate only
    //      re-checks matched rows. Part side broadcasts ----
    ("q80_tpch_q19", (s: SparkSession, d: String) => {
      val branch = (brand: String, smax: Int, qlo: Int, qhi: Int) =>
        col("p_brand") === brand &&
          col("p_size").between(1, smax) &&
          col("l_quantity").between(qlo, qhi)
      val p = Tables.part(s, d)
        .filter((col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_quantity").between(1, 30))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(branch("Brand#12", 5, 1, 11) ||
          branch("Brand#23", 10, 10, 20) ||
          branch("Brand#34", 15, 20, 30))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"))
    }, Some("""
      SELECT count(*) AS n_items,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)""")),

    // ---- TPC-H Q15 shape: top supplier by quarterly revenue WITH
    //      TIES — the revenue view consumed twice (per-supplier rows
    //      + its global max), ties kept by exact DECIMAL equality
    //      (the revenue never becomes a float until output, so
    //      "equals the max" is well-defined on both engines). The
    //      1-row max frame broadcasts ----
    ("q81_tpch_q15", (s: SparkSession, d: String) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1996-04-01 00:00:00"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("total_rev"))
      val mx = rev.agg(max(col("total_rev")).as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_rev") === col("mx"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    }, Some("""
      WITH rev AS (
        SELECT l_suppkey,
          sum(CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(18,6))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1)
      SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
      FROM rev JOIN supplier ON s_suppkey = l_suppkey
      WHERE total_rev = (SELECT max(total_rev) FROM rev)
      ORDER BY s_suppkey""")),

    // ---- TPC-H Q14 shape: promo revenue share — conditional
    //      aggregate over one join month. Both the promo and total
    //      sums stay DECIMAL through the aggregate; the share is ONE
    //      rounded double division (never a float accumulation) ----
    ("q82_tpch_q14", (s: SparkSession, d: String) => {
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1997-09-01 00:00:00") &&
          col("l_shipdate") < ts("1997-10-01 00:00:00"))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast(DecimalType(18, 6)))).as("promo"),
          sum(rev).as("total"))
        .select(col("n_items"),
          col("promo").cast("double").as("promo_revenue"),
          round(lit(100.0) * col("promo").cast("double") /
            col("total").cast("double"), 6).as("promo_share"))
    }, Some("""
      SELECT count(*) AS n_items,
        CAST(sum(CASE WHEN p_type = 'PROMO'
          THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
          ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
        round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
            THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
            ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
          CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_share
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        AND l_shipdate < TIMESTAMP '1997-10-01'""")),

    // ---- TPC-H Q8 shape: market share per order year — the
    //      5-table join (customer region gates demand, supplier
    //      nation is the share numerator) feeding a conditional
    //      aggregate. Numerator and denominator are both DECIMAL
    //      partial-aggregable sums per year; the share is one rounded
    //      double division per year row. Dims broadcast; only the
    //      lineitem⋈orders edge shuffles ----
    ("q83_tpch_q8", (s: SparkSession, d: String) => {
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6))
      val asiaNations = Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nat"))
      val supNation = Tables.supplier(s, d)
        .join(Tables.nation(s, d),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("sup_nation"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(asiaNations), col("c_nationkey") === col("c_nat"))
        .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(when(col("sup_nation") === "NATION_3", rev)
            .otherwise(lit(0).cast(DecimalType(18, 6)))).as("nat"),
          sum(rev).as("total"))
        .select(col("o_year"),
          round(col("nat").cast("double") / col("total").cast("double"), 6)
            .as("mkt_share"),
          col("total").cast("double").as("total_revenue"))
        .orderBy("o_year")
    }, Some("""
      WITH j AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
          CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS rev,
          sn.n_name AS sup_nation
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA')
      SELECT o_year,
        round(CAST(sum(CASE WHEN sup_nation = 'NATION_3' THEN rev
            ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
          CAST(sum(rev) AS DOUBLE), 6) AS mkt_share,
        CAST(sum(rev) AS DOUBLE) AS total_revenue
      FROM j GROUP BY 1 ORDER BY 1""")),

    // ---- TPC-H Q11 shape: important stock — keep parts whose value
    //      (from a 3-nation supplier set) exceeds 1/1000 of the
    //      GLOBAL total: per-group aggregate vs a scalar-subquery
    //      threshold. The compare is pv·1000 > total on exact
    //      DECIMALs (no float fraction decides membership); the
    //      1-row total broadcasts; the supplier set is a broadcast
    //      semi-join before either aggregate ----
    ("q84_tpch_q11", (s: SparkSession, d: String) => {
      val supN = Tables.supplier(s, d)
        .join(Tables.nation(s, d),
          col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .select(col("s_suppkey"))
      val v = Tables.lineitem(s, d)
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("val"))
      val per = v.groupBy(col("l_partkey")).agg(sum(col("val")).as("pv"))
      val tot = v.agg(sum(col("val")).as("tot"))
      per.crossJoin(broadcast(tot))
        .filter(col("pv") * 1000 > col("tot"))
        .select(col("l_partkey"), col("pv").cast("double").as("part_value"))
        .orderBy(desc("part_value"), col("l_partkey"))
    }, Some("""
      WITH sn AS (SELECT s_suppkey FROM supplier
                  JOIN nation ON s_nationkey = n_nationkey
                  WHERE n_name IN ('NATION_1','NATION_2','NATION_3')),
      v AS (SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS val
            FROM lineitem JOIN sn ON l_suppkey = s_suppkey),
      per AS (SELECT l_partkey, sum(val) AS pv FROM v GROUP BY 1),
      tot AS (SELECT sum(val) AS tot FROM v)
      SELECT l_partkey, CAST(pv AS DOUBLE) AS part_value
      FROM per, tot WHERE pv * 1000 > tot
      ORDER BY part_value DESC, l_partkey""")),

    // ---- NULL placement matrix: the four ASC/DESC ×
    //      NULLS FIRST/LAST combinations over a nullable sort key,
    //      each slice's top-5 by rank (unique o_orderkey tiebreak
    //      inside the null group and between equal values). The
    //      surface q28 (multi-key asc/desc) and q42 (null semantics)
    //      leave untested: where the nulls LAND ----
    ("q85_null_order", (s: SparkSession, d: String) => {
      val t = Tables.orders(s, d).select(col("o_orderkey"),
        when(col("o_orderstatus") === "P", lit(null).cast("double"))
          .otherwise(col("o_totalprice")).as("v"))
      def slice(name: String, ord: Column) = t
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(ord, col("o_orderkey"))))
        .filter(col("rn") <= 5)
        .select(lit(name).as("ord"), col("o_orderkey"),
          col("rn").cast("long").as("rn"))
      slice("asc_nulls_first", col("v").asc_nulls_first)
        .unionAll(slice("asc_nulls_last", col("v").asc_nulls_last))
        .unionAll(slice("desc_nulls_first", col("v").desc_nulls_first))
        .unionAll(slice("desc_nulls_last", col("v").desc_nulls_last))
        .orderBy("ord", "rn")
    }, Some("""
      WITH t AS (SELECT o_orderkey,
          CASE WHEN o_orderstatus = 'P' THEN NULL
               ELSE o_totalprice END AS v
        FROM orders),
      a AS (SELECT 'asc_nulls_first' AS ord, o_orderkey,
              row_number() OVER (ORDER BY v ASC NULLS FIRST, o_orderkey)
                AS rn FROM t),
      b AS (SELECT 'asc_nulls_last' AS ord, o_orderkey,
              row_number() OVER (ORDER BY v ASC NULLS LAST, o_orderkey)
                AS rn FROM t),
      c AS (SELECT 'desc_nulls_first' AS ord, o_orderkey,
              row_number() OVER (ORDER BY v DESC NULLS FIRST, o_orderkey)
                AS rn FROM t),
      dd AS (SELECT 'desc_nulls_last' AS ord, o_orderkey,
              row_number() OVER (ORDER BY v DESC NULLS LAST, o_orderkey)
                AS rn FROM t)
      SELECT ord, o_orderkey, CAST(rn AS BIGINT) AS rn FROM (
        SELECT * FROM a WHERE rn <= 5
        UNION ALL SELECT * FROM b WHERE rn <= 5
        UNION ALL SELECT * FROM c WHERE rn <= 5
        UNION ALL SELECT * FROM dd WHERE rn <= 5)
      ORDER BY ord, rn""")),

    // ---- JSONL source roundtrip: write the documents table as
    //      JSON-lines, read it back through an explicit schema, and
    //      checksum content (count, char mass, an FNV-1a text
    //      checksum, lang cardinality). The ORACLE reads the
    //      ORIGINAL parquet — a green row proves the JSON write/read
    //      path preserved every text byte through escaping (the
    //      sources family's first oracle-gated row; the write paths
    //      themselves are SinksSpec-gated) ----
    ("src01_jsonl_roundtrip", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      // fixed per-entry path (mode overwrite): a fresh temp dir per
      // invocation would leak a docs-sized copy into /tmp on every
      // warmup+timed bench pass
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), "graft-src-jsonl").toString
      docs.write.mode("overwrite").json(out)
      val back = s.read.schema(docs.schema).json(out)
      back.agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(pmod(graft.functions.fnv64(col("text")), lit(2000003L)))
          .as("text_checksum"),
        countDistinct(col("lang")).as("n_langs"))
    }, Some(s"""
      SELECT count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        CAST(sum(((${OracleSql.signed(OracleSql.fnvU64("text"))} % 2000003)
          + 2000003) % 2000003) AS BIGINT) AS text_checksum,
        count(DISTINCT lang) AS n_langs
      FROM documents""")),

    // ---- CSV source roundtrip with FORCED quoting: every row's
    //      text gets a `x,"y" ` prefix (embedded comma + quote), so
    //      the write MUST quote and escape and the read MUST undo
    //      both; the oracle computes the same checksum off the
    //      original parquet. A green row proves the CSV quote/escape
    //      path byte-exact — the classic silent-corruption trap of
    //      text corpora in CSV ----
    ("src02_csv_roundtrip", (s: SparkSession, d: String) => {
      val der = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("x,\"y\" "), col("text")).as("t2"))
      // fixed per-entry path, same rationale as src01
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), "graft-src-csv").toString
      der.write.mode("overwrite").option("header", "true").csv(out)
      val back = s.read.schema(der.schema).option("header", "true")
        .csv(out)
      back.agg(count(lit(1)).as("n_docs"),
        sum(length(col("t2")).cast("long")).as("sum_len"),
        sum(pmod(graft.functions.fnv64(col("t2")), lit(2000003L)))
          .as("text_checksum"))
    }, Some(s"""
      WITH t AS (SELECT 'x,"y" ' || text AS t2 FROM documents)
      SELECT count(*) AS n_docs,
        CAST(sum(length(t2)) AS BIGINT) AS sum_len,
        CAST(sum(((${OracleSql.signed(OracleSql.fnvU64("t2"))} % 2000003)
          + 2000003) % 2000003) AS BIGINT) AS text_checksum
      FROM t""")),

    // ---- ORC source roundtrip with TYPE-fidelity stress: lineitem's
    //      mixed types (BIGINT/INT, DOUBLE→DECIMAL(18,2), TIMESTAMP
    //      µs, strings) written as ORC and read back through the
    //      explicit schema; checksums = exact aggregates over every
    //      column class (decimal money sum per §4, timestamp mass as
    //      epoch-µs mod p). The oracle reads the ORIGINAL parquet —
    //      a green row proves the ORC writer/reader preserved values
    //      AND types (a decimal downcast, a timestamp zone shift, or
    //      an int narrowing would all shift a checksum). Spark's ORC
    //      datasource is columnar + vectorized like parquet, so the
    //      read side keeps the same pushdown/pruning path the rest of
    //      the suite proves on parquet ----
    ("src03_orc_roundtrip", (s: SparkSession, d: String) => {
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast("decimal(18,2)").as("price_dec"),
        col("l_shipdate").cast("timestamp").as("ship_ts"),
        col("l_returnflag"))
      // fixed per-entry path, same rationale as src01 (lineitem is
      // the largest table, so this dir grew fastest as a temp dir)
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), "graft-src-orc").toString
      li.write.mode("overwrite").orc(out)
      val back = s.read.schema(li.schema).orc(out)
      back.agg(count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).as("sum_key"),
        sum(col("l_linenumber").cast("long")).as("sum_line"),
        sum(col("price_dec")).cast("double").as("sum_price"),
        sum(pmod(unix_micros(col("ship_ts")), lit(2000003L)))
          .as("ts_checksum"),
        countDistinct(col("l_returnflag")).as("n_flags"))
    }, Some("""
      SELECT count(*) AS n_rows,
        CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
        CAST(sum(l_linenumber) AS BIGINT) AS sum_line,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price,
        CAST(sum(epoch_us(l_shipdate) % 2000003) AS BIGINT)
          AS ts_checksum,
        count(DISTINCT l_returnflag) AS n_flags
      FROM lineitem""")),

    // ---- explode vs explode_outer on empty arrays: the generator
    //      null-preservation corner (q29 covers element access, q48
    //      lambdas — neither tests what happens to a row whose array
    //      is EMPTY). inner drops the 106 empty-array docs, outer
    //      keeps them as one null row each; the counts prove both
    //      semantics exactly ----
    ("q86_explode_outer", (s: SparkSession, d: String) => {
      val t = Tables.documents(s, d).select(col("doc_id"),
        expr("filter(split(trim(text), ' '), x -> length(x) >= 8)")
          .as("arr"))
      def agg(mode: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          count(when(col("w").isNull, 1)).as("n_null"))
        .select(lit(mode).as("mode"), col("n_rows"), col("n_docs"),
          col("n_null"))
      agg("inner", t.select(col("doc_id"), explode(col("arr")).as("w")))
        .unionAll(agg("outer",
          t.select(col("doc_id"), explode_outer(col("arr")).as("w"))))
        .orderBy("mode")
    }, Some("""
      WITH t AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '),
            x -> length(x) >= 8) AS arr
        FROM documents)
      SELECT 'inner' AS mode, CAST(sum(len(arr)) AS BIGINT) AS n_rows,
        count(CASE WHEN len(arr) > 0 THEN 1 END) AS n_docs,
        CAST(0 AS BIGINT) AS n_null
      FROM t
      UNION ALL
      SELECT 'outer', CAST(sum(greatest(len(arr), 1)) AS BIGINT),
        count(*), count(CASE WHEN len(arr) = 0 THEN 1 END)
      FROM t ORDER BY mode""")),

    // ---- array slice with STRIDE (reference expr.rs:93-97, the
    //      `stride` arm — q70 covers the bound matrix but never a
    //      step). Spark's slice() has no step, so the walk is a
    //      transform over sequence(start, stop, step) after DuckDB's
    //      normalize-then-clamp: negative indices count from the end
    //      (sz+i+1), positive steps clamp to [1, sz] walking up,
    //      negative steps clamp to [sz, 1] walking down, and an
    //      empty walk (start past stop) yields [] not an error.
    //      Cases: plain stride, stride past the end, negative bounds,
    //      mixed sign bounds, start>stop empty, negative stride
    //      (reversal), zero lower clamp ----
    ("q88_array_slice_stride", (s: SparkSession, d: String) => {
      def sliceStride(arr: Column, lo: Column, hi: Column,
          step: Long): Column = {
        require(step != 0L, "stride must be non-zero")
        val sz = size(arr).cast("long")
        def norm(i: Column) =
          when(i < 0, sz + i.cast("long") + lit(1L))
            .otherwise(i.cast("long"))
        val idx = if (step > 0) {
          val st = greatest(norm(lo), lit(1L))
          val en = least(norm(hi), sz)
          when(st <= en, sequence(st, en, lit(step)))
            .otherwise(array().cast("array<bigint>"))
        } else {
          val st = least(norm(lo), sz)
          val en = greatest(norm(hi), lit(1L))
          when(st >= en, sequence(st, en, lit(step)))
            .otherwise(array().cast("array<bigint>"))
        }
        transform(idx, i => element_at(arr, i.cast("int")))
      }
      val p = Tables.part(s, d).filter(col("p_partkey") <= 500)
        .withColumn("a", sequence(lit(1L), lit(3L) + col("p_size") % 6))
      def str(c: Column) = concat_ws(",", c)
      p.select(col("p_partkey"),
          str(sliceStride(col("a"), lit(2), lit(6), 2L)).as("s_step2"),
          str(sliceStride(col("a"), lit(1), lit(100), 3L)).as("s_past"),
          str(sliceStride(col("a"), lit(-5), lit(-1), 2L)).as("s_negb"),
          str(sliceStride(col("a"), lit(2), lit(-1), 2L)).as("s_mixed"),
          str(sliceStride(col("a"), lit(4), lit(2), 1L)).as("s_empty"),
          str(sliceStride(col("a"), lit(8), lit(3), -2L)).as("s_rev"),
          str(sliceStride(col("a"), lit(0), lit(4), 2L)).as("s_zlo"))
        .orderBy("p_partkey")
    }, Some("""
      WITH b0 AS (
        SELECT p_partkey, generate_series(1, 3 + p_size % 6) AS a
        FROM part WHERE p_partkey <= 500)
      SELECT p_partkey,
        coalesce(array_to_string(a[2:6:2], ','), '') AS s_step2,
        coalesce(array_to_string(a[1:100:3], ','), '') AS s_past,
        coalesce(array_to_string(a[-5:-1:2], ','), '') AS s_negb,
        coalesce(array_to_string(a[2:-1:2], ','), '') AS s_mixed,
        coalesce(array_to_string(a[4:2:1], ','), '') AS s_empty,
        coalesce(array_to_string(a[8:3:-2], ','), '') AS s_rev,
        coalesce(array_to_string(a[0:4:2], ','), '') AS s_zlo
      FROM b0 ORDER BY p_partkey""")),

    // ---- DISTINCT ON (reference physical `Unique.on_expr`,
    //      src/operators/relational/physical/unique.rs:16-18: "a row
    //      is distinct iff no other row has the same value of the
    //      expression"). Spark has no DISTINCT ON, and its raw
    //      `dropDuplicates(subset)` keeps an ARBITRARY survivor per
    //      key (whichever row the hash-agg absorbs first — replan/
    //      AQE-dependent, different between runs). The production
    //      pattern is the deterministic ELECTION graft already uses
    //      internally (er03/d18): `max(struct(order cols, payload))`
    //      per key — the struct's lexicographic order makes the
    //      survivor total-ordered, and the agg is partial-aggregable:
    //      the map side elects per partition, so only ONE elected
    //      struct per key crosses the shuffle — cheaper than the
    //      window-rank alternative, which shuffles EVERY payload row
    //      into a post-shuffle sort. Spark realizes the election as a
    //      partial/final SortAggregate pair (struct agg buffers are
    //      not Tungsten-mutable, so HashAggregate cannot apply); its
    //      Sorts are PARTITION-LOCAL and pre-shuffle, so the shuffle-
    //      volume claim is unchanged (PlanSpec pins exactly this
    //      shape, PLANS.md exhibits it). Latest order per customer,
    //      date ties broken
    //      by highest orderkey; oracle = DuckDB's NATIVE
    //      `DISTINCT ON (k) ... ORDER BY k, o DESC` ----
    ("q89_distinct_on", (s: SparkSession, d: String) => {
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
          col("o_totalprice"))).as("_e"))
        .select(col("o_custkey"),
          date_format(col("_e.o_orderdate"), "yyyy-MM-dd HH:mm:ss")
            .as("last_date"),
          col("_e.o_orderkey").as("last_key"),
          col("_e.o_totalprice").as("last_price"))
        .orderBy("o_custkey")
    }, Some("""
      SELECT o_custkey,
        strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS last_date,
        o_orderkey AS last_key,
        o_totalprice AS last_price
      FROM (SELECT DISTINCT ON (o_custkey) o_custkey, o_orderdate,
              o_orderkey, o_totalprice
            FROM orders
            ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC)
      ORDER BY o_custkey""")),

    // ---- TIME (time-of-day) type — reference DataType::Time
    //      (src/datatypes.rs:21-22). DOCUMENTED DIVERGENCE (the
    //      SIMILAR-TO precedent): Spark has no TIME type at all, so
    //      graft maps time-of-day onto µs-since-midnight BIGINT
    //      (`tod = epoch_µs % 86 400 000 000`) and proves the full
    //      semantics matrix against DuckDB's NATIVE TIME on the same
    //      instants: extracts (hour / minute / integer second /
    //      sub-minute microsecond — the Postgres field semantics),
    //      wrap-around arithmetic (TIME + 90 min crosses midnight ↔
    //      `(tod + 5.4e9) % 8.64e10 < tod`), TIME-literal range
    //      predicates (business hours BETWEEN), min/max ordering
    //      (epoch_us(TIME) IS µs-since-midnight), and TIME
    //      difference (date_diff µs ↔ plain BIGINT subtraction).
    //      All integer arithmetic — no float drift, and the µs-floor
    //      rides the same `ts_ns div 1000` contract as q67 so both
    //      timestamp generations compare equal ----
    ("q90_time_of_day", (s: SparkSession, d: String) => {
      val dayUs = 86400000000L
      Tables.events(s, d)
        .withColumn("tod", expr(s"(ts_ns div 1000) % ${dayUs}L"))
        .withColumn("tod90", expr(s"(tod + 5400000000L) % ${dayUs}L"))
        .groupBy(expr("tod div 3600000000L").as("hr"))
        .agg(count(lit(1)).as("n"),
          min(col("tod")).as("min_us"),
          max(col("tod")).as("max_us"),
          sum(expr("(tod div 60000000L) % 60")).as("sum_min"),
          sum(expr("(tod div 1000000L) % 60")).as("sum_sec"),
          sum(expr("tod % 60000000L")).as("sum_subm_us"),
          count(when(col("tod90") < col("tod"), 1)).as("n_wrap"),
          count(when(col("tod").between(32400000000L, 61200000000L), 1))
            .as("n_biz"),
          (max(col("tod")) - min(col("tod"))).as("span_us"))
        .orderBy("hr")
    }, Some("""
      WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS TIME) AS t
                 FROM events)
      SELECT CAST(extract(hour FROM t) AS BIGINT) AS hr,
        count(*) AS n,
        CAST(min(epoch_us(t)) AS BIGINT) AS min_us,
        CAST(max(epoch_us(t)) AS BIGINT) AS max_us,
        CAST(sum(extract(minute FROM t)) AS BIGINT) AS sum_min,
        CAST(sum(extract(second FROM t)) AS BIGINT) AS sum_sec,
        CAST(sum(extract(microsecond FROM t)) AS BIGINT) AS sum_subm_us,
        count(CASE WHEN (t + INTERVAL 90 MINUTE) < t THEN 1 END)
          AS n_wrap,
        count(CASE WHEN t BETWEEN TIME '09:00:00' AND TIME '17:00:00'
              THEN 1 END) AS n_biz,
        CAST(date_diff('microsecond', min(t), max(t)) AS BIGINT)
          AS span_us
      FROM e GROUP BY 1 ORDER BY hr"""))
  )
}
