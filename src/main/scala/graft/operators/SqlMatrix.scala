package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Textual-SQL parity matrix — one oracle-gated `spark.sql` entry per
  * reference SQL test family (keenwa's primary test surface is SQL
  * text: /root/reference/src/sql/{join_inner,join_left,join_right,
  * join_full,join_cross,set_operator,aggregate,subqueries,
  * correlated_exists,correlated_in_subquery,cte,expr_basic,expr_case,
  * expr_interval,window_aggregate}_tests.yaml). Each entry replays the
  * family's representative query shape through the SQL front end
  * (Spark's parser → Catalyst), over CTE views a/b/c that mirror the
  * reference's abstract test schema (tables a(a1..), b(b1..), c(c1..)
  * — e.g. join_inner_tests.yaml:1, cte_tests.yaml:1). The SQL text is
  * IDENTICAL between Spark and the DuckDB oracle modulo base-table
  * names ($table placeholders), so the gate proves the whole textual
  * path end-to-end: parse → resolve → optimize → execute → same rows.
  *
  * §4 discipline: int32 columns cast to BIGINT, money sums through
  * DECIMAL(18,2) then DOUBLE, timestamps emitted as formatted strings,
  * deterministic ORDER BY with a unique tiebreak per leg.
  */
object SqlMatrix {
  type QFn = (SparkSession, String) => DataFrame

  /** Substitute `$table` placeholders. Longest names first, so a
    * prefix-colliding pair (part / partsupp) can never mangle
    * `$partsupp` into a half-replaced `v_part`-prefixed token.
    */
  private[graft] def subst(body: String, tables: Seq[String],
      prefix: String): String =
    tables.sortBy(-_.length)
      .foldLeft(body)((b, t) => b.replace("$" + t, prefix + t))

  /** Build an entry whose Spark SQL and DuckDB oracle are the same text
    * modulo base-table references: `$name` resolves to a registered
    * temp view `v_name` on the Spark side and to the raw DuckDB table
    * `name` on the oracle side.
    */
  private def mk(name: String, tables: Seq[String], body: String)
      : (String, QFn, Option[String]) = mk2(name, tables, body, body)

  /** Same, but with per-side texts (needed when a scalar function is
    * spelled differently: Spark date_format vs DuckDB strftime).
    */
  private def mk2(name: String, tables: Seq[String], sparkBody: String,
      duckBody: String): (String, QFn, Option[String]) = {
    val fn: QFn = (s, d) => {
      tables.foreach(t =>
        Tables.interactive.load(s, d, t).createOrReplaceTempView("v_" + t))
      s.sql(subst(sparkBody, tables, "v_"))
    }
    (name, fn, Some(subst(duckBody, tables, "")))
  }

  val entries: Seq[(String, QFn, Option[String])] = Seq(

    // ---- join_inner_tests.yaml: ON-condition and USING forms ----
    mk("sql01_join_inner", Seq("nation", "region"), """
      WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS a1,
                        CAST(n_regionkey AS BIGINT) AS k, n_name AS a3
                 FROM $nation),
           b AS (SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS b2
                 FROM $region)
      SELECT 'using' AS leg, a1, k, a3, b2 FROM a JOIN b USING (k)
      UNION ALL
      SELECT 'on' AS leg, a.a1, b.k, a.a3, b.b2
      FROM a INNER JOIN b ON a.k = b.k WHERE b.b2 LIKE 'A%'
      ORDER BY leg, a1"""),

    // ---- join_left_tests.yaml: LEFT JOIN with unmatched rows ----
    mk("sql02_join_left", Seq("customer", "orders"), """
      WITH a AS (SELECT c_custkey AS a1, CAST(c_nationkey AS BIGINT) AS a2,
                        c_mktsegment AS a3 FROM $customer),
           b AS (SELECT o_custkey AS b1, count(*) AS b2
                 FROM $orders GROUP BY o_custkey)
      SELECT a1, a2, a3, b1, b2 FROM a LEFT JOIN b ON a1 = b1
      ORDER BY a1"""),

    // ---- join_right_tests.yaml: RIGHT JOIN, right side preserved ----
    mk("sql03_join_right", Seq("customer", "orders"), """
      WITH a AS (SELECT o_custkey AS a1, count(*) AS a2
                 FROM $orders GROUP BY o_custkey),
           b AS (SELECT c_custkey AS b1, c_mktsegment AS b2 FROM $customer)
      SELECT a1, a2, b1, b2 FROM a RIGHT JOIN b ON a1 = b1
      ORDER BY b1"""),

    // ---- join_full_tests.yaml: FULL JOIN over overlapping key sets ----
    mk("sql04_join_full", Seq("customer"), """
      WITH a AS (SELECT c_custkey AS a1, c_acctbal AS a2 FROM $customer
                 WHERE c_acctbal > 5000),
           b AS (SELECT c_custkey AS b1, c_mktsegment AS b2 FROM $customer
                 WHERE c_mktsegment = 'BUILDING')
      SELECT a1, a2, b1, b2 FROM a FULL JOIN b ON a1 = b1
      ORDER BY coalesce(a1, b1)"""),

    // ---- join_cross_tests.yaml: explicit CROSS JOIN + implicit
    //      comma-list (`FROM a, b, c`) ----
    mk("sql05_join_cross", Seq("nation", "region", "customer"), """
      WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS a1 FROM $nation),
           b AS (SELECT CAST(r_regionkey AS BIGINT) AS b1 FROM $region),
           c AS (SELECT DISTINCT c_mktsegment AS c1 FROM $customer)
      SELECT 'explicit' AS leg, a1, b1, c1
      FROM a CROSS JOIN b CROSS JOIN c
      UNION ALL
      SELECT 'implicit' AS leg, a1, b1, c1 FROM a, b, c
      ORDER BY leg, a1, b1, c1"""),

    // ---- set_operator_tests.yaml: UNION / UNION ALL / EXCEPT /
    //      INTERSECT ----
    mk("sql06_set_operator", Seq("nation", "region"), """
      WITH a AS (SELECT CAST(n_regionkey AS BIGINT) AS k FROM $nation),
           b AS (SELECT CAST(r_regionkey AS BIGINT) AS k FROM $region)
      SELECT 'union' AS leg, k
      FROM (SELECT k FROM a UNION SELECT k FROM b) t
      UNION ALL
      SELECT 'union_all' AS leg, k
      FROM (SELECT k FROM a UNION ALL SELECT k FROM b) t
      UNION ALL
      SELECT 'except' AS leg, k
      FROM (SELECT k FROM a EXCEPT SELECT k + 3 FROM b) t
      UNION ALL
      SELECT 'intersect' AS leg, k
      FROM (SELECT k FROM a INTERSECT SELECT k FROM b) t
      ORDER BY leg, k"""),

    // ---- aggregate_tests.yaml: count(*) vs count(col), DISTINCT,
    //      GROUP BY, HAVING ----
    mk("sql07_aggregate", Seq("orders"), """
      SELECT o_orderpriority AS g, count(*) AS n, count(o_custkey) AS n_ck,
             count(DISTINCT o_custkey) AS n_cust,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total,
             CAST(min(o_custkey) AS BIGINT) AS mn,
             CAST(max(o_custkey) AS BIGINT) AS mx
      FROM $orders GROUP BY o_orderpriority HAVING count(*) > 10
      ORDER BY g"""),

    // ---- subqueries_tests.yaml: scalar subqueries in the SELECT
    //      list + derived table in FROM ----
    mk("sql08_subqueries", Seq("nation", "region"), """
      WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS a1,
                        CAST(n_regionkey AS BIGINT) AS a2 FROM $nation)
      SELECT a1, a2,
             (SELECT CAST(max(r_regionkey) AS BIGINT) FROM $region) AS mx,
             (SELECT count(*) FROM $region) AS n_r,
             (SELECT 2) + a1 AS plus2
      FROM (SELECT a1, a2 FROM a WHERE a1 > 3) t
      ORDER BY a1"""),

    // ---- correlated_exists_tests.yaml: EXISTS / NOT EXISTS with a
    //      correlated predicate plus an extra local filter ----
    mk("sql09_correlated_exists", Seq("customer", "supplier"), """
      WITH a AS (SELECT c_custkey AS a1, CAST(c_nationkey AS BIGINT) AS a2
                 FROM $customer),
           b AS (SELECT CAST(s_nationkey AS BIGINT) AS b1, s_acctbal AS b3
                 FROM $supplier)
      SELECT a1 FROM a
      WHERE EXISTS (SELECT 1 FROM b WHERE b1 = a2 AND b3 > 5000)
        AND NOT EXISTS (SELECT 1 FROM b WHERE b1 = a2 AND b3 < 0)
      ORDER BY a1"""),

    // ---- correlated_in_subquery_tests.yaml: IN with a correlated
    //      inner predicate (yaml: a2 IN (SELECT b2 FROM b WHERE b1=a2)) ----
    mk("sql10_correlated_in", Seq("customer", "supplier"), """
      WITH a AS (SELECT c_custkey AS a1, CAST(c_nationkey AS BIGINT) AS a2
                 FROM $customer),
           b AS (SELECT CAST(s_nationkey AS BIGINT) AS b1, s_suppkey AS b2
                 FROM $supplier)
      SELECT a1 FROM a
      WHERE a2 IN (SELECT b1 FROM b WHERE b1 = a2 AND b2 % 2 = 0)
      ORDER BY a1"""),

    // ---- cte_tests.yaml: column-aliased CTE (`WITH t(x, y) AS ...`)
    //      + a chained CTE referencing it ----
    mk("sql11_cte", Seq("nation"), """
      WITH a1_vals(x, y) AS (
        SELECT CAST(n_regionkey AS BIGINT), CAST(n_nationkey AS BIGINT)
        FROM $nation WHERE n_nationkey > 10),
      agg AS (SELECT x, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy
              FROM a1_vals GROUP BY x)
      SELECT x, n, sy FROM agg ORDER BY x"""),

    // ---- expr_basic_tests.yaml: literals, negation, arithmetic
    //      precedence, <>, BETWEEN, IN-list, LIKE, NOT, AND/OR ----
    mk("sql12_expr_basic", Seq("nation"), """
      WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS a1, n_name AS a3
                 FROM $nation)
      SELECT a1, -a1 AS neg, a1 + 2 * 3 AS arith,
             CAST(a1 % 7 AS BIGINT) AS m7,
             a1 <> 2 AS ne2, a1 BETWEEN 5 AND 10 AS btw,
             a1 IN (1, 3, 5) AS inlist, a3 LIKE '%A%' AS lk,
             NOT (a1 > 12) AS ng,
             (a1 > 5 AND a1 < 20) OR a1 = 0 AS logic,
             a3 || '_' || CAST(a1 AS STRING) AS cat2
      FROM a ORDER BY a1"""),

    // ---- expr_case_tests.yaml: searched CASE, simple CASE, CASE
    //      without ELSE (NULL arm) ----
    mk("sql13_expr_case", Seq("nation"), """
      WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS a1 FROM $nation)
      SELECT a1,
        CAST(CASE WHEN a1 = 11 THEN 11 WHEN a1 = 12 THEN 12 ELSE 13 END
          AS BIGINT) AS searched,
        CASE a1 WHEN 1 THEN 'one' WHEN 2 THEN 'two' ELSE 'three' END
          AS simple,
        CASE WHEN a1 % 2 = 0 THEN 'even' END AS no_else
      FROM a ORDER BY a1"""),

    // ---- expr_interval_tests.yaml: INTERVAL literals added to /
    //      subtracted from timestamps (YEAR/MONTH/DAY/HOUR units);
    //      output as formatted strings per §4 ----
    mk2("sql14_expr_interval", Seq("orders"), """
      SELECT o_orderkey,
        date_format(o_orderdate + INTERVAL 2 YEAR, 'yyyy-MM-dd HH:mm:ss')
          AS plus2y,
        date_format(o_orderdate + INTERVAL 3 MONTH, 'yyyy-MM-dd HH:mm:ss')
          AS plus3m,
        date_format(o_orderdate - INTERVAL 45 DAY, 'yyyy-MM-dd HH:mm:ss')
          AS minus45d,
        date_format(o_orderdate + INTERVAL 36 HOUR, 'yyyy-MM-dd HH:mm:ss')
          AS plus36h
      FROM $orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""", """
      SELECT o_orderkey,
        strftime(o_orderdate + INTERVAL 2 YEAR, '%Y-%m-%d %H:%M:%S')
          AS plus2y,
        strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d %H:%M:%S')
          AS plus3m,
        strftime(o_orderdate - INTERVAL 45 DAY, '%Y-%m-%d %H:%M:%S')
          AS minus45d,
        strftime(o_orderdate + INTERVAL 36 HOUR, '%Y-%m-%d %H:%M:%S')
          AS plus36h
      FROM $orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey"""),

    // ---- window_aggregate_tests.yaml: row_number / rank / agg-as-
    //      window / running frame, all partitioned ----
    mk("sql15_window_aggregate", Seq("orders"), """
      WITH a AS (SELECT o_custkey AS a1, o_orderkey AS a2,
                        o_totalprice AS p
                 FROM $orders WHERE o_custkey % 10 = 0)
      SELECT a1, a2,
        CAST(row_number() OVER (PARTITION BY a1 ORDER BY a2) AS BIGINT)
          AS rn,
        CAST(rank() OVER (PARTITION BY a1 ORDER BY a2) AS BIGINT) AS rnk,
        count(*) OVER (PARTITION BY a1) AS n_in_part,
        CAST(sum(CAST(p AS DECIMAL(18,2))) OVER (PARTITION BY a1
          ORDER BY a2 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS DOUBLE) AS run_sum
      FROM a ORDER BY a1, a2"""),

    // ---- basic_tests.yaml: case-insensitive column/table resolution
    //      (SELECT A1 FROM A), literal + star mix, table-alias
    //      qualified star ----
    mk("sql16_basic", Seq("nation"), """
      WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS a1,
                        CAST(n_regionkey AS BIGINT) AS a2, n_name AS a3
                 FROM $nation)
      SELECT CAST(9 AS BIGINT) AS lit9, T.A1 AS a1_ci, t.*
      FROM a AS t ORDER BY t.a1"""),

    // ---- joins_tests.yaml: qualified star over a join, table
    //      aliases, multi-join chain, NATURAL JOIN over derived
    //      tables (the yaml's nested-joins case) ----
    mk("sql17_joins", Seq("nation", "region", "customer"), """
      WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                        CAST(n_regionkey AS BIGINT) AS a2, n_name AS a3
                 FROM $nation),
           b AS (SELECT CAST(r_regionkey AS BIGINT) AS b1, r_name AS b3
                 FROM $region),
           c AS (SELECT c_custkey AS c1, CAST(c_nationkey AS BIGINT) AS c2
                 FROM $customer),
           j AS (SELECT x.*, y.b3, z.c1
                 FROM a x JOIN b y ON x.a2 = y.b1 JOIN c z ON z.c2 = x.k),
           n AS (SELECT * FROM
                   (SELECT 1 AS q UNION SELECT 2 AS q) t1
                 NATURAL JOIN (SELECT 1 AS q) t2)
      SELECT 'chain' AS leg, k, a2, a3, b3, c1 FROM j
      UNION ALL
      SELECT 'natural' AS leg, CAST(q AS BIGINT), NULL, NULL, NULL, NULL
      FROM n
      ORDER BY leg, c1 NULLS FIRST, k"""),

    // ---- second battery: deeper shapes per family ----

    // join_{left,right,full}_tests.yaml USING forms: the coalesced
    // key column + unmatched rows on each side ----
    mk("sql18_join_using", Seq("customer", "orders"), """
      WITH a AS (SELECT c_custkey AS k, c_mktsegment AS a3 FROM $customer),
           b AS (SELECT o_custkey AS k, count(*) AS b2
                 FROM $orders GROUP BY o_custkey),
           af AS (SELECT k, a3 FROM a WHERE a3 = 'BUILDING')
      SELECT 'left' AS leg, k, a3, b2 FROM a LEFT JOIN b USING (k)
      UNION ALL
      SELECT 'right' AS leg, k, a3, b2 FROM b RIGHT JOIN a USING (k)
      UNION ALL
      SELECT 'full' AS leg, k, a3, b2 FROM af FULL JOIN b USING (k)
      ORDER BY leg, k"""),

    // correlated_exists_tests.yaml's OR arm: EXISTS / NOT EXISTS whose
    // inner predicate is a DISJUNCTION of two correlated conditions —
    // the decorrelation stress the single-conjunct sql09 doesn't hit ----
    mk("sql19_exists_or", Seq("customer", "supplier"), """
      WITH a AS (SELECT c_custkey AS a1, CAST(c_nationkey AS BIGINT) AS a2
                 FROM $customer),
           b AS (SELECT CAST(s_nationkey AS BIGINT) AS b1, s_acctbal AS b3
                 FROM $supplier)
      SELECT 'exists_or' AS leg, a1 FROM a
      WHERE EXISTS (SELECT 1 FROM b WHERE b1 = a2 OR b3 > a2 * 400)
      UNION ALL
      SELECT 'not_exists_or' AS leg, a1 FROM a
      WHERE NOT EXISTS (SELECT 1 FROM b WHERE b1 = a2 OR b3 > a2 * 400)
      ORDER BY leg, a1"""),

    // correlated_in_subquery_tests.yaml variants: IN over a constant
    // subquery (SELECT 1), IN over a computed column, correlated
    // NOT IN ----
    mk("sql20_in_variants", Seq("nation", "supplier"), """
      WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS a1,
                        CAST(n_regionkey AS BIGINT) AS a2 FROM $nation),
           b AS (SELECT CAST(s_nationkey AS BIGINT) AS b1, s_suppkey AS b2
                 FROM $supplier)
      SELECT 'in_const' AS leg, a1 FROM a WHERE a1 IN (SELECT 1)
      UNION ALL
      SELECT 'in_computed' AS leg, a1 FROM a
      WHERE a2 IN (SELECT b1 + 1 FROM b)
      UNION ALL
      SELECT 'not_in_corr' AS leg, a1 FROM a
      WHERE a1 NOT IN (SELECT b1 FROM b WHERE b1 = a2 AND b2 % 3 = 0)
      ORDER BY leg, a1"""),

    // expr_interval_tests.yaml's negative + sub-hour units: quoted
    // negative YEAR literal (the yaml's INTERVAL '-2' YEAR), MINUTE
    // and SECOND arithmetic, stacked MONTH+DAY ----
    mk2("sql21_interval_matrix", Seq("orders"), """
      SELECT o_orderkey,
        date_format(o_orderdate + INTERVAL '-2' YEAR,
          'yyyy-MM-dd HH:mm:ss') AS minus2y,
        date_format(o_orderdate + INTERVAL 90 MINUTE - INTERVAL 30 SECOND,
          'yyyy-MM-dd HH:mm:ss') AS plus90m30s,
        date_format(o_orderdate + INTERVAL 1 MONTH + INTERVAL 10 DAY,
          'yyyy-MM-dd HH:mm:ss') AS plus1m10d
      FROM $orders WHERE o_orderkey % 137 = 0 ORDER BY o_orderkey""", """
      SELECT o_orderkey,
        strftime(o_orderdate + INTERVAL '-2' YEAR,
          '%Y-%m-%d %H:%M:%S') AS minus2y,
        strftime(o_orderdate + INTERVAL 90 MINUTE - INTERVAL 30 SECOND,
          '%Y-%m-%d %H:%M:%S') AS plus90m30s,
        strftime(o_orderdate + INTERVAL 1 MONTH + INTERVAL 10 DAY,
          '%Y-%m-%d %H:%M:%S') AS plus1m10d
      FROM $orders WHERE o_orderkey % 137 = 0 ORDER BY o_orderkey"""),

    // window_aggregate_tests.yaml's named-spec form: a WINDOW clause
    // shared by ranking, lag/lead and aggregate functions ----
    mk("sql22_window_clause", Seq("orders"), """
      WITH a AS (SELECT o_custkey AS g, o_orderkey AS k, o_totalprice AS p
                 FROM $orders WHERE o_custkey % 7 = 0)
      SELECT g, k,
        CAST(row_number() OVER w AS BIGINT) AS rn,
        CAST(lag(k) OVER w AS BIGINT) AS prev_k,
        CAST(lead(k) OVER w AS BIGINT) AS next_k,
        count(*) OVER w2 AS n_g,
        CAST(min(p) OVER w2 AS DOUBLE) AS min_p
      FROM a
      WINDOW w AS (PARTITION BY g ORDER BY k), w2 AS (PARTITION BY g)
      ORDER BY g, k"""),

    // set_operator_tests.yaml's literal cases: UNION dedup of equal
    // literal selects (SELECT 1 UNION SELECT 1) + a no-FROM leg ----
    mk("sql23_set_literals", Seq(), """
      SELECT 'lit_union' AS leg, CAST(q AS BIGINT) AS q
      FROM (SELECT 1 AS q UNION SELECT 1) t
      UNION ALL
      SELECT 'lit_union_all' AS leg, CAST(q AS BIGINT)
      FROM (SELECT 1 AS q UNION ALL SELECT 1) t
      UNION ALL
      SELECT 'no_from' AS leg, CAST(42 AS BIGINT)
      ORDER BY leg, q"""),

    // subqueries_tests.yaml's derived-table scalar forms:
    // SELECT 1 as a, (SELECT 2 + b1) as b FROM (SELECT 1 as b1) —
    // a scalar subquery correlated to a derived table, plus the bare
    // (SELECT 2) constant ----
    mk("sql24_scalar_derived", Seq(), """
      SELECT CAST(1 AS BIGINT) AS a,
             CAST((SELECT 2 + b1) AS BIGINT) AS b,
             CAST((SELECT 2) AS BIGINT) AS c
      FROM (SELECT 1 AS b1)"""),

    // ---- the reference Like expr's remaining arms (expr.rs:103-115;
    //      SQL front end at sql/mod.rs:846-877): case_insensitive
    //      (ILIKE / NOT ILIKE) and escape_char (LIKE … ESCAPE, on a
    //      derived column that embeds literal '%' / '_' so the escape
    //      actually discriminates). Plus SIMILAR TO, which the
    //      reference maps onto Like (sql/mod.rs:903-918) but Spark's
    //      grammar lacks entirely — the documented translation is an
    //      anchored RLIKE regex on the Spark side vs native SIMILAR
    //      TO in DuckDB (SIMILAR TO is implicitly ^…$-anchored),
    //      identical semantics for regex-safe patterns ----
    mk2("sql25_like_matrix", Seq("nation"), """
      WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS a1, n_name AS a3
                 FROM $nation),
      d AS (SELECT a1, a3,
              CASE WHEN a1 % 2 = 0 THEN a3 || '%' ELSE a3 || '_x' END
                AS deco
            FROM a)
      SELECT a1, a3 ILIKE '%united%' AS ilk,
             a3 NOT ILIKE '%a%' AS not_ilk,
             deco LIKE '%!%' ESCAPE '!' AS esc_pct,
             deco LIKE '%!_x' ESCAPE '!' AS esc_us,
             deco NOT LIKE '%!%' ESCAPE '!' AS not_esc,
             a3 RLIKE '^UNITED (STATES|KINGDOM)$' AS sim_to
      FROM d ORDER BY a1""", """
      WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS a1, n_name AS a3
                 FROM $nation),
      d AS (SELECT a1, a3,
              CASE WHEN a1 % 2 = 0 THEN a3 || '%' ELSE a3 || '_x' END
                AS deco
            FROM a)
      SELECT a1, a3 ILIKE '%united%' AS ilk,
             a3 NOT ILIKE '%a%' AS not_ilk,
             deco LIKE '%!%' ESCAPE '!' AS esc_pct,
             deco LIKE '%!_x' ESCAPE '!' AS esc_us,
             deco NOT LIKE '%!%' ESCAPE '!' AS not_esc,
             a3 SIMILAR TO 'UNITED (STATES|KINGDOM)' AS sim_to
      FROM d ORDER BY a1"""))
}
