package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 widening of the declarative SQL surface (SURVEY.md §2.3-§2.8):
  * deeper multi-way join shapes, explicit cross join, the remaining
  * window-frame value functions, null-handling scalar ops, and the
  * correlation/covariance aggregate family.
  *
  * The reference has none of these (its whole relational surface is the one
  * SELECT at /root/reference/src/main/java/org/test/pcap4j/MainApp.java:44-47);
  * this is the "a reference user could run every query they run today, and
  * the ones they would write next" surface, all on Spark built-ins so
  * Catalyst owns join order, broadcast selection and pushdown.
  */
object SqlSurface extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** Temp-view + spark.sql entry (same pattern as Builtins.sql). */
  private def sql(s: SparkSession, dir: String, tables: Seq[String],
      q: String): DataFrame = {
    tables.foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(q)
  }

  override val queries: Seq[GraftQuery] = Seq(

    // ---- TPC-H Q5 shape: 6-way join through region→nation→customer/
    //      supplier co-nationality. Dimension sides (region, nation,
    //      supplier) are broadcast — at 100 TB only orders⋈lineitem
    //      shuffles, on their natural keys. ----
    GraftQuery("q_tpch_q5",
      (s, dir) => {
        import s.implicits._
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
          .where($"o_orderdate" >= lit("1997-01-01") &&
            $"o_orderdate" < lit("1998-01-01"))
        val li = t(s, dir, "lineitem")
        val sup = t(s, dir, "supplier")
        val nat = t(s, dir, "nation")
        val reg = t(s, dir, "region").where($"r_name" === "ASIA")
        cust.join(ord, $"c_custkey" === $"o_custkey")
          .join(li, $"o_orderkey" === $"l_orderkey")
          .join(broadcast(sup),
            $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
          .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
          .groupBy($"n_name")
          .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2)
            .as("revenue"))
      },
      Some("""SELECT n_name,
             |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
             |GROUP BY n_name""".stripMargin)),

    // ---- TPC-H Q16 shape: distinct-count after a fact⋈dim join ----
    GraftQuery("q_tpch_q16",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
          .where($"p_brand" =!= "Brand#45" && !$"p_type".startsWith("MEDIUM"))
          .groupBy($"p_brand", $"p_type")
          .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      },
      Some("""SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
             |GROUP BY p_brand, p_type""".stripMargin)),

    // ---- explicit cross join (the reference's closure-captured scalar
    //      broadcast, SURVEY.md §2.3, as a real operator) ----
    GraftQuery("q_cross_join",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "nation").crossJoin(broadcast(t(s, dir, "region")))
          .select($"n_name", $"r_name",
            ($"n_nationkey" + $"r_regionkey" * 100).cast("long").as("pair_code"))
      },
      Some("""SELECT n_name, r_name,
             |  CAST(n_nationkey + r_regionkey * 100 AS BIGINT) AS pair_code
             |FROM nation CROSS JOIN region""".stripMargin)),

    // ---- window value functions over a full-partition frame ----
    GraftQuery("q_window_first_last",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders").select(
          $"o_custkey", $"o_orderkey",
          first($"o_orderkey").over(w).as("first_k"),
          last($"o_orderkey").over(w).as("last_k"),
          nth_value($"o_orderkey", 2).over(w).as("second_k"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |first_value(o_orderkey) OVER w AS first_k,
             |last_value(o_orderkey) OVER w AS last_k,
             |nth_value(o_orderkey, 2) OVER w AS second_k
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY o_orderdate, o_orderkey
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)),

    // ---- null-introducing and null-consuming scalar ops ----
    GraftQuery("q_null_handling",
      (s, dir) => {
        import s.implicits._
        val a = nullif($"o_orderstatus", lit("O"))
        val b = nullif($"o_orderstatus", lit("F"))
        t(s, dir, "orders").select(
          $"o_orderkey",
          coalesce(a, lit("OPEN")).as("status2"),
          (a <=> b).as("ns_eq"),
          when(a.isNotNull, lit("has")).otherwise(lit("none")).as("a_tag"))
      },
      Some("""SELECT o_orderkey,
             |coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status2,
             |nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM
             |  nullif(o_orderstatus, 'F') AS ns_eq,
             |CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL
             |  THEN 'has' ELSE 'none' END AS a_tag
             |FROM orders""".stripMargin)),

    // ---- correlation / covariance aggregate family ----
    GraftQuery("q_corr_covar",
      (s, dir) => {
        import s.implicits._
        // + 0.0 normalizes IEEE -0.0 (near-zero stats can round to
        // negative zero in one engine and positive zero in the other)
        t(s, dir, "lineitem").groupBy($"l_returnflag").agg(
          (round(corr($"l_quantity", $"l_extendedprice"), 4) + 0.0).as("corr_qp"),
          (round(covar_samp($"l_quantity", $"l_extendedprice"), 2) + 0.0).as("cov_qp"),
          (round(covar_pop($"l_quantity", $"l_discount"), 6) + 0.0).as("cov_qd"))
      },
      Some("""SELECT l_returnflag,
             |round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qp,
             |round(covar_samp(l_quantity, l_extendedprice), 2) + 0.0 AS cov_qp,
             |round(covar_pop(l_quantity, l_discount), 6) + 0.0 AS cov_qd
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- grouped linear regression (the corr/covar family's missing
    //      member): per event type, OLS slope/intercept of value on the
    //      event's epoch DAY (small integers — huge epoch-micros x
    //      values would put all the signal below the rounding cut) ----
    GraftQuery("q_regression",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select($"event_type",
            expr("unix_micros(ts) DIV 86400000000").cast("double").as("x"),
            $"value".as("y"))
          .groupBy($"event_type").agg(
            count(lit(1)).as("n"),
            (round(expr("regr_slope(y, x)"), 6) + 0.0).as("slope"),
            (round(expr("regr_intercept(y, x)"), 4) + 0.0).as("intercept"))
      },
      Some("""SELECT event_type, count(*)::BIGINT AS n,
             |round(regr_slope(value, (epoch_us(ts) // 86400000000)::DOUBLE), 6)
             |  + 0.0 AS slope,
             |round(regr_intercept(value, (epoch_us(ts) // 86400000000)::DOUBLE), 4)
             |  + 0.0 AS intercept
             |FROM events GROUP BY event_type""".stripMargin)),

    // ---- persistent-catalog resolution (reference: Hive-resolved
    //      traffic_limits, MainApp.java:32-44). The inputs resolve through
    //      the SESSION CATALOG (CREATE TABLE ... USING parquet LOCATION +
    //      spark.table), not temp views, as every Tables.t read does;
    //      GraftCatalog/CatalogDemo cover cross-session and cross-JVM
    //      metastore persistence. Balance sums use exact integer cents — a
    //      double sum's addition order differs between engines. ----
    GraftQuery("q_catalog_scan",
      (s, dir) => Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("cents_total")),
      Some("""SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
             |CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents_total
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    // ---- TPC-H Q21 analogue: the classic double-correlated
    //      EXISTS / NOT EXISTS decorrelation stress. "Suppliers who were
    //      the ONLY late shipper on a finished multi-supplier order" —
    //      late = shipped >90 days after the order date (the synthetic
    //      schema has no commit/receipt dates). Catalyst rewrites both
    //      subqueries into joins on l_orderkey: EXISTS → left-semi,
    //      NOT EXISTS → left-anti, each one hash exchange on the fact
    //      key; nothing re-executes per outer row. NOT EXISTS correlates
    //      on o_orderdate too (an outer column from a DIFFERENT table
    //      than the subquery's join key), the part naive rewrites miss. ----
    GraftQuery("q_tpch_q21",
      (s, dir) => sql(s, dir, Seq("supplier", "lineitem", "orders", "nation"),
        """SELECT s_name, count(*) AS numwait
          |FROM supplier, lineitem l1, orders, nation
          |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          |  AND o_orderstatus = 'F'
          |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
          |  AND s_nationkey = n_nationkey
          |GROUP BY s_name""".stripMargin),
      Some("""SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
             |FROM supplier, lineitem l1, orders, nation
             |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
             |  AND o_orderstatus = 'F'
             |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey
             |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
             |  AND s_nationkey = n_nationkey
             |GROUP BY s_name""".stripMargin)),

    // ---- TPC-H Q4 analogue: EXISTS decorrelated to a left-semi join on
    //      the fact key (order had at least one lineitem shipped >30 days
    //      after the order date; the schema has no commit/receipt dates). ----
    GraftQuery("q_tpch_q4",
      (s, dir) => sql(s, dir, Seq("orders", "lineitem"),
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM orders
          |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
          |GROUP BY o_orderpriority""".stripMargin),
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
             |FROM orders
             |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
             |GROUP BY o_orderpriority""".stripMargin)),

    // ---- TPC-H Q13 analogue: customer order-count distribution — LEFT
    //      OUTER join so zero-order customers survive into the histogram,
    //      then an aggregate OF an aggregate. ----
    GraftQuery("q_tpch_q13",
      (s, dir) => sql(s, dir, Seq("customer", "orders"),
        """WITH c_orders AS (
          |  SELECT c_custkey, count(o_orderkey) AS c_count
          |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          |  GROUP BY c_custkey)
          |SELECT c_count, count(*) AS custdist
          |FROM c_orders GROUP BY c_count""".stripMargin),
      Some("""WITH c_orders AS (
             |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
             |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |  GROUP BY c_custkey)
             |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
             |FROM c_orders GROUP BY c_count""".stripMargin)),

    // ---- TPC-H Q15 analogue: top-revenue supplier via a scalar MAX over
    //      a derived aggregate (the view in the spec). Revenue is summed
    //      in EXACT integer cents — a double sum's addition order differs
    //      between engines, and the =max() equality must not wobble. ----
    GraftQuery("q_tpch_q15",
      (s, dir) => sql(s, dir, Seq("supplier", "lineitem"),
        """WITH rev AS (
          |  SELECT l_suppkey AS supplier_no,
          |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
          |      AS total_cents
          |  FROM lineitem
          |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_cents
          |FROM supplier JOIN rev ON s_suppkey = supplier_no
          |WHERE total_cents = (SELECT max(total_cents) FROM rev)""".stripMargin),
      Some("""WITH rev AS (
             |  SELECT l_suppkey AS supplier_no,
             |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             |      AS total_cents
             |  FROM lineitem
             |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, total_cents
             |FROM supplier JOIN rev ON s_suppkey = supplier_no
             |WHERE total_cents = (SELECT max(total_cents) FROM rev)""".stripMargin)),

    // ---- TPC-H Q17 analogue: correlated scalar AVG threshold
    //      ("small-quantity" orders below 20% of the part's mean
    //      quantity). l_quantity is integral-valued, so sum/avg are
    //      exact in double and the 0.2*avg compare is cross-engine
    //      deterministic; the price sum uses integer cents. ----
    GraftQuery("q_tpch_q17",
      (s, dir) => sql(s, dir, Seq("lineitem", "part"),
        """SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS total_cents,
          |       count(*) AS n_rows
          |FROM lineitem, part
          |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
          |  AND l_quantity < 0.2 * (SELECT avg(l_quantity) FROM lineitem l2
          |                          WHERE l2.l_partkey = p_partkey)""".stripMargin),
      Some("""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |         AS total_cents,
             |       CAST(count(*) AS BIGINT) AS n_rows
             |FROM lineitem, part
             |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
             |  AND l_quantity < 0.2 * (SELECT avg(l_quantity) FROM lineitem l2
             |                          WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // ---- TPC-H Q7 analogue: bidirectional two-nation trade volume by
    //      ship year (6-way join, symmetric nation-pair disjunction;
    //      revenue in exact integer cents). ----
    GraftQuery("q_tpch_q7",
      (s, dir) => sql(s, dir,
        Seq("supplier", "lineitem", "orders", "customer", "nation"),
        """SELECT supp_nation, cust_nation, l_year,
          |  sum(cents) AS revenue_cents
          |FROM (
          |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
          |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
          |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
          |    AND c_nationkey = n2.n_nationkey
          |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) t
          |GROUP BY supp_nation, cust_nation, l_year""".stripMargin),
      Some("""SELECT supp_nation, cust_nation, l_year,
             |  CAST(sum(cents) AS BIGINT) AS revenue_cents
             |FROM (
             |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
             |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
             |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
             |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
             |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
             |    AND c_nationkey = n2.n_nationkey
             |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) t
             |GROUP BY supp_nation, cust_nation, l_year""".stripMargin)),

    // ---- TPC-H Q8 analogue: one nation's market share of a part type in
    //      a region, by order year — conditional-sum ratio over an 8-way
    //      join. Numerator/denominator are exact integer cents, so the
    //      double division is cross-engine deterministic. ----
    GraftQuery("q_tpch_q8",
      (s, dir) => sql(s, dir,
        Seq("part", "supplier", "lineitem", "orders", "customer", "nation", "region"),
        """WITH vols AS (
          |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents,
          |    n2.n_name AS supp_nation
          |  FROM part, supplier, lineitem, orders, customer,
          |       nation n1, nation n2, region
          |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
          |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
          |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
          |    AND p_type = 'PROMO')
          |SELECT o_year,
          |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
          |        AS DOUBLE) / sum(cents), 4) AS mkt_share
          |FROM vols GROUP BY o_year""".stripMargin),
      Some("""WITH vols AS (
             |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents,
             |    n2.n_name AS supp_nation
             |  FROM part, supplier, lineitem, orders, customer,
             |       nation n1, nation n2, region
             |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
             |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
             |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
             |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
             |    AND p_type = 'PROMO')
             |SELECT o_year,
             |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
             |        AS DOUBLE) / sum(cents), 4) AS mkt_share
             |FROM vols GROUP BY o_year""".stripMargin)),

    // ---- TPC-H Q9 analogue: profit by supplier nation and order year
    //      (revenue minus a synthetic cost of retail-price × quantity —
    //      the schema has no partsupp/supplycost). All money in exact
    //      integer cents; quantity is integral so the product is exact. ----
    GraftQuery("q_tpch_q9",
      (s, dir) => sql(s, dir,
        Seq("part", "supplier", "lineitem", "orders", "nation"),
        """SELECT nation, o_year, sum(profit_cents) AS profit_cents
          |FROM (
          |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          |      - CAST(round(p_retailprice * 100) AS BIGINT)
          |        * CAST(l_quantity AS BIGINT) AS profit_cents
          |  FROM part, supplier, lineitem, orders, nation
          |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
          |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
          |    AND p_name LIKE '%a%') t
          |GROUP BY nation, o_year""".stripMargin),
      Some("""SELECT nation, o_year, CAST(sum(profit_cents) AS BIGINT) AS profit_cents
             |FROM (
             |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             |      - CAST(round(p_retailprice * 100) AS BIGINT)
             |        * CAST(l_quantity AS BIGINT) AS profit_cents
             |  FROM part, supplier, lineitem, orders, nation
             |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
             |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
             |    AND p_name LIKE '%a%') t
             |GROUP BY nation, o_year""".stripMargin)),

    // ---- TPC-H Q20 analogue: nested IN-subquery whose inner relation is
    //      a grouped HAVING gated by ANOTHER scalar subquery (itself with
    //      a nested IN) — the decorrelation stack test. Quantity sums are
    //      integral-valued doubles (exact); the threshold is 1.05x the
    //      per-supplier AVERAGE (not a fixed total share) so the filter
    //      stays selective-but-non-vacuous as the supplier count scales. ----
    GraftQuery("q_tpch_q20",
      (s, dir) => sql(s, dir, Seq("supplier", "lineitem", "part"),
        """SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (
          |  SELECT l_suppkey FROM lineitem, part
          |  WHERE l_partkey = p_partkey AND p_type = 'PROMO'
          |  GROUP BY l_suppkey
          |  HAVING sum(l_quantity) > (
          |    SELECT 1.05 * sum(l_quantity) / count(DISTINCT l_suppkey)
          |    FROM lineitem
          |    WHERE l_partkey IN (SELECT p_partkey FROM part
          |                        WHERE p_type = 'PROMO')))""".stripMargin),
      Some("""SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (
             |  SELECT l_suppkey FROM lineitem, part
             |  WHERE l_partkey = p_partkey AND p_type = 'PROMO'
             |  GROUP BY l_suppkey
             |  HAVING sum(l_quantity) > (
             |    SELECT 1.05 * sum(l_quantity) / count(DISTINCT l_suppkey)
             |    FROM lineitem
             |    WHERE l_partkey IN (SELECT p_partkey FROM part
             |                        WHERE p_type = 'PROMO')))""".stripMargin)),

    // ---- TPC-H Q11 analogue: important-stock identification — per-part
    //      value held by a nation group, HAVING above a scalar fraction
    //      of the total. Threshold is 1.5× the per-part MEAN (adaptive:
    //      a fixed total-share goes vacuous as the part count scales). ----
    GraftQuery("q_tpch_q11",
      (s, dir) => sql(s, dir, Seq("lineitem", "supplier", "nation"),
        """WITH v AS (
          |  SELECT l_partkey,
          |    sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS val
          |  FROM lineitem, supplier, nation
          |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          |    AND n_name IN ('NATION_1','NATION_2','NATION_3')
          |  GROUP BY l_partkey)
          |SELECT l_partkey, val FROM v
          |WHERE val > (SELECT 1.5 * sum(val) / count(*) FROM v)""".stripMargin),
      Some("""WITH v AS (
             |  SELECT l_partkey,
             |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS val
             |  FROM lineitem, supplier, nation
             |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
             |    AND n_name IN ('NATION_1','NATION_2','NATION_3')
             |  GROUP BY l_partkey)
             |SELECT l_partkey, val FROM v
             |WHERE val > (SELECT 1.5 * sum(val) / count(*) FROM v)""".stripMargin)),

    // ---- TPC-H Q12 analogue: priority-class conditional counts after a
    //      fact⋈fact join in a ship-date window (no l_shipmode column;
    //      o_orderpriority provides the class split). ----
    GraftQuery("q_tpch_q12",
      (s, dir) => sql(s, dir, Seq("orders", "lineitem"),
        """SELECT l_returnflag,
          |  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
          |      THEN 1 ELSE 0 END) AS high_line_count,
          |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
          |      THEN 1 ELSE 0 END) AS low_line_count
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
          |GROUP BY l_returnflag""".stripMargin),
      Some("""SELECT l_returnflag,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
             |GROUP BY l_returnflag""".stripMargin)),

    // ---- TPC-H Q19 analogue: disjunctive OR-of-ANDs predicate join
    //      (brand × size × quantity bands) — the predicate-pushdown and
    //      join-condition-simplification stress. ----
    GraftQuery("q_tpch_q19",
      (s, dir) => sql(s, dir, Seq("lineitem", "part"),
        """SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
          |      AS BIGINT)) AS revenue_cents,
          |  count(*) AS n
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 1 AND 21)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
          |       AND l_quantity BETWEEN 10 AND 30)
          |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
          |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin),
      Some("""SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |      AS BIGINT)) AS BIGINT) AS revenue_cents,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             |       AND l_quantity BETWEEN 1 AND 21)
             |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
             |       AND l_quantity BETWEEN 10 AND 30)
             |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
             |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin)),

    // ---- TPC-H Q22 analogue: above-average account balances among
    //      customers with no urgent orders — uncorrelated scalar AVG
    //      threshold + anti join, grouped by a derived country code
    //      (c_nationkey % 10; the schema has no phone column). Balances
    //      compare and sum as exact integer cents. ----
    GraftQuery("q_tpch_q22",
      (s, dir) => sql(s, dir, Seq("customer", "orders"),
        """WITH c AS (SELECT c_custkey,
          |             CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
          |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
          |           FROM customer),
          |thr AS (SELECT avg(bal_cents) AS a FROM c WHERE bal_cents > 0)
          |SELECT cntrycode, count(*) AS numcust, sum(bal_cents) AS total_cents
          |FROM c, thr
          |WHERE bal_cents > a
          |  AND NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderpriority = '1-URGENT')
          |GROUP BY cntrycode""".stripMargin),
      Some("""WITH c AS (SELECT c_custkey,
             |             CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
             |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
             |           FROM customer),
             |thr AS (SELECT avg(bal_cents) AS a FROM c WHERE bal_cents > 0)
             |SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
             |       CAST(sum(bal_cents) AS BIGINT) AS total_cents
             |FROM c, thr
             |WHERE bal_cents > a
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderpriority = '1-URGENT')
             |GROUP BY cntrycode""".stripMargin)),

    // ---- salted skew-safe JOIN (graft.operators.Skew.saltedJoin): the
    //      oracle is the PLAIN join — salting must be invisible in the
    //      result. Completes the skew story next to q_salted_agg (agg
    //      salting) and the AQE skew-join activation spec. ----
    GraftQuery("q_salted_join",
      (s, dir) => {
        import s.implicits._
        graft.operators.Skew.saltedJoin(
          t(s, dir, "lineitem").select($"l_suppkey", $"l_quantity"),
          t(s, dir, "supplier").select($"s_suppkey".as("l_suppkey"), $"s_name"),
          key = "l_suppkey", salts = 8)
          .groupBy($"s_name")
          .agg(count(lit(1)).as("n"),
            sum($"l_quantity").cast("long").as("qty"))
      },
      Some("""SELECT s_name, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(l_quantity) AS BIGINT) AS qty
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_name""".stripMargin)),

    // ---- rolling exact median over a bounded window frame. Spark forbids
    //      median() with a frame spec, so the Spark side sorts the frame's
    //      collected values and interpolates the middle pair — identical
    //      to DuckDB's native windowed median (mean of the two middles on
    //      even counts). Bounded frame ⇒ bounded per-row cost. ----
    GraftQuery("q_rolling_median",
      (s, dir) => sql(s, dir, Seq("events"),
        """SELECT event_id, user_id,
          |  CASE WHEN size(vals) = 0 THEN NULL
          |       ELSE round((element_at(vals, CAST((size(vals) + 1) DIV 2 AS INT))
          |            + element_at(vals, CAST(size(vals) DIV 2 + 1 AS INT))) / 2, 4)
          |  END AS med5
          |FROM (
          |  SELECT event_id, user_id,
          |    sort_array(collect_list(value) OVER (
          |      PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS vals
          |  FROM events WHERE user_id < 30)""".stripMargin),
      Some("""SELECT event_id, user_id,
             |  round(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS med5
             |FROM events WHERE user_id < 30""".stripMargin)),

    // ---- RECURSIVE CTE (Spark 4 WITH RECURSIVE): per-customer order
    //      chain walk accumulating a running total — recursion depth =
    //      longest chain, each step one join of the frontier against the
    //      (tiny) numbered order relation. Money in exact integer cents
    //      so the accumulated sum is deterministic. ----
    GraftQuery("q_recursive_cte",
      (s, dir) => sql(s, dir, Seq("orders"),
        """WITH RECURSIVE ord AS (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey
          |      ORDER BY o_orderdate, o_orderkey) AS rn
          |  FROM orders WHERE o_custkey < 100),
          |walk(o_custkey, rn, cum_cents) AS (
          |  SELECT o_custkey, rn, CAST(round(o_totalprice*100) AS BIGINT)
          |  FROM ord WHERE rn = 1
          |  UNION ALL
          |  SELECT o.o_custkey, o.rn,
          |    w.cum_cents + CAST(round(o.o_totalprice*100) AS BIGINT)
          |  FROM ord o JOIN walk w
          |    ON o.o_custkey = w.o_custkey AND o.rn = w.rn + 1)
          |SELECT o_custkey, CAST(rn AS BIGINT) AS rn, cum_cents FROM walk""".stripMargin),
      Some("""WITH RECURSIVE ord AS (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderdate, o_orderkey) AS rn
             |  FROM orders WHERE o_custkey < 100),
             |walk(o_custkey, rn, cum_cents) AS (
             |  SELECT o_custkey, rn, CAST(round(o_totalprice*100) AS BIGINT)
             |  FROM ord WHERE rn = 1
             |  UNION ALL
             |  SELECT o.o_custkey, o.rn,
             |    w.cum_cents + CAST(round(o.o_totalprice*100) AS BIGINT)
             |  FROM ord o JOIN walk w
             |    ON o.o_custkey = w.o_custkey AND o.rn = w.rn + 1)
             |SELECT o_custkey, CAST(rn AS BIGINT) AS rn, cum_cents FROM walk""".stripMargin)),

    // ---- LATERAL correlated subquery: per-outer-row top-N (the SQL
    //      spelling of "top 2 orders per customer"); Catalyst decorrelates
    //      the LIMIT into a per-key window rank, one shuffle. ----
    GraftQuery("q_lateral",
      (s, dir) => sql(s, dir, Seq("customer", "orders"),
        """SELECT c_custkey, o.o_orderkey, o.o_totalprice
          |FROM customer, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders
          |  WHERE o_custkey = c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin),
      Some("""SELECT c_custkey, o.o_orderkey, o.o_totalprice
             |FROM customer, LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_custkey = c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin)),

    // ---- EXCEPT ALL (multiset difference — the bag-semantics sibling of
    //      q_except; each duplicate cancels one occurrence) ----
    GraftQuery("q_except_all",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders").where($"o_orderstatus" === "O")
          .select($"o_custkey".as("k"))
          .exceptAll(t(s, dir, "orders").where($"o_totalprice" > 300000.0)
            .select($"o_custkey".as("k")))
      },
      Some("""SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
             |EXCEPT ALL
             |SELECT o_custkey FROM orders WHERE o_totalprice > 300000""".stripMargin)),

    // ---- rolling distinct count: no DISTINCT aggregate exists over
    //      window frames in either engine, so both compose it from the
    //      frame's collected list — bounded frame ⇒ bounded per-row cost. ----
    GraftQuery("q_window_distinct",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(-4, Window.currentRow)
        t(s, dir, "events").where($"user_id" < 50)
          .select($"event_id", $"user_id",
            size(array_distinct(collect_list($"event_type").over(w)))
              .cast("long").as("distinct_types_5"))
      },
      Some("""SELECT event_id, user_id,
             |  CAST(len(list_distinct(list(event_type) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))) AS BIGINT)
             |    AS distinct_types_5
             |FROM events WHERE user_id < 50""".stripMargin)),

    // ---- TPC-H Q2 analogue: correlated scalar subquery computing a MIN
    //      over a multi-way join (part's cheapest European sale through
    //      lineitem — the synthetic schema has no partsupp). Catalyst
    //      decorrelates to an aggregate-then-join on p_partkey; the
    //      equality compares raw parquet doubles (no arithmetic), so
    //      cross-engine equality is exact. ----
    GraftQuery("q_tpch_q2",
      (s, dir) => sql(s, dir,
        Seq("part", "supplier", "lineitem", "nation", "region"),
        """SELECT p_partkey, p_name, s_name, n_name, s_acctbal,
          |       l_extendedprice AS min_price
          |FROM part, supplier, lineitem, nation, region
          |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |  AND p_size <= 5 AND r_name = 'EUROPE'
          |  AND l_extendedprice = (
          |    SELECT min(l2.l_extendedprice)
          |    FROM lineitem l2, supplier s2, nation n2, region r2
          |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
          |      AND s2.s_nationkey = n2.n_nationkey
          |      AND n2.n_regionkey = r2.r_regionkey
          |      AND r2.r_name = 'EUROPE')""".stripMargin),
      Some("""SELECT p_partkey, p_name, s_name, n_name, s_acctbal,
             |       l_extendedprice AS min_price
             |FROM part, supplier, lineitem, nation, region
             |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND p_size <= 5 AND r_name = 'EUROPE'
             |  AND l_extendedprice = (
             |    SELECT min(l2.l_extendedprice)
             |    FROM lineitem l2, supplier s2, nation n2, region r2
             |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
             |      AND s2.s_nationkey = n2.n_nationkey
             |      AND n2.n_regionkey = r2.r_regionkey
             |      AND r2.r_name = 'EUROPE')""".stripMargin))
  )
}
