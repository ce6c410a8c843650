package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import graft.operators.AsOfJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity operator inventory (SURVEY.md §2) expressed batch-first
  * so every operator is DuckDB-oracle-checkable, over the driver's
  * TPC-H-ish tables.
  *
  * The reference (`rakrachok/spark-streaming-test`) computes: projection to
  * byte length (MainApp.java:41-42), IN-list predicate + sort + limit on a
  * catalog table (MainApp.java:44-46), per-key sum per 5-min window
  * (MainApp.java:26,54-55), count (MainApp.java:52), threshold comparison
  * (MainApp.java:58) and an edge-triggered alert stream
  * (KafkaProducer.java:34-41). Those exact semantics are q_traffic_window /
  * q_edge_trigger_batch below; the rest of the inventory is the built-in
  * Spark SQL surface our engine exposes around them (SURVEY.md §2.3-§2.8).
  *
  * Determinism rules for oracle parity (hash compare vs DuckDB):
  *  - every computed integer is cast to LONG (DuckDB yields BIGINT);
  *  - every floating aggregate is `round(x, 2)` in BOTH engines, and
  *    threshold comparisons compare the ROUNDED value, so a 1e-12
  *    cross-engine summation difference can't flip a boolean;
  *  - every window/order is given a total order (unique tiebreak column).
  */
object RefParity extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** Flagship (SURVEY.md §7.1): per 5-min tumbling window and per key, sum
    * of traffic; alert when over the `max` limit — the reference's whole
    * pipeline (MainApp.java:38-64) batch-first. The limits table is the
    * stand-in for Hive `traffic_limits` (MainApp.java:44-47); joined via
    * broadcast instead of driver-side collect+closure capture, so at scale
    * limit changes ship with the plan, not with a restart.
    */
  def trafficWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val limits = Seq(("min", 100), ("max", 150)).toDF("limit_name", "limit_value")
    t(s, dir, "events")
      .groupBy(window($"ts", "5 minutes"), $"user_id")
      .agg(sum($"value").as("traffic"))
      .join(broadcast(limits.where($"limit_name" === "max")))
      .select(
        unix_timestamp($"window.start").as("window_start"),
        $"user_id",
        round($"traffic", 2).as("traffic"),
        (round($"traffic", 2) > $"limit_value").as("alert"))
  }

  private val trafficWindowSql =
    """WITH agg AS (
      |  SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS window_start,
      |         user_id, sum(value) AS traffic
      |  FROM events GROUP BY 1, 2)
      |SELECT window_start, user_id, round(traffic, 2) AS traffic,
      |       round(traffic, 2) > l.limit_value AS alert
      |FROM agg CROSS JOIN (VALUES ('max', 150)) AS l(limit_name, limit_value)
      |""".stripMargin

  /** Shared by q_range_join and q_range_join_binned (binning changes the
    * plan, not the answer). */
  private val rangeJoinOracle: String =
    """SELECT band, count(*) AS n, round(avg(p_retailprice), 2) AS avg_price
      |FROM part JOIN (VALUES ('low', 900.0, 940.0), ('mid', 940.0, 970.0),
      |  ('high', 970.0, 1000.0)) AS b(band, lo, hi)
      |ON p_retailprice >= lo AND p_retailprice < hi
      |GROUP BY band""".stripMargin

  override val queries: Seq[GraftQuery] = Seq(

    // ---- P1: projection + scalar funcs (MainApp.java:41-42 shape) ----
    GraftQuery("q_project_scalar",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(
          $"doc_id",
          length($"text").cast("long").as("text_len"),
          upper(substring($"text", 1, 16)).as("head16"))
      },
      Some("""SELECT doc_id, length(text) AS text_len,
             |upper(substr(text, 1, 16)) AS head16 FROM documents""".stripMargin)),

    // ---- P2/P3: IN-list + comparison predicates (MainApp.java:44-45,58) ----
    GraftQuery("q_filter_in",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .filter($"event_type".isin("signup", "error") && $"value" > 50.0)
          .select($"event_id", $"event_type", $"value")
      },
      Some("""SELECT event_id, event_type, value FROM events
             |WHERE event_type IN ('signup','error') AND value > 50.0""".stripMargin)),

    // ---- A1: grouped sum, map-side partial agg (MainApp.java:54-55) ----
    GraftQuery("q_grouped_sum",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events").groupBy($"user_id").agg(
          round(sum($"value"), 2).as("total_value"),
          count(lit(1)).as("n_events"))
      },
      Some("""SELECT user_id, round(sum(value), 2) AS total_value,
             |count(*) AS n_events FROM events GROUP BY user_id""".stripMargin)),

    // ---- the flagship reference pipeline ----
    GraftQuery("q_traffic_window", trafficWindow, Some(trafficWindowSql)),

    // ---- O1/O2: sort + limit → TakeOrderedAndProject (MainApp.java:45-46) ----
    GraftQuery("q_topk",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .orderBy($"c_acctbal".desc, $"c_custkey".asc)
          .select($"c_custkey", $"c_name", $"c_acctbal")
          .limit(10)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
             |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin)),

    // ---- A2: count (MainApp.java:52) + distinct agg ----
    GraftQuery("q_count",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"))
      },
      Some("""SELECT count(*) AS n_rows,
             |count(DISTINCT l_orderkey) AS n_orders FROM lineitem""".stripMargin)),

    // ---- §2.3: broadcast join (reference does it by closure capture,
    //      MainApp.java:47-58; ours is a real broadcast hash join) ----
    GraftQuery("q_join_broadcast",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_name").agg(
            round(sum($"o_totalprice"), 2).as("revenue"),
            count(lit(1)).as("n_orders"))
      },
      Some("""SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
             |count(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    // ---- multi-way join (TPC-H Q5 shape over the star schema) ----
    GraftQuery("q_multijoin_revenue",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier"),
            $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
          .join(broadcast(t(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
          .where($"r_name" === "ASIA" &&
            $"o_orderdate" >= lit("1996-01-01") && $"o_orderdate" < lit("1999-01-01"))
          .groupBy($"n_name")
          .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      },
      Some("""SELECT n_name,
             |round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA' AND o_orderdate >= '1996-01-01'
             |  AND o_orderdate < '1999-01-01'
             |GROUP BY n_name""".stripMargin)),

    // ---- distinct aggregation ----
    GraftQuery("q_distinct_agg",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem").groupBy($"l_returnflag").agg(
          countDistinct($"l_orderkey").as("n_ord"),
          countDistinct($"l_partkey").as("n_part"),
          round(sum($"l_quantity"), 2).as("sum_qty"))
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_ord,
             |count(DISTINCT l_partkey) AS n_part,
             |round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- rollup (grouping sets) ----
    GraftQuery("q_rollup",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
          .select(
            coalesce($"l_returnflag", lit("<all>")).as("returnflag"),
            coalesce($"l_linestatus", lit("<all>")).as("linestatus"),
            $"sum_qty", $"n")
      },
      Some("""SELECT coalesce(l_returnflag, '<all>') AS returnflag,
             |coalesce(l_linestatus, '<all>') AS linestatus,
             |round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),

    // ---- cube ----
    GraftQuery("q_cube",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .withColumn("yr", year($"ts").cast("long"))
          .cube($"event_type", $"yr")
          .agg(count(lit(1)).as("n"))
          .select(
            coalesce($"event_type", lit("<all>")).as("event_type"),
            coalesce($"yr", lit(-1L)).as("yr"), $"n")
      },
      Some("""SELECT coalesce(event_type, '<all>') AS event_type,
             |coalesce(yr, -1) AS yr, count(*) AS n
             |FROM (SELECT event_type, CAST(year(ts) AS BIGINT) AS yr FROM events)
             |GROUP BY CUBE(event_type, yr)""".stripMargin)),

    // ---- analytic window functions (§2.5) ----
    GraftQuery("q_window_rank",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        t(s, dir, "orders").select(
          $"o_custkey", $"o_orderkey",
          row_number().over(w).cast("long").as("rn"),
          lag($"o_totalprice", 1).over(w).as("prev_price"),
          round(sum($"o_totalprice").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("cum_spend"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |row_number() OVER w AS rn,
             |lag(o_totalprice) OVER w AS prev_price,
             |round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |  ORDER BY o_orderdate, o_orderkey
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    // ---- set operations (§2.7) ----
    GraftQuery("q_union",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").where($"c_mktsegment" === "BUILDING")
          .select($"c_custkey".as("k"))
          .union(t(s, dir, "orders").where($"o_totalprice" > 450000.0)
            .select($"o_custkey".as("k")))
          .distinct()
      },
      Some("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |UNION
             |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 450000.0""".stripMargin)),

    GraftQuery("q_intersect",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").where($"c_mktsegment" === "BUILDING")
          .select($"c_custkey".as("k"))
          .intersect(t(s, dir, "orders").where($"o_totalprice" > 400000.0)
            .select($"o_custkey".as("k")))
      },
      Some("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |INTERSECT
             |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000.0""".stripMargin)),

    GraftQuery("q_except",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").where($"c_mktsegment" === "BUILDING")
          .select($"c_custkey".as("k"))
          .except(t(s, dir, "orders").where($"o_totalprice" > 400000.0)
            .select($"o_custkey".as("k")))
      },
      Some("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |EXCEPT
             |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000.0""".stripMargin)),

    // ---- JSON extraction (events.props) ----
    GraftQuery("q_json_extract",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events").select(
          $"event_id",
          get_json_object($"props", "$.k").cast("long").as("k"))
      },
      Some("""SELECT event_id,
             |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events""".stripMargin)),

    // ---- string functions (F4/F5, MainApp.java:52,57-61) ----
    GraftQuery("q_string_funcs",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").select(
          $"c_custkey",
          concat($"c_name", lit("#"), $"c_mktsegment").as("tag"),
          upper($"c_name").as("uname"),
          substring($"c_name", 1, 5).as("head5"),
          length($"c_name").cast("long").as("name_len"),
          regexp_replace($"c_name", "[0-9]+", "#").as("squashed"))
      },
      Some("""SELECT c_custkey, concat(c_name, '#', c_mktsegment) AS tag,
             |upper(c_name) AS uname, substr(c_name, 1, 5) AS head5,
             |length(c_name) AS name_len,
             |regexp_replace(c_name, '[0-9]+', '#', 'g') AS squashed
             |FROM customer""".stripMargin)),

    // ---- date functions ----
    GraftQuery("q_date_funcs",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy(year($"o_orderdate").cast("long").as("yr"),
            month($"o_orderdate").cast("long").as("mon"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum($"o_totalprice"), 2).as("total"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |CAST(month(o_orderdate) AS BIGINT) AS mon,
             |count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY 1, 2""".stripMargin)),

    // ---- conditional expression (the alert/info branch, MainApp.java:58-62) ----
    GraftQuery("q_case_when",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders").select(
          $"o_orderkey",
          when($"o_totalprice" < 150000.0, "small")
            .when($"o_totalprice" < 350000.0, "medium")
            .otherwise("large").as("band"))
          .groupBy($"band").agg(count(lit(1)).as("n"))
      },
      Some("""SELECT CASE WHEN o_totalprice < 150000.0 THEN 'small'
             |WHEN o_totalprice < 350000.0 THEN 'medium'
             |ELSE 'large' END AS band, count(*) AS n
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---- having ----
    GraftQuery("q_having",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem").groupBy($"l_partkey")
          .agg(round(sum($"l_quantity"), 2).as("qty"), count(lit(1)).as("n"))
          .filter($"n" >= 3)
      },
      Some("""SELECT l_partkey, round(sum(l_quantity), 2) AS qty, count(*) AS n
             |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 3""".stripMargin)),

    // ---- semi / anti joins ----
    GraftQuery("q_semi_join",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_semi")
          .select($"c_custkey", $"c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    GraftQuery("q_anti_join",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(t(s, dir, "orders").where($"o_totalprice" > 400000.0),
            $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", $"c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin)),

    // ---- range (theta) join against a broadcast band table ----
    GraftQuery("q_range_join",
      (s, dir) => {
        import s.implicits._
        val bands = Seq(
          ("low", 900.0, 940.0), ("mid", 940.0, 970.0), ("high", 970.0, 1000.0))
          .toDF("band", "lo", "hi")
        t(s, dir, "part")
          .join(broadcast(bands), $"p_retailprice" >= $"lo" && $"p_retailprice" < $"hi")
          .groupBy($"band").agg(
            count(lit(1)).as("n"),
            round(avg($"p_retailprice"), 2).as("avg_price"))
      },
      Some(rangeJoinOracle)),

    // ---- binned range join (graft.operators.RangeJoin): the big-big
    //      scale path — equi-join on floor(value/width) bins + residual
    //      filter instead of the nested-loop theta join q_range_join
    //      plans. Same result set, hash-join plan (PlanShapeSpec pins the
    //      absence of any nested loop). ----
    GraftQuery("q_range_join_binned",
      (s, dir) => {
        import s.implicits._
        val bands = Seq(
          ("low", 900.0, 940.0), ("mid", 940.0, 970.0), ("high", 970.0, 1000.0))
          .toDF("band", "lo", "hi")
        graft.operators.RangeJoin.binned(
          t(s, dir, "part"), "p_retailprice", bands, "lo", "hi", binWidth = 25.0)
          .groupBy($"band").agg(
            count(lit(1)).as("n"),
            round(avg($"p_retailprice"), 2).as("avg_price"))
      },
      Some(rangeJoinOracle)),

    // ---- interval OVERLAP join (big-big, binned, exactly-once via the
    //      canonical overlap-start bin): same-(supplier, part) shipments
    //      whose synthetic transit windows [ship, ship + qty%14 + 1)
    //      intersect. The oracle is the brute theta join — proving the
    //      bin dedup loses and invents nothing. l_quantity is integral,
    //      so the BIGINT cast agrees between engines. ----
    GraftQuery("q_overlap_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        def side(tag: String) = li.select(
          col("l_suppkey").as("s"), col("l_partkey").as("p"),
          col("l_orderkey").cast("long").as(s"ok_$tag"),
          col("l_linenumber").cast("long").as(s"ln_$tag"),
          datediff(col("l_shipdate"), lit("1970-01-01")).cast("long")
            .as(s"lo_$tag"),
          (datediff(col("l_shipdate"), lit("1970-01-01")).cast("long") +
            col("l_quantity").cast("long") % 14 + 1).as(s"hi_$tag"))
        graft.operators.RangeJoin.overlapBinned(
            side("a"), "lo_a", "hi_a", side("b"), "lo_b", "hi_b",
            binWidth = 16.0, equiKeys = Seq("s", "p"))
          .where(col("ok_a") * 8 + col("ln_a") <
            col("ok_b") * 8 + col("ln_b"))
          .select(col("s"), col("p"), col("ok_a"), col("ln_a"),
            col("ok_b"), col("ln_b"),
            (least(col("hi_a"), col("hi_b")) -
              greatest(col("lo_a"), col("lo_b"))).as("overlap_days"))
      },
      Some("""WITH li AS (
             |  SELECT l_suppkey AS s, l_partkey AS p,
             |    l_orderkey::BIGINT AS ok, l_linenumber::BIGINT AS ln,
             |    datediff('day', DATE '1970-01-01', l_shipdate)::BIGINT
             |      AS lo,
             |    (datediff('day', DATE '1970-01-01', l_shipdate)
             |     + l_quantity::BIGINT % 14 + 1)::BIGINT AS hi
             |  FROM lineitem)
             |SELECT a.s, a.p, a.ok AS ok_a, a.ln AS ln_a,
             |  b.ok AS ok_b, b.ln AS ln_b,
             |  (least(a.hi, b.hi) - greatest(a.lo, b.lo))::BIGINT
             |    AS overlap_days
             |FROM li a JOIN li b
             |  ON a.s = b.s AND a.p = b.p
             |  AND a.lo < b.hi AND b.lo < a.hi
             |  AND a.ok * 8 + a.ln < b.ok * 8 + b.ln""".stripMargin)),

    // ---- spatial radius SELF-join (graft.operators.SpatialJoin):
    //      grid cells of side r, one side replicated to its 3x3
    //      neighborhood, equi-join + exact integer dist^2 — each pair
    //      exactly once via the id_a < id_b orientation. The oracle is
    //      the BRUTE theta join over the same derived integer points —
    //      proving the grid loses and invents nothing. ----
    GraftQuery("q_spatial_self_join",
      (s, dir) => {
        import s.implicits._
        val h = graft.operators.Dedup.h60raw(
          "concat('x:', cast(event_id as string))")
        val h2 = graft.operators.Dedup.h60raw(
          "concat('y:', cast(event_id as string))")
        val pts = t(s, dir, "events").where($"event_type" === "click")
          .select($"event_id", expr(s"$h % 4000L").as("x"),
            expr(s"$h2 % 4000L").as("y"))
        graft.operators.SpatialJoin.radiusSelfJoin(
          pts, "event_id", "x", "y", radius = 50L)
      },
      Some("""WITH p AS (
             |  SELECT event_id,
             |    ('0x'||substr(md5('x:' || CAST(event_id AS VARCHAR)),
             |      1, 15))::BIGINT % 4000 AS x,
             |    ('0x'||substr(md5('y:' || CAST(event_id AS VARCHAR)),
             |      1, 15))::BIGINT % 4000 AS y
             |  FROM events WHERE event_type = 'click')
             |SELECT a.event_id AS id_a, b.event_id AS id_b,
             |  ((a.x - b.x) * (a.x - b.x)
             |   + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist_sq
             |FROM p a JOIN p b ON a.event_id < b.event_id
             |  AND (a.x - b.x) * (a.x - b.x)
             |    + (a.y - b.y) * (a.y - b.y) <= 2500""".stripMargin)),

    // ---- spatial radius join of two point sets (probe clicks x build
    //      views): same grid plan, probe side replicates x9, no
    //      orientation filter. Brute theta oracle again. ----
    GraftQuery("q_spatial_radius_join",
      (s, dir) => {
        import s.implicits._
        val h = graft.operators.Dedup.h60raw(
          "concat('x:', cast(event_id as string))")
        val h2 = graft.operators.Dedup.h60raw(
          "concat('y:', cast(event_id as string))")
        def pts(kind: String) =
          t(s, dir, "events").where($"event_type" === kind)
            .select($"event_id", expr(s"$h % 4000L").as("x"),
              expr(s"$h2 % 4000L").as("y"))
        graft.operators.SpatialJoin.radiusJoin(
          pts("click"), pts("view"), "event_id", "x", "y", radius = 40L)
      },
      Some("""WITH p AS (
             |  SELECT event_id, event_type,
             |    ('0x'||substr(md5('x:' || CAST(event_id AS VARCHAR)),
             |      1, 15))::BIGINT % 4000 AS x,
             |    ('0x'||substr(md5('y:' || CAST(event_id AS VARCHAR)),
             |      1, 15))::BIGINT % 4000 AS y
             |  FROM events WHERE event_type IN ('click', 'view'))
             |SELECT a.event_id AS id_a, b.event_id AS id_b,
             |  ((a.x - b.x) * (a.x - b.x)
             |   + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist_sq
             |FROM p a JOIN p b
             |  ON a.event_type = 'click' AND b.event_type = 'view'
             |  AND (a.x - b.x) * (a.x - b.x)
             |    + (a.y - b.y) * (a.y - b.y) <= 1600""".stripMargin)),

    // ---- k-nearest-within-radius: the grid candidates cut to the 3
    //      closest build points per probe by the histogram-threshold
    //      TopN (no per-probe sort); brute oracle with the same
    //      (dist, id) ordering ----
    GraftQuery("q_spatial_knn",
      (s, dir) => {
        import s.implicits._
        val h = graft.operators.Dedup.h60raw(
          "concat('x:', cast(event_id as string))")
        val h2 = graft.operators.Dedup.h60raw(
          "concat('y:', cast(event_id as string))")
        def pts(kind: String) =
          t(s, dir, "events").where($"event_type" === kind)
            .select($"event_id", expr(s"$h % 4000L").as("x"),
              expr(s"$h2 % 4000L").as("y"))
        graft.operators.SpatialJoin.knnWithinRadius(
          pts("purchase"), pts("view"), "event_id", "x", "y",
          radius = 120L, k = 3)
      },
      Some("""WITH p AS (
             |  SELECT event_id, event_type,
             |    ('0x'||substr(md5('x:' || CAST(event_id AS VARCHAR)),
             |      1, 15))::BIGINT % 4000 AS x,
             |    ('0x'||substr(md5('y:' || CAST(event_id AS VARCHAR)),
             |      1, 15))::BIGINT % 4000 AS y
             |  FROM events WHERE event_type IN ('purchase', 'view')),
             |c AS (SELECT a.event_id AS id_a, b.event_id AS id_b,
             |    (a.x - b.x) * (a.x - b.x)
             |      + (a.y - b.y) * (a.y - b.y) AS dist_sq
             |  FROM p a JOIN p b
             |    ON a.event_type = 'purchase' AND b.event_type = 'view'
             |    AND (a.x - b.x) * (a.x - b.x)
             |      + (a.y - b.y) * (a.y - b.y) <= 14400),
             |r AS (SELECT id_a, id_b, dist_sq,
             |    row_number() OVER (PARTITION BY id_a
             |      ORDER BY dist_sq, id_b) AS rnk
             |  FROM c)
             |SELECT id_a, id_b, dist_sq::BIGINT AS dist_sq,
             |  rnk::BIGINT AS rnk
             |FROM r WHERE rnk <= 3""".stripMargin)),

    // ---- as-of join (custom operator, graft.operators.AsOfJoin) ----
    GraftQuery("q_asof_join",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val purchases = ev.where($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts".as("purchase_ts"))
        val clicks = ev.where($"event_type" === "click")
          .select($"user_id", $"ts", $"event_id")
        AsOfJoin.asofBackward(
          purchases, clicks, key = "user_id",
          leftTs = "purchase_ts", rightTs = "ts",
          valueCols = Seq(("ts", "click_ts")), rightTie = Some("event_id"))
      },
      Some("""SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin)),

    // ---- forward as-of: earliest click AT or after each purchase
    //      (DuckDB's native ASOF with the inequality flipped) ----
    GraftQuery("q_asof_forward",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val purchases = ev.where($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts".as("purchase_ts"))
        val clicks = ev.where($"event_type" === "click")
          .select($"user_id", $"ts", $"event_id")
        AsOfJoin.asofForward(
          purchases, clicks, key = "user_id",
          leftTs = "purchase_ts", rightTs = "ts",
          valueCols = Seq(("ts", "click_ts")), rightTie = Some("event_id"))
      },
      Some("""SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |ON p.user_id = c.user_id AND p.ts <= c.ts""".stripMargin)),

    // ---- nearest as-of: the closer of the two directions, equidistant
    //      ties resolving backward; the oracle goes brute with the same
    //      tie rule. The pulled value IS the matched ts, so duplicate
    //      right timestamps cannot make the output ambiguous. ----
    GraftQuery("q_asof_nearest",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val purchases = ev.where($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts".as("purchase_ts"))
        val clicks = ev.where($"event_type" === "click")
          .select($"user_id", $"ts", $"event_id")
        AsOfJoin.asofNearest(
          purchases, clicks, key = "user_id",
          leftTs = "purchase_ts", rightTs = "ts",
          valueCols = Seq(("ts", "click_ts")), rightTie = Some("event_id"))
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
             |  WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts FROM events
             |  WHERE event_type = 'click'),
             |j AS (
             |  SELECT p.event_id, c.ts AS click_ts,
             |    row_number() OVER (PARTITION BY p.event_id ORDER BY
             |      CASE WHEN c.ts <= p.ts THEN p.ts - c.ts
             |           ELSE c.ts - p.ts END ASC,
             |      (c.ts <= p.ts) DESC, c.ts ASC) AS rn
             |  FROM p JOIN c ON p.user_id = c.user_id)
             |SELECT p.event_id, p.user_id, p.ts AS purchase_ts, j2.click_ts
             |FROM p LEFT JOIN (SELECT event_id, click_ts FROM j
             |  WHERE rn = 1) j2 USING (event_id)""".stripMargin)),

    // ---- pivot (conditional aggregation) ----
    GraftQuery("q_pivot",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events").groupBy($"user_id")
          .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
          .agg(round(sum($"value"), 2))
      },
      Some("""SELECT user_id,
             |round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
             |round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
             |round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
             |round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
             |round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error
             |FROM events GROUP BY user_id""".stripMargin)),

    // ---- edge-triggered alerting, batch analogue (KafkaProducer.java:34-41:
    //      emit only when a key's over/under-limit state flips; first
    //      observation always emits). LAG over the per-window alert state. ----
    GraftQuery("q_edge_trigger_batch",
      (s, dir) => graft.streaming.TrafficMonitor.batchEdgeTrigger(
        t(s, dir, "events"), 150.0),
      Some("""WITH agg AS (
             |  SELECT user_id, CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS w,
             |         sum(value) AS traffic
             |  FROM events GROUP BY 1, 2),
             |st AS (SELECT user_id, w, round(traffic, 2) > 150 AS alert FROM agg),
             |fl AS (SELECT user_id, w, alert,
             |       lag(alert) OVER (PARTITION BY user_id ORDER BY w) AS prev FROM st)
             |SELECT user_id, w AS window_start, alert FROM fl
             |WHERE prev IS NULL OR alert <> prev""".stripMargin)),

    // ---- approximate distinct (HLL) — engines' sketches differ, so this is
    //      a rows-only check; exactness is covered by q_count/q_distinct_agg ----
    GraftQuery("q_approx_distinct",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem").groupBy($"l_returnflag")
          .agg(approx_count_distinct($"l_orderkey").as("approx_orders"))
      },
      None),

    // ---- mergeable HLL sketches (Datasketches): build one sketch per
    //      group, then UNION the sketches and estimate — the property
    //      that lets a 1000-executor job pre-aggregate distincts per
    //      partition/day/shard and combine results without rescanning.
    //      Sketch insertion is register-max, so the estimate is
    //      order-independent and deterministic, but not reproducible in
    //      DuckDB → rows-only + accuracy spec (SketchSpec). ----
    GraftQuery("q_hll_merge",
      (s, dir) => {
        import s.implicits._
        val perFlag = t(s, dir, "lineitem").groupBy($"l_returnflag")
          .agg(hll_sketch_agg($"l_orderkey").as("sk"),
            countDistinct($"l_orderkey").as("exact_flag"))
        perFlag.agg(
          hll_sketch_estimate(hll_union_agg($"sk")).as("est_union"),
          sum($"exact_flag").as("sum_flag_exact"),
          count(lit(1)).as("n_groups"))
      },
      None),

    // ---- windowed sketch maintenance: per-(hour, event_type) distinct
    //      users via HLL sketches built from DISJOINT halves and merged by
    //      sketch union — the exact final-merge shape the streaming sketch
    //      matview (UpsertSink.mergeSketchBatch) runs per micro-batch.
    //      Estimates are engine-specific → rows-only; the 5%-accuracy and
    //      streaming-incremental contracts live in SketchSpec and
    //      UpsertSinkSpec. ----
    GraftQuery("q_windowed_hll",
      (s, dir) => {
        import s.implicits._
        val halves = t(s, dir, "events")
          .select(window($"ts", "1 hour").getField("start").as("ws"),
            $"event_type", $"user_id", pmod($"event_id", lit(2)).as("half"))
          .groupBy($"ws", $"event_type", $"half")
          .agg(hll_sketch_agg($"user_id").as("sk"))
        halves.groupBy($"ws", $"event_type")
          .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est_users"),
            count(lit(1)).as("n_parts"))
      },
      None)
  )
}
