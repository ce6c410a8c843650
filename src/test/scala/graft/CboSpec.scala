package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Statistics + cost-based optimization over the catalog tables: at 100×
  * scale, stats-driven join reordering is the difference between the
  * right plan and a lucky one — AQE can only fix what it observes at
  * runtime, after the first wrong-order shuffle has already been paid.
  * This spec drives the full loop: ANALYZE, verify the stats land in the
  * catalog, run an unhinted TPC-H Q5-shaped 6-way join under CBO, and
  * pin that (a) estimates become row-count based and (b) results are
  * identical with and without the optimizer's cost model.
  */
class CboSpec extends SparkSpec {

  private val tpch = Seq("region", "nation", "customer", "supplier", "orders", "lineitem")

  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Q5 without broadcast hints: join order is the only degree of freedom
    * — the situation a 100 TB query is in when nothing fits in broadcast.
    *
    * The selective orders predicate is on o_totalprice, NOT o_orderdate:
    * the fixture's dates are TIMESTAMP_NTZ, and once ANALYZE has written
    * column stats for such a column, Spark 4.1's FilterEstimation hits a
    * MatchError on TimestampNTZType (evaluateBinary handles Timestamp
    * but not NTZ) — a stock-Spark gap, so CBO deployments must keep
    * range predicates off NTZ columns or skip their column stats. */
  private def q5(db: String) =
    s"""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       |FROM $db.customer, $db.orders, $db.lineitem,
       |     $db.supplier, $db.nation, $db.region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'ASIA'
       |  AND o_totalprice < 50000.0
       |GROUP BY n_name""".stripMargin

  /** A copy of the TPC-H tables, so they register in a database of this
    * spec's own (`graft_cbospec`): the stats that ANALYZE writes must not
    * sit under other suites' [[Tables.t]] reads. */
  private lazy val dir = fixtureCopy(tempDir("cbo").resolve("cbospec"), tpch: _*).toString

  private def analyzed(): String = {
    val db = GraftCatalog.dbFor(dir)
    tpch.foreach { t =>
      GraftCatalog.register(spark, dir, t)
      spark.sql(s"ANALYZE TABLE $db.$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    db
  }

  private def leafOrder(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case r: LogicalRelation => r.catalogTable.map(_.identifier.table)
      case _ => None
    }

  test("ANALYZE TABLE puts exact row counts and column stats in the catalog") {
    val db = analyzed()
    for (t <- tpch) {
      val meta = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(t, Some(db)))
      val stats = meta.stats.getOrElse(fail(s"$t has no stats after ANALYZE"))
      assert(stats.rowCount.contains(BigInt(spark.table(s"$db.$t").count())),
        s"$t: catalog row count is not exact")
      assert(stats.colStats.nonEmpty, s"$t: FOR ALL COLUMNS left no column stats")
    }
  }

  test("CBO consumes the stats: estimates become row-count based, results unchanged") {
    val db = analyzed()
    val sql = q5(db)

    val (baseOrder, baseRows) = withConfs(
      "spark.sql.cbo.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(sql)
      (leafOrder(df), df.collect().toSet)
    }
    val (cboOrder, cboRows) = withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(sql)
      // with stats + CBO, every join in the optimized plan carries a
      // cardinality ESTIMATE (rowCount), not just a byte-size guess —
      // the signal join reordering runs on
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.nonEmpty)
      assert(joins.forall(_.stats.rowCount.isDefined),
        "a join node has no row-count estimate despite stats + CBO")
      (leafOrder(df), df.collect().toSet)
    }
    assert(cboRows === baseRows,
      "CBO must change plans, never results")
    // the measured join-order delta: rule-based order follows the FROM
    // clause (big tables first); the cost model starts from the filtered
    // dims. Asserted — fixture and Spark version are pinned, so the
    // reorder is deterministic here.
    info(s"join order, rule-based:  ${baseOrder.mkString(" -> ")}")
    info(s"join order, cost-based:  ${cboOrder.mkString(" -> ")}")
    assert(cboOrder !== baseOrder,
      "stats + CBO no longer reorder the unhinted 6-way join")
  }
}
