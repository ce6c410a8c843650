package graft

/** Session-catalog resolution (SURVEY.md S3 / VERDICT r2 item 5): fixture
  * tables registered as EXTERNAL parquet tables in the session catalog —
  * not temp views — and visible across sessions that share the
  * SparkContext's SharedState (the in-JVM analogue of metastore
  * persistence; [[CatalogDemo]] proves the cross-JVM case under
  * `enableHiveSupport()`).
  */
class CatalogSpec extends SparkSpec {

  test("tables register as non-temporary external catalog entries") {
    val db = GraftCatalog.ensure(spark, sfDir)
    assert(spark.catalog.tableExists(s"$db.nation"))
    val t = spark.catalog.getTable(db, "nation")
    assert(!t.isTemporary, "catalog entry must not be a temp view")
    assert(t.tableType === "EXTERNAL", s"expected EXTERNAL, got ${t.tableType}")
    assert(spark.table(s"$db.nation").count() === 25L)
  }

  test("catalog entries are visible from a different session (no re-registration)") {
    val db = GraftCatalog.ensure(spark, sfDir)
    val other = spark.newSession() // fresh session state, shared external catalog
    // no GraftCatalog.ensure(other, ...): resolution must come from the
    // shared catalog, exactly like a second user attaching to the metastore
    assert(other.catalog.tableExists(s"$db.region"))
    assert(other.table(s"$db.region").count() === 5L)
  }

  test("loading events leaves the session's confs unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(before.get("spark.sql.legacy.parquet.nanosAsLong") === Some("true"),
      "every session reads NANOS timestamps as longs from the start")
    Tables.t(s, sfDir, "events").count()
    assert(s.conf.getAll === before)
  }

  test("q_catalog_scan resolves through spark.table, not temp views") {
    val df = SparkEntry.queries("q_catalog_scan")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length === 25) // one per nation
    val total = rows.map(_.getAs[Long]("n_customers")).sum
    assert(total === Tables.t(spark, sfDir, "customer").count())
  }
}
