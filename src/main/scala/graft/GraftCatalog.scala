package graft

import org.apache.spark.sql.SparkSession

/** Session-catalog registration of the fixture tables — the engine's
  * analogue of the reference resolving `traffic_limits` through a
  * persistent metastore (`enableHiveSupport()` +
  * `sqlContext.table("traffic_limits")`,
  * /root/reference/src/main/java/org/test/pcap4j/MainApp.java:32-44).
  *
  * Tables are EXTERNAL (`CREATE TABLE ... USING parquet LOCATION`): the
  * catalog stores metadata only, the data stays where it is — the shape a
  * 100 TB lake uses (a metastore/HMS entry over immutable object-store
  * parquet). With the in-memory catalog the definitions live for the
  * SparkContext's lifetime and are visible to every session that shares
  * the SharedState (see CatalogSpec); under `enableHiveSupport()` the same
  * DDL persists across JVMs (see [[CatalogDemo]]).
  *
  * One database per sf directory so verify (sf0.01), bench (sf0.1) and
  * specs (sf0.001) never fight over locations.
  *
  * `events` is excluded: its TIMESTAMP(NANOS) column needs the
  * nanos-as-long session conf + timestamp rebuild ([[Tables.t]]), which a
  * bare catalog scan can't apply.
  */
object GraftCatalog {
  val tables: Seq[String] = Tables.all.filterNot(_ == "events")

  /** Stable database name for an sf dir, e.g. /root/testdata/sf0.01 →
    * graft_sf0_01. */
  def dbFor(dir: String): String =
    "graft_" + dir.replaceAll("/+$", "").replaceAll(".*/", "")
      .replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  /** Idempotently create the database + external table entries for `dir`;
    * returns the database name for `spark.table(s"$db.$name")` resolution.
    * If a table of the same name is already registered but points at a
    * DIFFERENT location (same basename, different parent — e.g. a moved
    * dataset), it is dropped and re-created: IF NOT EXISTS alone would
    * silently keep serving the stale location. */
  def ensure(spark: SparkSession, dir: String): String = {
    val db = dbFor(dir)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val catalog = spark.sessionState.catalog
    tables.foreach { name =>
      val want = s"$dir/$name.parquet"
      val id = org.apache.spark.sql.catalyst.TableIdentifier(name, Some(db))
      if (catalog.tableExists(id)) {
        val loc = new java.net.URI(
          catalog.getTableMetadata(id).location.toString).getPath
        if (loc != want) spark.sql(s"DROP TABLE $db.$name")
      }
      spark.sql(
        s"CREATE TABLE IF NOT EXISTS $db.$name USING parquet LOCATION '$want'")
    }
    db
  }
}

/** Cross-JVM metastore persistence demo (run via sbt, once per phase):
  *
  * {{{
  * sbt "runMain graft.CatalogDemo create"   # DDL into a Derby-backed HMS
  * sbt "runMain graft.CatalogDemo read"     # NEW JVM: resolve + scan
  * }}}
  *
  * The `read` phase issues no DDL — `spark.table` resolves purely from the
  * metastore the first JVM wrote, proving the catalog outlives the session
  * (the property the reference gets from its Hive setup).
  */
object CatalogDemo {
  def main(args: Array[String]): Unit = {
    val phase = args.headOption.getOrElse("create")
    val base = args.lift(1).getOrElse("/root/repo/target/hive_demo")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val db = GraftCatalog.dbFor(sfDir)
    if (phase == "create") {
      GraftCatalog.ensure(spark, sfDir)
      println(s"CATALOG_TABLES=${spark.catalog.listTables(db).count()}")
    } else {
      // no DDL here: resolution comes from the persisted metastore
      println(s"CATALOG_READ_ROWS=${spark.table(s"$db.nation").count()}")
    }
    spark.stop()
  }
}
