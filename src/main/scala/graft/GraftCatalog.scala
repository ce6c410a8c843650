package graft

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** Session-catalog registration of the fixture tables — the engine's
  * analogue of the reference resolving `traffic_limits` through a
  * persistent metastore (`enableHiveSupport()` +
  * `sqlContext.table("traffic_limits")`,
  * /root/reference/src/main/java/org/test/pcap4j/MainApp.java:32-44).
  * [[Tables.t]] reads every fixture table through [[register]].
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
  * specs (sf0.001) never fight over locations. The database's own
  * directory sits under [[artifactPath]], so it goes with the application.
  */
object GraftCatalog {

  /** Stable database name for an sf dir, e.g. /root/testdata/sf0.01 →
    * graft_sf0_01. */
  def dbFor(dir: String): String =
    "graft_" + dir.replaceAll("/+$", "").replaceAll(".*/", "")
      .replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  /** Where a query keeps what it writes for the data in `dir` (fold state,
    * stream checkpoints, archive fixtures, bucketed tables):
    * `<root>/<dbFor(dir)>/<name>`, as a `file:` URI so that it does not
    * depend on `fs.defaultFS`. `<root>` is `graft` under
    * `SparkFiles.getRootDirectory()`, Spark's per-application temp dir,
    * which lives under `spark.local.dir` and is deleted when the context
    * stops: two applications never share a path, and nothing outlives
    * its run. */
  def artifactPath(dir: String, name: String): String =
    s"file:${SparkFiles.getRootDirectory()}/graft/${dbFor(dir)}/$name"

  /** Registers `dir`'s table `name` as the external parquet table
    * `<dbFor(dir)>.<name>` unless it is already there, and returns that
    * qualified name for `spark.table`. Registering infers the schema (a
    * Spark job that reads a footer); an existing entry costs one catalog
    * lookup.
    *
    * `dir` is qualified first (`file:` and plain spellings of one path
    * match, and a relative dir resolves against the working directory,
    * not against the database's location, where the catalog would put a
    * relative table location). An entry of the same name that points at a
    * DIFFERENT location (same basename, different parent — e.g. a moved
    * dataset) is dropped and re-created: IF NOT EXISTS alone would
    * silently keep serving the stale location.
    *
    * Two threads that register one location at once at worst both infer
    * its schema: `CREATE TABLE IF NOT EXISTS` creates with
    * `ignoreIfExists`. Re-pointing is not safe while another thread reads
    * the same table: a read between the drop and the create finds no
    * table. */
  def register(spark: SparkSession, dir: String, name: String): String = {
    val catalog = spark.sessionState.catalog
    val db = dbFor(dir)
    val id = TableIdentifier(name, Some(db))
    val root = new Path(dir)
    val location = new Path(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(root),
      s"$name.parquet")
    Try(new Path(catalog.getTableMetadata(id).location)).toOption match {
      case Some(`location`) =>
      case stale =>
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db " +
          s"LOCATION '${artifactPath(dir, s"$db.db")}'")
        if (stale.isDefined) spark.sql(s"DROP TABLE IF EXISTS $db.$name")
        spark.sql(s"CREATE TABLE IF NOT EXISTS $db.$name USING parquet LOCATION '$location'")
    }
    s"$db.$name"
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
      Tables.all.foreach(GraftCatalog.register(spark, sfDir, _))
      println(s"CATALOG_TABLES=${spark.catalog.listTables(db).count()}")
    } else {
      // no DDL here: resolution comes from the persisted metastore
      println(s"CATALOG_READ_ROWS=${spark.table(s"$db.nation").count()}")
    }
    spark.stop()
  }
}
