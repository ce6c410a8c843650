package graft

import java.nio.file.Paths
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Session-catalog resolution (SURVEY.md S3 / VERDICT r2 item 5): fixture
  * tables registered as EXTERNAL parquet tables in the session catalog —
  * not temp views — and visible across sessions that share the
  * SparkContext's SharedState (the in-JVM analogue of metastore
  * persistence; [[CatalogDemo]] proves the cross-JVM case under
  * `enableHiveSupport()`). [[Tables.t]] reads every fixture table this
  * way.
  */
class CatalogSpec extends SparkSpec {

  private def meta(table: String) = {
    val Array(db, name) = table.split('.')
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(name, Some(db)))
  }

  test("tables register as non-temporary external catalog entries") {
    val db = GraftCatalog.dbFor(sfDir)
    GraftCatalog.register(spark, sfDir, "nation")
    assert(spark.catalog.tableExists(s"$db.nation"))
    val t = spark.catalog.getTable(db, "nation")
    assert(!t.isTemporary, "catalog entry must not be a temp view")
    assert(t.tableType === "EXTERNAL", s"expected EXTERNAL, got ${t.tableType}")
    assert(spark.table(s"$db.nation").count() === 25L)
  }

  test("catalog entries are visible from a different session (no re-registration)") {
    val region = GraftCatalog.register(spark, sfDir, "region")
    val other = spark.newSession() // fresh session state, shared external catalog
    // no GraftCatalog.register(other, ...): resolution must come from the
    // shared catalog, exactly like a second user attaching to the metastore
    assert(other.catalog.tableExists(region))
    assert(other.table(region).count() === 5L)
  }

  test("a file: dir registers once, and a dir with the same basename re-points the table") {
    val first = fixtureCopy(tempDir("a").resolve("repoint"), "region")
    val region = GraftCatalog.register(spark, s"file:$first", "region")
    val created = meta(region).createTime
    Thread.sleep(5) // a re-created entry would get a later createTime
    assert(GraftCatalog.register(spark, s"file:$first", "region") === region)
    assert(GraftCatalog.register(spark, first.toString, "region") === region)
    assert(meta(region).createTime === created,
      "re-registering the same location re-created the table")

    val moved = fixtureCopy(tempDir("b").resolve("repoint"), "region")
    assert(GraftCatalog.register(spark, moved.toString, "region") === region)
    assert(spark.catalog.getTable(region).tableType === "EXTERNAL")
    assert(meta(region).location.getPath === s"$moved/region.parquet")
    assert(meta(region).createTime > created)
  }

  test("a relative dir resolves against the working directory") {
    val dir = fixtureCopy(tempDir("relative").resolve("relative"), "nation")
    val relative = Paths.get("").toAbsolutePath.relativize(dir).toString
    assert(!relative.startsWith("/"))
    assert(Tables.t(spark, relative, "nation").count() === 25L)
    val nation = GraftCatalog.register(spark, relative, "nation")
    assert(meta(nation).location.getPath === s"$dir/nation.parquet")
  }

  test("a registered table reads and plans without starting a Spark job") {
    Tables.t(spark, sfDir, "lineitem")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.t(spark, sfDir, "lineitem").where(col("l_quantity") > 10)
        .queryExecution.executedPlan
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 0, "a read of a registered table started a job")
  }

  test("four concurrent first reads of one table succeed and leave one catalog entry") {
    val dir = fixtureCopy(tempDir("concurrent"), "nation").toString // a basename no read used
    val db = GraftCatalog.dbFor(dir)
    assert(!spark.catalog.databaseExists(db))
    val pool = Executors.newFixedThreadPool(4)
    try {
      val reads = (1 to 4).map(_ => pool.submit(new Callable[Long] {
        def call(): Long = Tables.t(spark, dir, "nation").count()
      }))
      assert(reads.map(_.get(120, TimeUnit.SECONDS)) === Seq.fill(4)(25L))
    } finally pool.shutdown()
    assert(spark.catalog.listTables(db).collect().filterNot(_.isTemporary).map(_.name).toSeq
      === Seq("nation"))
  }

  test("events read through the catalog keep ts a timestamp with the direct read's values") {
    val events = Tables.t(spark, sfDir, "events")
    assert(events.schema("ts").dataType === TimestampType)
    // the read before the catalog: the file's own schema, ts rebuilt by type
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val direct = raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    assert(events.columns.toSeq === direct.columns.toSeq)
    assert(events.count() === direct.count())
    assert(events.exceptAll(direct).isEmpty && direct.exceptAll(events).isEmpty)
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
