package graft.table

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Reads over manifest-resolved paths are planned from the manifest:
  * Spark's file index never lists them (no "Listing leaf files and
  * directories" job, which Spark runs once a read names more than 32
  * paths), and every result equals the plain parquet read of the same
  * files.
  */
class ManifestListingSpec extends SparkSpec {
  import spark.implicits._

  private val Parts = 40

  private def rows(n: Int, from: Int = 0, v: Double = 0.0): DataFrame =
    (from until from + n).map(i => (f"k$i%04d", s"p${i % Parts}", 1L, v + i))
      .toDF("id", "p", "ts", "v")

  private def mkTable(dir: String, dv: Boolean = false): CowTable =
    new CowTable(spark, dir, keyCols = Seq("id"), partitionCols = Seq("p"),
      precombineField = "ts", fileIndexEntries = 1000,
      deleteVectors = dv)

  /** `body`'s result and the listing jobs Spark ran while computing it. */
  private def listingJobs[A](body: => A): (A, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files and directories")))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      GraftBridge.drainListeners(spark.sparkContext)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  /** The plain parquet read of a manifest's files. */
  private def plain(t: CowTable, m: Manifest, files: Seq[String])
      : DataFrame =
    spark.read.schema(m.schema)
      .parquet(files.map(CowTable.resolveFile(t.basePath, _)): _*)

  /** `read` (built and collected) runs no listing job and equals
    * `expected` as a multiset.
    */
  private def assertServed(what: String, read: => DataFrame,
      expected: => DataFrame): Unit = {
    val (got, jobs) = listingJobs(bag(read))
    assert(jobs == 0, s"$what ran $jobs listing job(s)")
    assert(got == bag(expected), s"$what differs from the plain read")
  }

  private def assertNoListing(what: String)(body: => Unit): Unit = {
    val (_, jobs) = listingJobs(body)
    assert(jobs == 0, s"$what ran $jobs listing job(s)")
  }

  test("table reads and COW commits run no listing job") {
    val t = mkTable(tmpDir("mls-cow"))
    t.bulkInsert(rows(400))
    val m0 = t.manifest
    assert(m0.baseFiles.size >= Parts, "one file per partition at least")

    assertServed("snapshot()", t.snapshot(), plain(t, m0, m0.baseFiles))
    val probe = rows(120, from = 50).select("id", "p")
    assertServed("lookupByKeys", t.lookupByKeys(probe),
      plain(t, m0, m0.baseFiles).join(probe, Seq("id", "p"), "left_semi"))

    // upsert and delete touch every partition: the candidate reads and
    // the commits' own bookkeeping list nothing
    assertNoListing("upsert")(t.upsert(rows(80, from = 300, v = 0.5)))
    assertNoListing("delete")(t.delete(rows(40, from = 0).select("id", "p")))
    // the key-stats read-back pass (taken instead of the write tracker
    // under concurrent output writers) is served too
    spark.conf.set("spark.sql.maxConcurrentOutputFileWriters", "2")
    try assertNoListing("upsert with stats read-back")(
      t.upsert(rows(80, from = 100, v = 0.25)))
    finally spark.conf.unset("spark.sql.maxConcurrentOutputFileWriters")
    val m = t.manifest
    assert(m.fileStats.nonEmpty, "the read-back pass recorded file stats")
    assertServed("snapshot() after commits", t.snapshot(),
      plain(t, m, m.baseFiles))

    val before = m0.baseFiles.toSet
    assertServed("changesSince", t.changesSince(m0.version),
      plain(t, m, m.baseFiles.filterNot(before)))

    assertServed("registerView", {
      t.registerView("mls_view"); spark.table("mls_view")
    }, plain(t, m, m.baseFiles))

    assertServed("versionAsOf",
      spark.read.format("graft").option("versionAsOf", m0.version)
        .load(t.basePath),
      plain(t, m0, m0.baseFiles))
  }

  test("SQL through the graft catalog and deletion-vector reads") {
    val wh = tmpDir("mls-wh")
    spark.conf.set("spark.sql.catalog.mlscat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mlscat.warehouse", wh)
    val t = mkTable(s"$wh/lake/li")
    t.bulkInsert(rows(400))
    val m = t.manifest
    val agg = "SELECT p, count(*) AS n, sum(v) AS s FROM %s GROUP BY p"
    plain(t, m, m.baseFiles).createOrReplaceTempView("mls_plain")
    assertServed("SQL aggregate", spark.sql(agg.format("mlscat.lake.li")),
      spark.sql(agg.format("mls_plain")))

    val d = mkTable(s"$wh/lake/dv", dv = true)
    d.bulkInsert(rows(400))
    val md0 = d.manifest
    val victims = rows(60, from = 7)
    d.delete(victims.select("id", "p"))
    assert(d.manifest.dvs.nonEmpty, "the delete must be vectored")
    val expected = plain(d, md0, md0.baseFiles)
      .join(victims.select("id"), Seq("id"), "left_anti")
    assertServed("DV'd snapshot()", d.snapshot(), expected)
    assertServed("DV'd SQL read",
      spark.sql("SELECT id, p, ts, v FROM mlscat.lake.dv"), expected)
  }

  test("MOR realtime() lists neither base files nor delta logs") {
    val t = new MorTable(spark, tmpDir("mls-mor"), Seq("id"), Seq("p"), "ts")
    t.bulkInsert(rows(400))
    t.upsert(rows(100, from = 350, v = 0.5))
    t.delete(rows(45, from = 0).select("id", "p"))
    val realtime = listingJobs(bag(
      t.realtime().drop(CowTable.CommitVerCol)))
    assert(realtime._2 == 0, s"realtime() ran ${realtime._2} listing job(s)")
    // the same rows as plain parquet once the logs fold into base files
    assert(t.compactLogs())
    val m = t.manifest
    assert(realtime._1 ==
      bag(plain(t, m, m.baseFiles).drop(CowTable.CommitVerCol)))
  }

  test("a cold cache lists once, reads correctly and fills the cache") {
    val t = mkTable(tmpDir("mls-cold"))
    t.bulkInsert(rows(400))
    val m = t.manifest
    ManifestListing.StatusCache.invalidateAll()
    val (cold, jobs) = listingJobs(bag(t.snapshot()))
    assert(jobs >= 1, "a cold read of >32 files lists them in a job")
    assert(cold == bag(plain(t, m, m.baseFiles)))
    val conf = spark.sparkContext.hadoopConfiguration
    m.baseFiles.foreach { f =>
      val p = new Path(CowTable.resolveFile(t.basePath, f))
      assert(ManifestListing.StatusCache.getLeafFiles(
        p.getFileSystem(conf).makeQualified(p)).isDefined, s"$f cached")
    }
    assertServed("warm snapshot()", t.snapshot(), plain(t, m, m.baseFiles))
  }

  test("a file missing from a cold cache still fails at planning") {
    val t = mkTable(tmpDir("mls-gone"))
    t.bulkInsert(rows(40))
    ManifestListing.StatusCache.invalidateAll()
    val gone = t.manifest.baseFiles.head
    assert(new java.io.File(t.basePath, gone).delete())
    val e = intercept[org.apache.spark.sql.AnalysisException](t.snapshot())
    assert(Option(e.getCondition).exists(_.startsWith("PATH_NOT_FOUND")))
  }

  test("table schema and column selection match the plain read") {
    val t = mkTable(tmpDir("mls-schema"))
    t.bulkInsert(rows(40))
    val m = t.manifest
    val served = t.snapshot()
    assert(served.schema == plain(t, m, m.baseFiles).schema)
    assert(bag(served.select(col("v"))) ==
      bag(plain(t, m, m.baseFiles).select(col("v"))))
  }
}
