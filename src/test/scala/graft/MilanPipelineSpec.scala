package graft

import java.nio.file.Files

import graft.pipeline.MilanPipeline

/** End-to-end mini pipeline over dirty fixtures (FIXTURES.md §1-2):
  * load → clean → partitioned parquet → hourly rollup → top-k → audits. */
class MilanPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixtures(dir: java.nio.file.Path): Unit = {
    val traffic =
      """datetime,CellID,countrycode,smsin,smsout,callin,callout,internet
        |2013-11-01 00:00:00,1,39,1.5,,0.5,,10.0
        |2013-11-01 00:10:00,1,39,2.5,1.0,,,
        |2013-11-01 01:00:00,2,39,4.0,,,,
        |bad-date,3,39,1.0,,,,
        |2013-11-01 00:00:00,10001,39,1.0,,,,
        |2013-11-01 00:20:00,4,39,-5.0,1.0,,,
        |""".stripMargin
    Files.writeString(dir.resolve("sms-call-internet-mi-2013-11-01.csv"), traffic)
    val mobility =
      """datetime,CellID,provinceName,cell2Province,Province2cell
        |2013-11-01 00:00:00,1,MILANO,0.5,0.1
        |2013-11-01 00:00:00,1,VALLE D'AOSTA,0.2,
        |2013-11-01 00:00:00,1,ATLANTIS,0.3,0.3
        |""".stripMargin
    Files.writeString(dir.resolve("mi-to-provinces-2013-11-01.csv"), mobility)
  }

  test("pipeline loads, cleans, rolls up, audits, and is idempotent") {
    val dataDir = Files.createTempDirectory("milan-data")
    val whDir = Files.createTempDirectory("milan-wh")
    writeFixtures(dataDir)
    val pipe = new MilanPipeline(spark, whDir.toString)

    assert(pipe.loadTraffic(dataDir.toString) == 1)
    // 6 raw - 1 bad date - 1 out-of-range cell = 4 kept
    assert(pipe.trafficFact.count() == 4)
    // negative smsin clamped
    assert(pipe.trafficFact.filter($"smsin" < 0).count() == 0)

    val provinces = Seq("Milano", "Aosta").toDF("provincia")
    assert(pipe.loadMobility(dataDir.toString, provinces) == 1)
    val mob = spark.read.parquet(s"$whDir/fact_mobility_provinces")
    // ATLANTIS dropped; VALLE D'AOSTA normalized to Aosta
    assert(mob.count() == 2)
    assert(mob.filter($"provincia" === "Aosta").count() == 1)

    // idempotency: second run ingests nothing
    assert(pipe.loadTraffic(dataDir.toString) == 0)
    assert(pipe.trafficFact.count() == 4)

    // hourly rollup + acceptance query
    val top = pipe.topCells().collect()
    assert(top.nonEmpty)
    // cell 1 hour 00: smsin 4.0 + smsout 1.0 + callin 0.5 + internet 10.0 = 15.5
    val cell1 = top.find(_.getAs[Long]("cell_id") == 1L).get
    assert(cell1.getAs[Double]("avg_load") == 15.5)

    // audits all green after cleaning
    val audits = pipe.auditConstraints().collect()
    assert(audits.forall(_.getAs[Long]("violations") == 0L))

    // S8 existence probes: loaded fact exists, unknown doesn't, and the
    // catalog probe answers for registered views
    assert(pipe.factTableExists("fact_traffic_milan"))
    assert(!pipe.factTableExists("no_such_table"))
    pipe.trafficFact.createOrReplaceTempView("traffic_probe_view")
    assert(pipe.catalogTableExists("traffic_probe_view"))
    assert(!pipe.catalogTableExists("no_such_view"))
  }

  private val overwriteModeKey = "spark.sql.sources.partitionOverwriteMode"

  /** Run `body` with the session's partition-overwrite mode pinned to
    * static, the Spark default, then restore what was there. */
  private def underStaticOverwrite(body: => Unit): Unit = {
    val saved = spark.conf.getOption(overwriteModeKey)
    spark.conf.set(overwriteModeKey, "static")
    try body
    finally saved.fold(spark.conf.unset(overwriteModeKey))(spark.conf.set(overwriteModeKey, _))
  }

  test("loadTraffic leaves the session's partition-overwrite mode unchanged") {
    underStaticOverwrite {
      val dataDir = Files.createTempDirectory("milan-data")
      writeFixtures(dataDir)
      val pipe = new MilanPipeline(spark, Files.createTempDirectory("milan-wh").toString)
      assert(pipe.loadTraffic(dataDir.toString) == 1)
      assert(spark.conf.get(overwriteModeKey) == "static")
    }
  }

  test("re-ingesting one file after a lost ledger replaces only that file's partitions") {
    underStaticOverwrite {
      val dataDir = Files.createTempDirectory("milan-data")
      writeFixtures(dataDir)
      val second = "sms-call-internet-mi-2013-11-02.csv"
      Files.writeString(dataDir.resolve(second),
        """datetime,CellID,countrycode,smsin,smsout,callin,callout,internet
          |2013-11-02 00:00:00,5,39,1.0,,,,
          |2013-11-02 03:00:00,6,39,2.0,,,,
          |""".stripMargin)
      val whDir = Files.createTempDirectory("milan-wh")
      val pipe = new MilanPipeline(spark, whDir.toString)
      assert(pipe.loadTraffic(dataDir.toString) == 2)
      val before = pipe.trafficFact.count()
      assert(before == 6)
      // the crash window of the class doc: data committed, ledger lost
      Files.delete(whDir.resolve("_ingest_ledger"))
      assert(pipe.loadTraffic(dataDir.toString, pattern = "sms-call-internet-mi-2013-11-01.csv") == 1)
      val facts = pipe.trafficFact
      assert(facts.count() == before)
      assert(facts.filter($"src_file" === second).count() == 2)
    }
  }

  test("K5 backfillColumn fills only NULLs via crash-safe snapshot swap") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_backfill")
    val tbl = dir.resolve("grid").toString
    Seq(
      (0L, null.asInstanceOf[String], "POLY0"),
      (1L, "1,2,3,4", "POLY1")
    ).toDF("cell_id", "bounds", "geometry").write.parquet(tbl)

    MilanPipeline.backfillColumn(spark, tbl, "bounds", concat(lit("env:"), col("geometry")))
    val out = spark.read.parquet(tbl).collect()
      .map(r => r.getAs[Long]("cell_id") -> r.getAs[String]("bounds")).toMap
    // reference src/etl.py:21-29 semantics: COALESCE — NULL filled from the
    // expression, existing values untouched
    assert(out == Map(0L -> "env:POLY0", 1L -> "1,2,3,4"))
    // swap cleaned up both scratch dirs
    assert(!Files.exists(dir.resolve("grid.backfill_old")))

    // idempotent: a second backfill is a no-op on values
    MilanPipeline.backfillColumn(spark, tbl, "bounds", lit("XXX"))
    val out2 = spark.read.parquet(tbl).collect()
      .map(r => r.getAs[Long]("cell_id") -> r.getAs[String]("bounds")).toMap
    assert(out2 == out)

    // crash-recovery: simulate a crash between the two swap renames
    // (table dir moved aside, new snapshot not yet moved in)
    Files.move(dir.resolve("grid"), dir.resolve("grid.backfill_old"))
    assert(MilanPipeline.recoverBackfill(spark, tbl))
    assert(spark.read.parquet(tbl).count() == 2)

    // crash-recovery, other window: swap completed but the cleanup delete
    // was lost — recovery drops the superseded snapshot, table untouched
    Files.createDirectory(dir.resolve("grid.backfill_old"))
    intercept[IllegalArgumentException] {
      MilanPipeline.backfillColumn(spark, tbl, "bounds", lit("YYY"))
    }
    assert(MilanPipeline.recoverBackfill(spark, tbl))
    assert(!Files.exists(dir.resolve("grid.backfill_old")))
    assert(spark.read.parquet(tbl).count() == 2)
  }
}
