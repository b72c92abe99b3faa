package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.AggFunctions.sumExact
import graft.operators.Cleaning
import graft.pipeline.{IngestHarness, MilanPipeline}
import graft.sources.MilanCsvSource

/** The Milan pipeline as its users run it: load a drop of day-files into a
  * fresh warehouse, then serve reads from the tables just written. One
  * client, closed loop; each iteration is one ingest cycle followed by
  * `ReadRounds` rounds of the four read operations. */
object Milan {
  /** Rows per day-file. The reference's day-files hold 1,891,928 traffic and
    * 2,307,306 mobility rows over 10,000 cells; these keep that 0.82 ratio
    * and the rows per (hour, cell) over 1/42 of the cells (see `MilanDrop`),
    * so that a run with its JVM warm-up fits in about half a minute. */
  val TrafficPerDay = 47000
  val MobilityPerDay = 57320
  val Days = 3
  private val WarmIterations = 2
  /** Measured iterations, at least. The first measured ingest is still a
    * little slower than later ones; the median of three absorbs it. */
  private val MinIterations = 3
  /** Read rounds per ingest. A read takes under a second and varies by tens
    * of percent from call to call, so each kind needs more samples in a run
    * than the ingest does. */
  private val ReadRounds = 2
  private val OpTimeoutS = 60.0

  private final case class Read(kind: String, layer: String, build: MilanPipeline => DataFrame, check: Array[Row] => Option[String])

  private def tree(p: Path): Seq[Path] = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toList finally walk.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) tree(p).reverse.foreach(Files.deleteIfExists)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Returns the set-up seconds: input generation (median of three) and
    * the warm-up iterations. */
  def run(ctx: Ctx): Double = {
    import ctx._
    val dataDir = work.resolve("data")
    val gens = (0 until 3).map { _ =>
      deleteTree(dataDir)
      val t0 = System.nanoTime()
      val d = MilanDrop.write(dataDir, seed, Days, TrafficPerDay, MobilityPerDay)
      (d, (System.nanoTime() - t0) / 1e9)
    }
    val drop = gens.last._1
    val setupNs = System.nanoTime()
    val dim = IngestHarness.provincesDim(spark).cache()
    dim.count()
    val data = dataDir.toString

    // --- write path: both loads into a fresh warehouse, then both again
    // (the ledger makes the second round a no-op)
    def ingest(wh: Path): Outcome[Seq[Int]] = {
      val o = tracer.op("ingest", OpTimeoutS) {
        val pipe = new MilanPipeline(spark, wh.toString)
        Seq(
          tracer.span("pipeline.load_traffic")(pipe.loadTraffic(data)),
          tracer.span("pipeline.load_mobility")(pipe.loadMobility(data, dim)),
          tracer.span("pipeline.ledger_traffic")(pipe.loadTraffic(data)),
          tracer.span("pipeline.ledger_mobility")(pipe.loadMobility(data, dim)))
      }
      report.count(o, {
        val pipe = new MilanPipeline(spark, wh.toString)
        val (t, m) = (pipe.trafficFact.count(), pipe.mobilityFact.count())
        val files = o.value.get
        if (files != Seq(Days, Days, 0, 0)) Some(s"files loaded $files")
        else if (t != drop.trafficKept) Some(s"traffic rows $t, expected ${drop.trafficKept}")
        else if (m != drop.mobilityKept) Some(s"mobility rows $m, expected ${drop.mobilityKept}")
        else None
      })
      o
    }

    // The layer probes of traced iterations: the sources scanned to the
    // noop sink, then scan plus cleaning, so a load splits into scan,
    // cleaning and write.
    def probes(): Unit = {
      report.count(tracer.op("probe.scan", OpTimeoutS) {
        tracer.span("sources.traffic")(noop(MilanCsvSource.traffic(spark, drop.trafficFiles)))
        tracer.span("sources.mobility")(noop(MilanCsvSource.mobility(spark, drop.mobilityFiles)))
      }, None)
      report.count(tracer.op("probe.clean", OpTimeoutS) {
        tracer.span("cleaning.traffic")(noop(Cleaning.cleanTraffic(MilanCsvSource.traffic(spark, drop.trafficFiles))))
        tracer.span("cleaning.mobility")(noop(Cleaning.cleanMobility(MilanCsvSource.mobility(spark, drop.mobilityFiles), dim)))
      }, None)
    }

    // --- read path, each result checked against the generator's exact answers
    val epochHour0 = java.time.Instant.parse("2013-11-01T00:00:00Z").getEpochSecond / 3600
    def topCells(rng: SplittableRandom): Read = {
      val h = rng.nextInt(drop.hours)
      val since = f"2013-11-${h / 24 + 1}%02d ${h % 24}%02d:00:00"
      Read("top_cells", "rollup.top_cells", _.topCells(since, 10), rows => {
        val got = rows.map(r => (r.getAs[Long]("cell_id"), r.getAs[Double]("avg_load"))).toSeq
        val want = drop.topCells(h, 10)
        if (got == want) None else Some(s"top cells since $since: $got, expected $want")
      })
    }
    def hourlyRange(rng: SplittableRandom): Read = {
      val lo = rng.nextInt(MilanDrop.Cells - 500 + 1)
      Read("hourly_range", "rollup.hourly_range",
        _.hourlyTraffic.filter(col("cell_id").between(lo, lo + 499)).select("hour", "cell_id", "total_activity"),
        rows => {
          val expected = (0 until drop.hours).iterator
            .flatMap(h => (lo until lo + 500).map(c => h * MilanDrop.Cells + c))
            .count(drop.hourRows(_) > 0)
          val bad = rows.find { r =>
            val h = (r.getTimestamp(0).toInstant.getEpochSecond / 3600 - epochHour0).toInt
            h < 0 || h >= drop.hours ||
              r.getDouble(2) != drop.hourTenths(h * MilanDrop.Cells + r.getLong(1).toInt) / 10.0
          }
          if (rows.length != expected) Some(s"hourly rows ${rows.length}, expected $expected for cells $lo..${lo + 499}")
          else bad.map(r => s"hourly row $r")
        })
    }
    val audit = Read("audit", "audit.validate", _.auditConstraints(), rows =>
      if (rows.length != 1 + Cleaning.TrafficMetricCols.size) Some(s"audit rows ${rows.length}")
      else rows.find(_.getLong(1) != 0).map(r => s"audit violation $r"))
    val provinces = Read("province_sums", "rollup.mobility_by_province",
      _.mobilityFact.groupBy("provincia").agg(
        count(lit(1)).as("n"), sumExact(col("cell2province")).as("c2p"), sumExact(col("province2cell")).as("p2c")),
      rows => {
        val got = rows.map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
        val want = drop.provRows.indices.filter(drop.dimIndex).map(i =>
          drop.cleanName(i) -> (drop.provRows(i), drop.provC2p(i) / 10.0, drop.provP2c(i) / 10.0)).toMap
        if (got == want) None else Some(s"province sums $got, expected $want")
      })
    def read(q: Read, pipe: MilanPipeline): Outcome[Array[Row]] = {
      val o = tracer.op(q.kind, OpTimeoutS) {
        val df = tracer.span(s"${q.layer}.plan") { val d = q.build(pipe); d.queryExecution.executedPlan; d }
        tracer.span(s"${q.layer}.exec")(df.collect())
      }
      report.count(o, q.check(o.value.get))
      o
    }

    // One iteration: ingest into warehouse i, then rounds of the four reads
    // over it, each in a seeded order with seeded parameters, so every run
    // measures the same mix.
    val rng = new SplittableRandom(seed)
    var lastWh: Option[Path] = None
    def iteration(i: Int): Seq[Outcome[_]] = {
      val wh = work.resolve(s"wh-$i")
      val load = ingest(wh)
      val pipe = new MilanPipeline(spark, wh.toString)
      val reads = (0 until ReadRounds).flatMap(_ =>
        Stats.shuffle(rng, Seq(topCells(rng), hourlyRange(rng), audit, provinces)).map(read(_, pipe)))
      if (tracer.tracing) probes()
      lastWh.foreach(deleteTree)
      lastWh = Some(wh)
      load +: reads
    }

    // Warm-up: operation times keep falling for the first few iterations
    // of a JVM while the JIT compiles the load and read paths.
    tracer.tracing = false
    (0 until WarmIterations).foreach(i => iteration(-1 - i))
    val setupS = Stats.median(gens.map(_._2)) + (System.nanoTime() - setupNs) / 1e9
    System.err.println(gens.map(g => f"${g._2}%.2f").mkString("[perfbench] input generation s: ", ", ", ""))

    val measured = Seq.newBuilder[Outcome[_]]
    val t0 = System.nanoTime()
    var i = 0
    // At least MinIterations, so that every kind has a stable number of
    // samples on a slow host too and traced runs hold both kinds.
    while (timeLeft && (i < MinIterations || System.nanoTime() - t0 < seconds * 1e9)) {
      // traced runs alternate traced and untraced iterations
      tracer.tracing = tracer.traced && i % 2 == 1
      measured ++= iteration(i)
      i += 1
    }
    tracer.tracing = false

    val all = measured.result().filter(_.ok)
    val plain = all.filterNot(_.traced)
    // source rows (traffic plus mobility) per second of the median ingest
    val ingestS = Stats.median(plain.filter(_.span.name == "ingest").map(_.seconds))
    report.endToEnd(plain, drop.sourceRows / ingestS)
    report.layer("cleaning.rows_kept_ratio") =
      ((drop.trafficKept + drop.mobilityKept).toDouble / drop.sourceRows, "ratio")
    lastWh.foreach { wh =>
      val parquet = tree(wh).filter(_.getFileName.toString.endsWith(".parquet"))
      report.layer("pipeline.files_written") = (parquet.size.toDouble, "count")
      report.layer("pipeline.bytes_written_per_input_byte") =
        (parquet.map(Files.size).sum.toDouble / drop.csvBytes, "ratio")
    }
    if (tracer.traced) {
      val traced = all.filter(_.traced)
      val tracedOps = traced.map(_.span.op).toSet
      val spans = tracer.spans.filter(s => tracedOps(s.op) || s.name.startsWith("sources.") || s.name.startsWith("cleaning."))
      def perOp(prefix: String): Double = Stats.median(
        spans.filter(_.name.startsWith(prefix)).groupBy(_.op).values.map(_.map(_.seconds).sum).toSeq)
      val scan = perOp("sources.")
      val scanClean = perOp("cleaning.")
      report.layer("sources.scan_s") = (scan, "s")
      report.layer("cleaning.self_s") = (scanClean - scan, "s")
      report.layer("pipeline.write_self_s") = (perOp("pipeline.load_") - scanClean, "s")
      report.layer("pipeline.ledger_skip_s") = (perOp("pipeline.ledger_"), "s")
      def p50Ms(kind: String) = 1000 * Stats.median(traced.filter(_.span.name == kind).map(_.seconds))
      report.layer("rollup.top_cells_p50_ms") = (p50Ms("top_cells"), "ms")
      report.layer("rollup.hourly_range_p50_ms") = (p50Ms("hourly_range"), "ms")
      report.layer("rollup.mobility_by_province_p50_ms") = (p50Ms("province_sums"), "ms")
      report.layer("audit.validate_p50_ms") = (p50Ms("audit"), "ms")
      report.layer("query.plan_ms") = (1000 * Stats.median(spans.filter(_.name.endsWith(".plan")).map(_.seconds)), "ms")
      report.layer("query.exec_ms") = (1000 * Stats.median(spans.filter(_.name.endsWith(".exec")).map(_.seconds)), "ms")
      val readOps = traced.filter(_.span.name != "ingest")
      val returned = readOps.map(_.value.get.asInstanceOf[Array[Row]].length.toLong).sum
      val scanned = readOps.map(o => tracer.opCounters(o.span.op).inputRecords).sum
      report.layer("query.rows_scanned_per_row_returned") = (scanned.toDouble / math.max(1L, returned), "ratio")
      report.layer("trace.overhead_ratio") = (report.workS(traced) / report.workS(plain), "ratio")
      report.sparkCounters(tracer, traced)
    }
    setupS
  }
}
