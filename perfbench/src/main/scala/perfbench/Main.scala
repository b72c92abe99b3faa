package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a run hands back to `run.py`: operation counts, the end-to-end
  * metrics and the per-layer metrics. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()

  /** Counts one operation; it fails if it threw, timed out or its output
    * check returned an error message. */
  def count(o: Outcome[_], check: => Option[String]): Unit = {
    attempted += 1
    val err = if (o.ok) check else Some(o.error)
    err.foreach { e => failed += 1; errors += s"${o.span.id}: $e" }
  }

  /** Sum over operation kinds of each kind's median seconds. */
  def workS(ops: Seq[Outcome[_]]): Double =
    ops.groupBy(_.span.name).values.map(g => Stats.median(g.map(_.seconds))).sum

  /** The end-to-end metrics over measured operations that ran without
    * child spans. */
  def endToEnd(ops: Seq[Outcome[_]], rowsPerS: Double): Unit = {
    val secs = ops.map(_.seconds)
    e2e("work_s") = (workS(ops), "s")
    e2e("rows_per_s") = (rowsPerS, "rows/s")
    // Latency percentiles over a run's few, mixed operations vary too much
    // between runs to bound, and a p90 would have under ten samples beyond
    // it, so they are explanatory.
    layer("ops.p50_ms") = (Stats.pct(secs, 0.5) * 1000, "ms")
    layer("ops.p90_ms") = (Stats.pct(secs, 0.9) * 1000, "ms")
    layer("ops.samples") = (secs.size.toDouble, "count")
  }

  /** The mean Spark counters per operation of `ops`. */
  def sparkCounters(tracer: Tracer, ops: Seq[Outcome[_]]): Unit = {
    val c = ops.map(o => tracer.opCounters(o.span.op))
    val n = math.max(1, c.size).toDouble
    layer("spark.n_jobs") = (c.map(_.jobs).sum / n, "count")
    layer("spark.n_tasks") = (c.map(_.tasks).sum / n, "count")
    layer("spark.task_ms") = (c.map(_.taskMs).sum / n, "ms")
    layer("spark.failed_tasks") = (c.map(_.failedTasks).sum.toDouble, "count")
  }

  def json: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) = Json.obj(m.toSeq.map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    Json.obj(Seq(
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "errors" -> Json.arr(errors.take(20).map(Json.str).toSeq),
      "e2e" -> metrics(e2e), "layer" -> metrics(layer)))
  }
}

object Stats {
  /** Fisher-Yates shuffle driven by the run's seeded generator. */
  def shuffle[T](rng: java.util.SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toList
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Everything a workload needs: the session, the tracer, the run's report,
  * its seed and time budget, and a work directory inside the checkout. */
final case class Ctx(
    spark: SparkSession, tracer: Tracer, report: Report,
    seed: Long, seconds: Double, work: Path, deadlineNs: Long) {
  def timeLeft: Boolean = System.nanoTime() < deadlineNs
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainNs = System.nanoTime()
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val cpus = arg(args, "--cpus").toInt
    val budgetS = arg(args, "--budget").toDouble

    // The catalog tables are small (scale 0.01): past two task threads a
    // query only adds scheduling, and task threads on every core slow the
    // JIT compiler threads that warm the JVM, so its times follow the host.
    val threads = if (workload == "catalog") math.min(2, cpus) else cpus

    val probeStart = HostProbe.cpuSeconds()
    val sessionNs = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    graft.Graft.prepare(spark)
    val sessionS = (System.nanoTime() - sessionNs) / 1e9

    val report = new Report
    val tracer = new Tracer(spark, traced)
    val ctx = Ctx(spark, tracer, report, seed, seconds, work,
      mainNs + (budgetS * 1e9).toLong)
    try {
      val setupS = workload match {
        case "milan" => Milan.run(ctx)
        case "catalog" => Catalog.run(ctx, Paths.get(arg(args, "--data")))
        case other => sys.error(s"unknown workload $other")
      }
      System.err.println(f"[perfbench] setup: boot $bootS%.2f s, session $sessionS%.2f s, workload $setupS%.2f s")
      report.e2e("setup_s") = (bootS + sessionS + setupS, "s")
      val probeEnd = HostProbe.cpuSeconds()
      report.layer("host.cpu_probe_s") = ((probeStart + probeEnd) / 2, "s")
      report.layer("host.peak_rss_mb") = (peakRssMb, "MB")
      report.layer("failed_ratio") =
        (if (report.attempted == 0) 1.0 else report.failed.toDouble / report.attempted, "ratio")
      if (traced) tracer.writeSpans(work.resolve("spans.jsonl"))
      Files.writeString(work.resolve("result.json"), report.json + "\n")
    } finally spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
