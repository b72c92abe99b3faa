package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark main: executes every catalog query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query seconds.
  *
  * Queries are fully executed via the `noop` sink (forces every projected
  * column to be computed — `count()` would let Catalyst prune the very
  * expressions we want to measure). A warm-up run of the smallest query
  * amortizes session/codegen start-up out of the per-query numbers.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val only = Harness.queryFilter("SPARK_GRAFT_BENCH_ONLY", sys.env.get("SPARK_GRAFT_BENCH_ONLY"),
      SparkEntry.queries.keySet)
    val spark = Graft.localSession("graft-bench", cpus)

    // Per-query execution datasheet (rows/bytes/shuffle/spill/task-skew
    // keyed by per-pass bench-<query>#p<pass> job groups; the written
    // sheet keeps only each query's winning pass) — the monitoring parity
    // artifact, written next to the timing JSON every run.
    val metrics = new graft.pipeline.MetricsListener
    spark.sparkContext.addSparkListener(metrics)

    // The wall-clock budget below is only checked between queries, so each
    // execution also runs under the per-query watchdog: a hung query is
    // scored -1 for the pass (a lost sample, not a lost run). Each
    // execution has its own job group, bench-<name>#p<pass>, so the metrics
    // sheet can report the winning pass alone instead of a sum over
    // warm-up, every pass and cancelled attempts.
    val queryTimeoutSec =
      Harness.envPositiveLong("SPARK_GRAFT_BENCH_QUERY_TIMEOUT_SEC").getOrElse(600L)
    // Queries run one at a time, so the change in Spark's JVM-wide compile
    // counter across a run is that run's count of newly compiled generated
    // classes (0 when every class is still in the codegen cache).
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(name: String, group: String): Double = {
      val compiled0 = compiles
      val outcome = Watchdog.run(spark, group, queryTimeoutSec) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      val compiled = compiles - compiled0
      metrics.recordCompiles(group, compiled)
      outcome match {
        case Watchdog.Ok(t) =>
          System.err.println(f"[bench] $name $t%.2fs $compiled compiles"); t
        case Watchdog.Failed(e) =>
          System.err.println(s"[bench] $name failed: $e"); -1.0
        case Watchdog.TimedOut => -1.0
      }
    }

    // Host-calibration probe: a FIXED, Spark-free
    // micro-benchmark run at every pass boundary and recorded into the
    // metrics datasheet, so cross-round wall-clock drift (this host shows
    // ±16% windows — see the interleaving comment below) is attributable
    // mechanically: if the committed record slows AND the probe ratio
    // slows alike, it is the host window, not the code. CPU leg: 2^28
    // splitmix64 steps (pure register arithmetic, no allocation — immune
    // to heap/GC state). IO leg: 128 4-KiB write+force cycles in
    // java.io.tmpdir (the state-store fsync shape). ~1 s total per probe.
    def calibrate(): (Double, Double) = {
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < (1 << 28)) {
        x += 0x9E3779B97F4A7C15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        acc ^= z ^ (z >>> 31)
        i += 1
      }
      val cpuSec = (System.nanoTime() - t0) / 1e9
      if (acc == 42L) System.err.println("[bench] calib sentinel") // defeat DCE
      val f = java.io.File.createTempFile("graft_calib", ".bin")
      val buf = java.nio.ByteBuffer.allocate(4096)
      val t1 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        var k = 0
        while (k < 128) {
          buf.clear(); buf.limit(4096)
          ch.position(0); ch.write(buf); ch.force(true)
          k += 1
        }
      } finally { ch.close(); f.delete() }
      val ioSec = (System.nanoTime() - t1) / 1e9
      (cpuSec, ioSec)
    }
    // (boundary index, cpu, io): probe i runs at the boundary BEFORE pass
    // i; one final probe after the last pass carries index = passes-run.
    val calibrations = scala.collection.mutable.ArrayBuffer[(Int, Double, Double)]()
    def probe(boundary: Int): Unit = {
      val (c, io) = calibrate()
      calibrations += ((boundary, c, io))
      System.err.println(f"[bench] calib@$boundary cpu=$c%.3fs fsync128=$io%.3fs")
    }

    // Warm-up: JVM/codegen/parquet-footer caches (own group — must not
    // leak into any query's datasheet).
    run("q16_distinct_flags", "bench-warmup")

    // INTERLEAVED best-of-N (default 3 passes, up to 6): this host shows
    // episodic multi-MINUTE degradation windows (all tasks drop to
    // interpreted speed — verified via jstack/jstat: C2 compiler pegged,
    // previously sub-second queries take 20-60s, then recover). Repeating
    // one query back-to-back lands every repeat inside the same window, so
    // min-of-3 still reports the degraded time. Instead run the FULL
    // catalog once per pass and take each query's min across passes: the
    // query's samples are then spaced a whole pass apart, and a single
    // calm pass anywhere yields calm minima for every query. If no pass
    // was calm (best pass-sum still far above the sum of minima), keep
    // adding passes up to the cap OR until the wall-clock budget runs out,
    // whichever comes first. A query is reported failed (-1) only when it
    // fails in EVERY pass.
    val basePasses = Harness.envPositiveLong("SPARK_GRAFT_BENCH_RUNS").getOrElse(3L)
    val maxPasses = Harness.envPositiveLong("SPARK_GRAFT_BENCH_MAX_RUNS").getOrElse(6L)
    // HARD wall-clock budget: the driver kills the whole process at its own
    // timeout (observed ~90 min), and a killed bench reports NOTHING — so
    // past the budget we stop starting new work (even mid-pass, once every
    // query has at least one sample) and print the JSON line with whatever
    // minima we have. A partial second pass is strictly better than rc=124.
    val budgetSec = Harness.envPositiveLong("SPARK_GRAFT_BENCH_BUDGET_SEC").getOrElse(2700L)
    val startNanos = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - startNanos) / 1e9
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val passTimes = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    // Timings from a pass cut short by the budget: they join the final
    // minima but not the calm-pass vote (a partial pass can't certify).
    // (name, time, passIdx) — the pass index recovers the job group of a
    // winning partial sample for the metrics datasheet.
    val partialSamples = scala.collection.mutable.ArrayBuffer[(String, Double, Int)]()

    // A pass is "calm" iff its sum sits within ~30% of the sum of minima
    // computed from the OTHER passes (a self-comparison is trivially true,
    // which is why pass 1 can never certify itself — it gets re-judged once
    // pass 2 exists). A query that failed in pass i contributes its best
    // known time from the other passes, so failures can't fake calmness; if
    // a query has NO successful sample outside pass i, the check for pass i
    // is skipped entirely.
    def passIsCalm(i: Int): Boolean = {
      if (passTimes.size < 2) return false
      val others = passTimes.indices.filter(_ != i).map(passTimes)
      val minOther = names.map { n =>
        val vs = others.map(_(n)).filter(_ >= 0)
        n -> (if (vs.isEmpty) -1.0 else vs.min)
      }.toMap
      if (minOther.values.exists(_ < 0)) return false
      val cur = passTimes(i)
      val effSum = names.map(n => if (cur(n) >= 0) cur(n) else minOther(n)).sum
      effSum <= 1.3 * minOther.values.sum
    }

    var pass = 0
    var calmSeen = false
    var outOfTime = false
    while (!outOfTime && (pass < basePasses || (pass < maxPasses && !calmSeen))) {
      probe(pass)
      val cur = scala.collection.mutable.LinkedHashMap[String, Double]()
      for (n <- names if !outOfTime) {
        cur(n) = run(n, s"bench-$n#p$pass")
        // Pass 1 always completes (every query needs >= 1 sample); later
        // passes yield mid-pass the moment the budget runs out.
        if (pass >= 1 && elapsed > budgetSec) outOfTime = true
      }
      pass += 1
      if (cur.size == names.size) {
        passTimes += cur.toMap
        calmSeen = passTimes.indices.exists(passIsCalm)
      } else {
        partialSamples ++= cur.map { case (n, t) => (n, t, pass - 1) }
      }
      val passSum = cur.values.filter(_ >= 0).sum
      System.err.println(
        f"[bench] pass $pass sum $passSum%.1fs calm=$calmSeen elapsed=$elapsed%.0fs" +
          (if (cur.size != names.size) s" (partial ${cur.size}/${names.size})" else ""))
      if (elapsed > budgetSec) outOfTime = true
    }
    probe(pass) // post-run boundary: a window opening DURING the last pass shows here
    // (name, min time, winning pass index) — passTimes(i) is pass i (a
    // partial pass can only be the LAST one, so full-pass indices align).
    val resultsWithPass = names.map { n =>
      val vs = passTimes.zipWithIndex.map { case (m, i) => (m(n), i) } ++
        partialSamples.collect { case (`n`, t, p) => (t, p) }
      val ok = vs.filter(_._1 >= 0)
      if (ok.isEmpty) (n, -1.0, -1) else { val best = ok.minBy(_._1); (n, best._1, best._2) }
    }
    val results = resultsWithPass.map { case (n, t, _) => n -> t }
    val qs = results.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // queries_ok cross-checks the correctness record: an empty or
    // implausibly small verify result map contradicts this independent
    // count of queries that executed end to end.
    val nOk = results.count(_._2 >= 0)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries_ok":$nOk,"queries":$qs,"sf":${Json.str(sfDir)}}"""
    println(json)
    Console.out.flush()
    // The full record must not depend on log-tail capture (at 90+ queries
    // the line overflows a typical tail window), so it is also written to
    // a file beside the metrics sheet, both in SPARK_GRAFT_BENCH_OUT_DIR
    // (default [[Harness.defaultOutDir]]). Subset runs
    // (SPARK_GRAFT_BENCH_ONLY set) get a ".subset" suffix so a partial
    // sweep can never overwrite a full one.
    val outDir = sys.env.get("SPARK_GRAFT_BENCH_OUT_DIR")
      .map(java.nio.file.Paths.get(_)).getOrElse(Harness.defaultOutDir)
    val subsetSuffix = if (only.isDefined) ".subset" else ""
    val outPath = outDir.resolve(s"bench_out$subsetSuffix.json")
    // The file record also carries the run's sampling (pass count, budget,
    // width) and each catalog family's sum of winning times, so a committed
    // record describes itself. The stdout line above keeps its fields:
    // callers parse it.
    val familyOf = graft.catalog.Catalog.entries.map(e => e.name -> e.family).toMap
    val families = results.filter(_._2 >= 0).groupMapReduce(r => familyOf(r._1))(_._2)(_ + _)
      .toSeq.sorted.map { case (f, t) => Json.str(f) + ":" + t }.mkString("{", ",", "}")
    try Harness.writeFile(outPath, json.stripSuffix("}") +
      s""","passes":${passTimes.size},"partial_pass":${partialSamples.nonEmpty},""" +
      s""""timeout_s":$queryTimeoutSec,"budget_s":$budgetSec,"cpus":$cpus,"families":$families}""")
    catch { case e: Throwable => System.err.println(s"[bench] bench_out write failed: $e") }
    // stderr gets ONLY a compact line (total + 10 slowest), which always
    // fits a tail window and names the file carrying the full record.
    val slow = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => Json.str(k) + ":" + Json.fixed(v, 2) }.mkString("{", ",", "}")
    System.err.println(
      s"""{"metric":"total","value":$total,"unit":"sec","slowest10":$slow,"sf":${Json.str(sfDir)},"full":${Json.str(outPath.toString)}}""")
    System.err.flush()
    // Metrics datasheet: drain the async listener bus by POLLING until the
    // task count stabilizes (a fixed sleep silently truncates the tail of
    // the sheet inside this host's documented degradation windows).
    var seen = -1L
    var stable = 0
    val drainDeadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (stable < 3 && System.nanoTime() < drainDeadline) {
      Thread.sleep(200)
      val now = metrics.totalTasksSeen()
      if (now == seen) stable += 1 else { stable = 0; seen = now }
    }
    if (stable < 3)
      System.err.println("[bench] metrics bus still draining at deadline — sheet may undercount tail tasks")
    // Each query's sheet = its WINNING pass's execution only (one clean
    // run, same semantics as the min-across-passes timing beside it).
    val metricsPath = outDir.resolve(s"bench_metrics$subsetSuffix.json")
    val selection = resultsWithPass.collect {
      case (n, t, p) if t >= 0 => s"bench-$n" -> s"bench-$n#p$p"
    }
    // "calibration" leads the sheet: one probe per pass boundary (index i
    // ran before pass i; the last entry is the post-run probe), so a
    // committed record carries its own host-speed evidence.
    val calibJson = calibrations.map { case (b, c, io) =>
      s"""{"boundary":$b,"cpu_sec":${Json.fixed(c, 4)},"fsync128_sec":${Json.fixed(io, 4)}}"""
    }.mkString("[", ",", "]")
    try Harness.writeFile(metricsPath,
      metrics.selectedJson(selection, leading = Seq("calibration" -> calibJson)))
    catch { case e: Throwable => System.err.println(s"[bench] metrics write failed: $e") }
    spark.stop()
  }
}
