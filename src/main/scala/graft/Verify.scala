package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump every catalog query (optionally filtered to `only`) under
    * `outDir/<name>/`, `parallelism` at a time, each under a
    * `queryTimeoutSec` [[Watchdog]]; returns (okCount, failedCount).
    * Factored out of [[main]] so the empty-output tripwire below is
    * spec-testable. */
  def runAll(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      only: Option[Set[String]],
      parallelism: Int,
      queryTimeoutSec: Long): (Int, Int) = {
    new java.io.File(outDir).mkdirs()
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.atomic.AtomicInteger(0)
    // Queries overlap (Spark's scheduler is thread-safe and each query
    // writes its own directory): at sf0.01 most queries are
    // scheduler-bound, not core-bound, so overlapping them cuts wall-clock
    // about 3x. The watchdog makes one hung query cost one row, not the
    // whole dump.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit =
            Watchdog.run(spark, s"verify-$name", queryTimeoutSec) {
              fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            } match {
              case Watchdog.Ok(_) =>
                ok.incrementAndGet()
                System.err.println(s"[verify] $name ok")
              case Watchdog.Failed(e) =>
                failed.incrementAndGet()
                System.err.println(s"[verify] $name failed: ${e.getMessage}")
              case Watchdog.TimedOut =>
                failed.incrementAndGet()
            }
        })
      }
    // shutdown in finally: the pool's threads are non-daemon, so an
    // exception escaping the awaits (e.g. interrupt) would otherwise leave
    // the JVM alive after main.
    try tasks.foreach(_.get())
    finally pool.shutdownNow()
    (ok.get(), failed.get())
  }

  /** Tripwire: a verify run that produced ZERO query directories must fail
    * LOUDLY: an empty results map is indistinguishable from a run where
    * everything broke. */
  def requireNonEmpty(okCount: Int): Unit =
    require(okCount > 0,
      "verify wrote ZERO query outputs — the gate artifact would be an " +
        "empty map; failing loudly instead (check sfDir/outDir paths and " +
        "per-query stderr above)")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Local-iteration subset: SPARK_GRAFT_VERIFY_ONLY=q117_x,q118_y dumps
    // just those queries (local_verify.py compares whatever dirs exist).
    // The driver never sets it, so the gate always sees the full catalog.
    val only = Harness.queryFilter("SPARK_GRAFT_VERIFY_ONLY", sys.env.get("SPARK_GRAFT_VERIFY_ONLY"),
      SparkEntry.queries.keySet)
    val spark = Graft.localSession("graft-verify")
    val queryTimeoutSec =
      Harness.envPositiveLong("SPARK_GRAFT_VERIFY_QUERY_TIMEOUT_SEC").getOrElse(600L)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    // Oracle dump FIRST, before any query runs: if a slow dump is killed
    // mid-flight, whatever query dirs landed are still comparable; written
    // last, a kill would leave query dirs with no oracle file.
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val (okCount, failedCount) =
      runAll(spark, sfDir, outDir, only, Harness.VerifyParallelism, queryTimeoutSec)
    System.err.println(
      s"[verify] done: $okCount ok, $failedCount failed, " +
        s"${SparkEntry.queries.size} in catalog")
    spark.stop()
    // After spark.stop() and the oracle dump, so a tripped wire still
    // leaves whatever partial evidence exists on disk for inspection.
    requireNonEmpty(okCount)
  }
}
