package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.SparkEntry

/** A fixed slice of the query catalog over the engine's reference test
  * tables, one query family per engine layer. Set-up runs every query once
  * and writes its result for `run.py`'s DuckDB oracle check; each measured
  * pass then runs the slice to the noop sink in a seeded order. */
object Catalog {
  val Families: Seq[(String, Seq[String])] = Seq(
    "iterative" -> Seq("q58_dup_clusters"),
    "simjoin" -> Seq("q141_simjoin_prefix"),
    "kernels" -> Seq("q43_minhash_lsh"),
    "streaming" -> Seq("q164_stream_file_rollup"),
    "relational" -> Seq("q01_pricing_summary"))
  private val Queries = Families.flatMap(_._2)
  /** The table each query of the slice reads. */
  private val TableOf = Map(
    "q58_dup_clusters" -> "documents", "q141_simjoin_prefix" -> "documents",
    "q43_minhash_lsh" -> "documents", "q164_stream_file_rollup" -> "events",
    "q01_pricing_summary" -> "lineitem")
  private val OpTimeoutS = 60.0
  /** Measured passes, at least. A query's time still falls over the first
    * passes after the checked one while the JIT compiles Spark's generated
    * code; the median of three samples per query absorbs the slowest. */
  private val MinPasses = 3

  /** Returns the set-up seconds (the checked first pass). */
  def run(ctx: Ctx, data: Path): Double = {
    import ctx._
    val dir = data.toString
    val rng = new SplittableRandom(seed)
    def exec(q: String)(sink: org.apache.spark.sql.DataFrame => Unit): Outcome[Unit] =
      tracer.op(q, OpTimeoutS)(sink(SparkEntry.queries(q)(spark, dir)))

    val setupNs = System.nanoTime()
    val out = Files.createDirectories(work.resolve("out"))
    for (q <- Stats.shuffle(rng, Queries)) {
      val o = exec(q)(_.write.mode("overwrite").parquet(out.resolve(q).toString))
      report.count(o, None)
    }
    Files.writeString(work.resolve("oracle.json"),
      Json.obj(Queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))) + "\n")
    // rows in the tables each query reads: fixed by the data, whatever
    // the engine scans to answer it
    val tableRows = TableOf.values.toSeq.distinct
      .map(t => t -> spark.read.parquet(s"$dir/$t.parquet").count().toDouble).toMap
    val setupS = (System.nanoTime() - setupNs) / 1e9

    // Passes run while the measuring time lasts, and at least MinPasses. A
    // catalog query has no child spans, so traced and untraced passes run
    // the same code and the job-group counters come from every pass.
    val runs = Seq.newBuilder[Outcome[Unit]]
    val t0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (timeLeft && (pass < MinPasses || elapsed < seconds)) {
      for (q <- Stats.shuffle(rng, Queries) if timeLeft) {
        val o = exec(q)(_.write.format("noop").mode("overwrite").save())
        report.count(o, None)
        runs += o
      }
      pass += 1
    }

    val all = runs.result().filter(_.ok)
    val medians = all.groupBy(_.span.name).map { case (q, g) => q -> Stats.median(g.map(_.seconds)) }
    report.endToEnd(all, medians.keys.map(q => tableRows(TableOf(q))).sum / medians.values.sum)

    if (tracer.traced) {
      def counters(q: String): Seq[Counters] =
        all.filter(_.span.name == q).map(o => tracer.opCounters(o.span.op))
      def medianOf(q: String, f: Counters => Long): Double = Stats.median(counters(q).map(f(_).toDouble))
      for ((family, qs) <- Families) {
        report.layer(s"$family.wall_s") = (qs.map(medians.getOrElse(_, Double.NaN)).sum, "s")
        report.layer(s"$family.n_jobs") = (qs.map(medianOf(_, _.jobs)).sum, "count")
        report.layer(s"$family.n_tasks") = (qs.map(medianOf(_, _.tasks)).sum, "count")
        report.layer(s"$family.shuffle_write_bytes") = (qs.map(medianOf(_, _.shuffleWriteBytes)).sum, "bytes")
        report.layer(s"$family.spill_bytes") = (qs.map(medianOf(_, _.spillBytes)).sum, "bytes")
      }
      // per execution of a streaming query
      val streamOps = all.filter(o => Families.toMap.apply("streaming").contains(o.span.name))
      val progress = streamOps.flatMap(o => tracer.streamProgress(o.span.id))
      val n = math.max(1, streamOps.size).toDouble
      val batchMs = progress.flatten.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue))
      report.layer("streaming.batches") = (progress.map(_.size).sum / n, "count")
      report.layer("streaming.batch_p50_ms") = (Stats.median(batchMs), "ms")
      report.layer("streaming.state_rows") =
        (progress.flatMap(_.lastOption).map(_.stateOperators.map(_.numRowsTotal).sum).sum / n, "count")
      report.sparkCounters(tracer, all)
    }
    setupS
  }
}
