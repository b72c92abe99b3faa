package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.Parquet

/** Shared scaffolding for running a streaming frame through the REAL
  * Structured-Streaming engine to a terminal, value-checkable result:
  * checkpointed memory sink + `Trigger.AvailableNow()`, fresh
  * checkpoint/table name per run, full cleanup on success AND failure.
  * Factored out of the q164 rollup so every gate query that drives the real
  * engine (windowed agg, custom-state sessionize, …) exercises the SAME
  * run-to-completion contract instead of re-growing its own.
  *
  * The memory sink is the GATE harness, not the production path: it
  * materializes the result on the driver, which is fine for a correctness
  * check and wrong at 100 TB, where a stream writes to a durable sink.
  */
private[graft] object StreamingHarness {

  private val runSeq = new AtomicLong(0L)

  /** `readStream` file source over a parquet path. The streaming file
    * source tracks a DIRECTORY (new files appear, get processed once,
    * recorded in the checkpoint); a single-file dataset streams as its
    * parent dir + a glob filter pinning the one file. */
  def fileSource(spark: SparkSession, path: String): DataFrame = {
    val schema = Parquet.read(spark, path).schema
    val f = new java.io.File(path)
    val reader = spark.readStream.schema(schema)
    if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
    else reader.parquet(path)
  }

  /** Run `df` (a streaming frame) to completion under
    * `Trigger.AvailableNow()` into a checkpointed memory sink; return the
    * terminal result. EAGER by necessity — a terminal streaming result has
    * no lazy form — so even a schema-only caller pays one execution.
    *
    * Each call uses a fresh checkpoint dir and memory-table name, so
    * repeated gate/bench passes never share state; the checkpoint dir is
    * deleted and the memory table dropped from the catalog before
    * returning (the returned DataFrame holds the already-resolved sink
    * relation, so the drop only releases the NAME — repeated bench passes
    * don't pile up catalog entries).
    *
    * The state-partition count is sized from the byte size of
    * `inputPaths` (see [[adaptiveStatePartitions]]): AQE is disabled
    * inside stateful micro-batches (the engine refuses it), so the ONLY
    * way the state-store partition count tracks data volume is deriving it
    * from the input before the stream starts — a session-wide constant
    * (the batch default of 32/200) is wrong in both directions at once: at
    * fixture scale each stateful operator pays 32 × stores × batches of
    * fixed load/commit/fsync overhead for KB of state (measured: q195's
    * empty FINISHING batch alone costs 3.3 s of pure state-store commit at
    * 32 partitions, and the whole query drops 7.6 → 3.0 s at 8), while at
    * 100 TB a fixed 32 would cap state parallelism regardless of volume.
    * Results are partition-count invariant — only the state layout
    * changes.
    *
    * `extraConfs` are session confs overridden for the duration of the
    * run and restored (to the prior value, or unset) afterwards — the hook
    * the RocksDB state-store twin uses to select
    * `spark.sql.streaming.stateStore.providerClass` per-query; the sized
    * partition count rides the same hook, so the session's batch setting
    * is untouched after the run. Session confs are global, so the
    * set/restore is race-free only while one terminal streaming run is
    * active at a time. Bench runs one query at a time; Verify runs 4 at
    * once, so two streaming runs can overlap there and one can restore a
    * value the other set. */
  def runToMemorySink(
      spark: SparkSession,
      df: DataFrame,
      outputMode: String,
      extraConfs: Seq[(String, String)],
      inputPaths: Seq[String]): DataFrame = {
    val confs = adaptiveStatePartitions(spark, inputPaths) ++ extraConfs
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try runToMemorySinkInner(spark, df, outputMode)
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Input bytes per state partition: the measured optimum of a U-shaped
    * cost curve, swept at BOTH bench scales on the five real-engine rows
    * (min-of-3 per config, same host window; sf10 = the 100× rehearsal):
    * per-partition budget 1 MiB / 8 MiB / 64 MiB gave sf10 subset totals
    * 257.2 / 90.4 / 210.1 s (q207 stream-stream RocksDB join 111.7 /
    * 34.5 / 114.4 s; q195 heap twin 86.4 / 16.1 / 25.2 s) and
    * neutral-to-better sf0.1 rows (e.g. q195 3.75 → 3.36 s). Too small a
    * budget multiplies per-store fixed load/commit/fsync cost (hundreds
    * of stores × operators × micro-batches for MB-scale state — a
    * stream-stream join alone keeps four stores per partition); too large
    * starves state-operator parallelism (a 64 MiB budget runs the sf10
    * join on 6 partitions). It meters INPUT bytes, a proxy that
    * overweights input-heavy / state-light streams. */
  val StatePartitionBytes: Long = 8L << 20

  /** Scale-adaptive shuffle/state partition count for a terminal streaming
    * run: one partition per [[StatePartitionBytes]] of input, floored at 1
    * and capped at 16× the session width (the same work-per-slot bound
    * every explicit width in the engine respects). */
  def adaptiveStatePartitions(
      spark: SparkSession, inputPaths: Seq[String]): Seq[(String, String)] = {
    def bytes(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    val total = inputPaths.map(p => bytes(new java.io.File(p))).sum
    val cap = spark.sessionState.conf.numShufflePartitions.toLong * 16
    val n = math.max(1L, math.min(cap, total / StatePartitionBytes + 1))
    Seq("spark.sql.shuffle.partitions" -> n.toString)
  }

  private def runToMemorySinkInner(
      spark: SparkSession, df: DataFrame, outputMode: String): DataFrame = {
    val name = s"graft_stream_run_${runSeq.incrementAndGet()}"
    // Checkpoint on Spark's SCRATCH volume (spark.local.dir — tmpfs in the
    // bench/gate JVMs), not java.io.tmpdir: the state store + commit log
    // fsync every micro-batch, and this checkpoint is TERMINAL (deleted on
    // return, no recovery reader), so durable-disk latency buys nothing. A
    // production stream with a recovery contract checkpoints to durable
    // storage through its own writeStream, not this harness.
    // spark.local.dir legally holds a comma-separated list of volumes —
    // take the first entry, or a naive mkdirs creates (and checkpoints
    // into) a literal directory named "dir1,dir2".
    val scratch = spark.conf.getOption("spark.local.dir")
      .orElse(sys.props.get("spark.local.dir"))
      .map(_.split(",").head.trim).filter(_.nonEmpty)
      .map { d => val f = new java.io.File(d); f.mkdirs(); f.toPath }
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val ckpt = java.nio.file.Files
      .createTempDirectory(scratch, s"graft-ckpt-$name").toString
    // start() itself can throw at analysis time (bad output mode, vanished
    // source path) — that happens BEFORE the cleanup try below is entered,
    // so the fresh checkpoint dir must be reclaimed here or it leaks. The
    // recursive delete matters even here: StreamExecution's constructor
    // can lay down the checkpoint subtree (metadata file) before the
    // manager's own checks throw, and a flat deleteIfExists would no-op
    // on the then-non-empty dir.
    val q =
      try df.writeStream
        .format("memory").queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      catch {
        case e: Throwable =>
          deleteRecursively(ckpt)
          throw e
      }
    try {
      q.awaitTermination()
      // Resolve BEFORE dropping the name: Dataset construction analyzes
      // eagerly, so the returned frame holds the sink relation itself.
      spark.table(name)
    } finally {
      // Runs on success AND failure: a failed stream must not leak its
      // memory-sink catalog entry (start() registers the view immediately)
      // or its checkpoint. Terminal run — the checkpoint has no future
      // reader; best-effort deepest-first delete, walk stream closed
      // (it holds open directory handles until closed).
      try spark.catalog.dropTempView(name)
      catch { case _: Exception => () }
      deleteRecursively(ckpt)
    }
  }

  /** Best-effort deepest-first recursive delete; walk stream closed (it
    * holds open directory handles until closed). */
  private def deleteRecursively(dir: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: Exception => () }
}
