package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{StreamingHarness, StreamingLeaders, StreamingRollup, StreamingSessionize}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("hourlyWindow aggregates a stream into tumbling hour windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val rolled = StreamingRollup.hourlyWindow(df, "ts", Seq("user_id"), "value")
    val q = rolled.writeStream
      .format("memory")
      .queryName("hourly_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1L, 2.0),
        (Timestamp.valueOf("2024-01-01 10:55:00"), 1L, 3.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), 1L, 7.0),
        (Timestamp.valueOf("2024-01-01 10:15:00"), 2L, 1.0)
      )
      q.processAllAvailable()
      val out = spark.table("hourly_test")
        .collect()
        .map(r => (r.getAs[Timestamp]("hour").toString, r.getAs[Long]("user_id"), r.getAs[Double]("total_value")))
        .toSet
      assert(out == Set(
        ("2024-01-01 10:00:00.0", 1L, 5.0),
        ("2024-01-01 11:00:00.0", 1L, 7.0),
        ("2024-01-01 10:00:00.0", 2L, 1.0)
      ))
    } finally q.stop()
  }

  test("file stream processes chronological day-files one micro-batch each, accumulating to batch") {
    // The reference's incremental shape (src/etl.py:102-109): day-files
    // arrive in chronological order and each loads exactly once. Here the
    // engine's own file source + checkpoint replaces the count-guard:
    // three day parquet files, maxFilesPerTrigger=1 forces one micro-batch
    // per file (state carries across batches, the watermark advances
    // between them), and the terminal complete-mode result must equal the
    // one-shot batch aggregation of all three days.
    val dir = java.nio.file.Files.createTempDirectory("graft-dayfiles").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dayfiles-ckpt").toString
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    val all = days.zipWithIndex.flatMap { case (day, d) =>
      (0 until 48).map { i =>
        (Timestamp.valueOf(s"$day ${"%02d".format(i / 2)}:${"%02d".format((i % 2) * 30)}:00"),
          (i % 5).toLong, (d * 100 + i).toDouble)
      }
    }
    days.zipWithIndex.foreach { case (day, d) =>
      all.filter(_._1.toString.startsWith(day)).toDF("ts", "user_id", "value")
        .coalesce(1).write.parquet(s"$dir/day_$d")
    }
    val schema = spark.read.parquet(s"$dir/day_0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false") // chronological, like the reference
      .parquet(s"$dir/day_*")
    val rolled = StreamingRollup.hourlyWindow(stream, "ts", Seq("user_id"), "value")
    val q = rolled.writeStream
      .format("memory").queryName("dayfile_test")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // one micro-batch per file
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        q.recentProgress.map(_.numInputRows).mkString(","))
      val streamed = spark.table("dayfile_test")
        .collect()
        .map(r => (r.getAs[Timestamp]("hour"), r.getAs[Long]("user_id"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
      val batch = StreamingRollup
        .hourlyWindow(all.toDF("ts", "user_id", "value"), "ts", Seq("user_id"), "value")
        .collect()
        .map(r => (r.getAs[Timestamp]("hour"), r.getAs[Long]("user_id"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
      assert(streamed == batch)
      // 2 half-hour slots per hour → 2 distinct users per hour-window
      assert(streamed.size == 3 * 24 * 2)
    } finally q.stop()
  }

  test("built-in session_window groups by event-time gap on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val sessions = StreamingRollup.sessionWindow(df, "ts", Seq("user_id"), gap = "30 minutes")
    val q = sessions.writeStream
      .format("memory")
      .queryName("session_window_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 10:10:00"), 1L), // same session (gap 10m)
        (Timestamp.valueOf("2024-01-01 11:30:00"), 1L), // new session (gap 80m)
        (Timestamp.valueOf("2024-01-01 10:05:00"), 2L)
      )
      q.processAllAvailable()
      val out = spark.table("session_window_test")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start").toString,
          r.getAs[Long]("n_events")))
        .toSet
      assert(out == Set(
        (1L, "2024-01-01 10:00:00.0", 2L),
        (1L, "2024-01-01 11:30:00.0", 1L),
        (2L, "2024-01-01 10:05:00.0", 1L)
      ))
    } finally q.stop()
  }

  test("stateful sessionize closes sessions on in-batch gaps and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "0 seconds")
      .as[StreamingSessionize.Event]
    val sessions = StreamingSessionize.sessions(events) // 30-min gap
    val q = sessions.writeStream
      .format("memory")
      .queryName("sessions_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: user 1 has two events 10 min apart (one session), then a
      // 2-hour gap inside the SAME batch closes it and opens a second
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        (1L, Timestamp.valueOf("2024-01-01 10:10:00"), 2.0),
        (1L, Timestamp.valueOf("2024-01-01 12:10:00"), 5.0),
        (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 9.0)
      )
      q.processAllAvailable()
      // batch 2: watermark advances far past every open session's deadline
      // → the remaining open sessions time out and emit
      input.addData((3L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      input.addData((3L, Timestamp.valueOf("2024-01-03 00:00:00"), 0.0))
      q.processAllAvailable()
      val out = spark.table("sessions_test")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start").toString,
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
        .toSet
      assert(out.contains((1L, "2024-01-01 10:00:00.0", 2L, 3.0)), s"in-batch gap close missing: $out")
      assert(out.contains((1L, "2024-01-01 12:10:00.0", 1L, 5.0)), s"timeout close missing: $out")
      assert(out.contains((2L, "2024-01-01 10:00:00.0", 1L, 9.0)), s"user-2 close missing: $out")
    } finally q.stop()
  }

  test("sessionsFileStream: real engine emits gap-closed + timed-out sessions, retains the live tail") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess-stream").toString
    try {
      Seq(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        (1L, Timestamp.valueOf("2024-01-01 10:10:00"), 2.0),
        (1L, Timestamp.valueOf("2024-01-01 12:10:00"), 5.0), // user 1's final session
        (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 9.0), // user 2's only session
        (3L, Timestamp.valueOf("2024-01-01 23:59:00"), 4.0)  // live tail: within gap of max
      ).toDF("user_id", "ts", "value")
        .repartition(1).write.parquet(s"$tmp/events.parquet")
      val out = StreamingSessionize
        .sessionsFileStream(spark, s"$tmp/events.parquet")
        .collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("session_start").toString, r.getAs[Long]("n_events")))
        .toSet
      // Watermark drains to 23:59; user 1's 12:10 and user 2's 10:00
      // sessions have deadlines 12:40 / 10:30 < 23:59 → timeout-emitted;
      // user 3's deadline is 00:29 next day → stays open in state, exactly
      // as on a live feed. User 1's first session closed on the in-data gap.
      assert(out == Set(
        (1L, "2024-01-01 10:00:00.0", 2L),
        (1L, "2024-01-01 12:10:00.0", 1L),
        (2L, "2024-01-01 10:00:00.0", 1L)), s"got: $out")
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(tmp)
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  test("dedupStream drops repeated content within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    val deduped = graft.streaming.StreamingDedup.dedupStream(docs, "ts", "text", horizon = "1 hour")
    val q = deduped.writeStream
      .format("memory")
      .queryName("dedup_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "alpha doc"),
        (Timestamp.valueOf("2024-01-01 10:01:00"), "  Alpha   DOC "), // same normalized content
        (Timestamp.valueOf("2024-01-01 10:05:00"), "beta doc")
      )
      q.processAllAvailable()
      // second batch: an exact re-post within the horizon is dropped, new
      // content passes
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:20:00"), "alpha doc"),
        (Timestamp.valueOf("2024-01-01 10:30:00"), "gamma doc")
      )
      q.processAllAvailable()
      val out = spark.table("dedup_test")
        .collect().map(_.getAs[String]("text")).toSeq.sorted
      assert(out.map(_.trim.toLowerCase.replaceAll("\\s+", " ")).sorted ==
        Seq("alpha doc", "beta doc", "gamma doc"))
    } finally q.stop()
  }

  test("dedupFileStreamRocksDb: identical fingerprint set to the default provider; confs restored") {
    // VERDICT r11 #3: the RocksDB state store is the 100 TB state-size
    // backend — same query, same output, only the backend differs. The
    // provider conf must also be RESTORED after the run (it is session-
    // global; a leak would silently flip every later streaming query's
    // backend).
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val viaDefault = graft.streaming.StreamingDedup
      .dedupFileStream(spark, docs).collect().map(_.getString(0)).toSet
    val viaRocks = graft.streaming.StreamingDedup
      .dedupFileStreamRocksDb(spark, docs).collect().map(_.getString(0)).toSet
    assert(viaRocks == viaDefault && viaRocks.nonEmpty)
    assert(spark.conf.getOption(key) == before)
    // Equal outputs alone cannot prove the provider conf APPLIED (a
    // mistyped key would silently leave the default provider running and
    // the parity above would still hold). Pin the conf path: the SAME
    // key list the twin uses (StreamingDedup.RocksDbConfs), with only the
    // provider class swapped for a bogus name, must FAIL a stateful
    // stream — Spark honoring the key is what produces the error.
    val bogus = graft.streaming.StreamingDedup.RocksDbConfs.map {
      case (k, _) if k == key => k -> "graft.DoesNotExistProvider"
      case kv => kv
    }
    val priorVals = bogus.map { case (k, _) => k -> spark.conf.getOption(k) }
    bogus.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Timestamp, String)]
      val failing = graft.streaming.StreamingDedup
        .dedupStream(input.toDF().toDF("ts", "text"), "ts", "text")
      val boom = intercept[Exception] {
        val q = failing.writeStream.format("memory")
          .queryName("rocksdb_bogus_test")
          .outputMode(OutputMode.Append()).start()
        try {
          input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), "doc"))
          q.processAllAvailable()
        } finally q.stop()
      }
      val chain = Iterator.iterate[Throwable](boom)(_.getCause)
        .takeWhile(_ != null).map(_.toString).mkString(" | ")
      assert(chain.contains("DoesNotExist"), s"unexpected failure: $chain")
    } finally priorVals.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("intervalJoin matches within the band and not outside it") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val joined = graft.streaming.StreamingJoin.intervalJoin(
      clicks.toDF().toDF("user_id", "cts"),
      buys.toDF().toDF("user_id", "bts"),
      "user_id", "cts", "bts", band = "1 hour", watermark = "2 hours")
    val q = joined.select(col("l.user_id"), col("cts"), col("bts"))
      .writeStream.format("memory").queryName("ij_test")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")))
      buys.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:30:00")), // inside the band
        (1L, Timestamp.valueOf("2024-01-01 12:30:00")), // outside (> 1h after)
        (1L, Timestamp.valueOf("2024-01-01 09:30:00")), // before the click
        (2L, Timestamp.valueOf("2024-01-01 10:30:00"))) // wrong key
      q.processAllAvailable()
      val out = spark.table("ij_test")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("bts").toString)).toSet
      assert(out == Set((1L, "2024-01-01 10:30:00.0")))
    } finally q.stop()
  }

  test("runningDistinct matches the batch HLL sketch on the same events") {
    import graft.streaming.StreamingDistinct
    import graft.streaming.StreamingDistinct.KeyedValue
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedValue]
    val est = StreamingDistinct.runningDistinct(input.toDS())
    val q = est.writeStream
      .format("memory").queryName("hll_stream_test")
      .outputMode(OutputMode.Update()).start()
    try {
      val t = Timestamp.valueOf("2024-01-01 10:00:00")
      val batch1 = (1 to 400).map(i => KeyedValue("g", (i * 7919).toLong, t))
      val batch2 = (300 to 700).map(i => KeyedValue("g", (i * 7919).toLong, t))
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // latest update row carries the estimate over BOTH batches
      val streamed = spark.table("hll_stream_test")
        .orderBy(col("n_events").desc).limit(1)
        .collect().map(r => (r.getAs[Double]("est_distinct"), r.getAs[Long]("n_events"))).head
      assert(streamed._2 == batch1.size + batch2.size)
      // the streaming registers obey the same math as the batch sketch:
      // estimates are bit-identical for the same key multiset
      val batchEst = graft.operators.Sketches
        .hllDistinct((batch1 ++ batch2).map(e => ("g", e.key)).toDF("g", "k"),
          Seq("g"), col("k"))
        .select("est_distinct").as[Double].head()
      assert(streamed._1 == batchEst)
    } finally q.stop()
  }

  test("runningDistinctFileStream (real engine, state store) equals the batch sketch") {
    import graft.streaming.StreamingDistinct
    // Multi-FILE input: each group's registers must round-trip through the
    // checkpointed state store between whatever micro-batches the engine
    // forms, and the terminal-row selection must still land on the final
    // estimate.
    val dir = java.nio.file.Files.createTempDirectory("graft-rdfs").toString
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val rows = (1 to 500).map(i => (i.toLong % 97, if (i % 2 == 0) "a" else "b", t, i * 1.0))
    val df = rows.toDF("user_id", "event_type", "ts", "value")
    // two part-files directly under the source dir (no nested dirs — the
    // streaming file source does not recurse by default)
    df.repartitionByRange(2, $"user_id").write.parquet(s"$dir/events")
    val got = StreamingDistinct.runningDistinctFileStream(spark, s"$dir/events")
      .select("group", "est_distinct", "n_events")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    val want = graft.operators.Sketches
      .hllDistinct(df.select($"event_type".as("g"), $"user_id".as("k")), Seq("g"), col("k"))
      .join(df.groupBy($"event_type".as("g")).count(), Seq("g"))
      .select("g", "est_distinct", "count")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("intervalJoinFileStream (real engine, join state store) equals the batch join") {
    // Multi-FILE input split so probes and their matches land in DIFFERENT
    // part-files: the pair can only form if the earlier side's row
    // survived in the checkpointed join state until the later batch.
    val dir = java.nio.file.Files.createTempDirectory("graft-ijfs").toString
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val rows = (0 until 200).map { i =>
      (i.toLong, i.toLong % 7, new Timestamp(base + i * 60000L), "e", 1.0)
    }
    val df = rows.toDF("event_id", "user_id", "ts", "event_type", "value")
    // range-split on event_id: all probe rows (id % 10 == 0) scatter across
    // both files, and a probe's in-band matches (ids within the next 60)
    // frequently sit in the other file
    df.repartitionByRange(2, $"event_id").write.parquet(s"$dir/events")
    val got = graft.streaming.StreamingJoin
      .intervalJoinFileStream(spark, s"$dir/events")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = df.as("l").join(df.as("r"),
        col("l.event_id") % 10 === 0 &&
          col("r.user_id") === col("l.user_id") &&
          col("r.ts") >= col("l.ts") &&
          col("r.ts") <= col("l.ts") + org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR"))
      .select(col("l.event_id"), col("r.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(want.nonEmpty && got.toSeq == want.toSeq)
  }

  test("RocksDB twins: join state and custom state equal the default provider; confs restored") {
    // VERDICT r12 missing #2: q206 certified RocksDB only for the
    // smallest state shape (fingerprint dedup). These are the heavy
    // shapes — two-sided join buffers and encoder-serialized custom
    // state — on the same backend. Parity against the default-provider
    // run is the value check; the conf-path pin (a bogus provider class
    // on the same key must FAIL a stateful stream) lives in the
    // dedupFileStreamRocksDb test above and covers the shared key list.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)

    val dir = java.nio.file.Files.createTempDirectory("graft-rocks-twin").toString
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val rows = (0 until 200).map { i =>
      (i.toLong, i.toLong % 7, new Timestamp(base + i * 60000L), "e", 1.0)
    }
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .repartitionByRange(2, $"event_id").write.parquet(s"$dir/events")

    val joinDefault = graft.streaming.StreamingJoin
      .intervalJoinFileStream(spark, s"$dir/events")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val joinRocks = graft.streaming.StreamingJoin
      .intervalJoinFileStreamRocksDb(spark, s"$dir/events")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(joinDefault.nonEmpty && joinRocks.toSeq == joinDefault.toSeq)

    // Custom state needs IN-DATA gaps to emit sessions (the synthetic
    // 1-min-spaced fixture above would keep every session open) — use the
    // real harness events table, the exact source the q174 gate runs.
    val ev = "/root/testdata/sf0.001/events.parquet"
    def sessionRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (
        r.getAs[Long]("user_id"),
        r.getAs[Timestamp]("session_start").getTime,
        r.getAs[Timestamp]("session_end").getTime,
        r.getAs[Long]("n_events"))).sorted
    val sessDefault = sessionRows(StreamingSessionize.sessionsFileStream(spark, ev))
    val sessRocks = sessionRows(StreamingSessionize.sessionsFileStreamRocksDb(spark, ev))
    assert(sessDefault.nonEmpty && sessRocks.toSeq == sessDefault.toSeq)

    assert(spark.conf.getOption(key) == before)
  }

  test("streaming transition edges accumulate to the batch matrix") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Event
    val input = MemoryStream[Event]
    val edges = graft.streaming.StreamingTransitions.edges(
      input.toDS().withWatermark("ts", "1 hour").as[Event])
    val q = edges.writeStream
      .format("memory")
      .queryName("transitions_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // same fixture as FunnelSpec's transitions test, delivered in
      // event-time order across two micro-batches (u2's same-timestamp
      // pair arrives inside ONE batch so the event_id tiebreak decides)
      input.addData(
        Event(1L, 1L, "view", Timestamp.valueOf("2024-01-01 10:00:00")),
        Event(1L, 2L, "click", Timestamp.valueOf("2024-01-01 11:00:00")),
        Event(2L, 6L, "click", Timestamp.valueOf("2024-01-02 10:00:00")),
        Event(2L, 5L, "view", Timestamp.valueOf("2024-01-02 10:00:00")))
      q.processAllAvailable()
      input.addData(
        Event(1L, 3L, "purchase", Timestamp.valueOf("2024-01-01 12:00:00")),
        Event(2L, 7L, "view", Timestamp.valueOf("2024-01-02 11:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("transitions_test")
        .groupBy("from_type", "to_type").count()
        .collect()
        .map(r => ((r.getAs[String]("from_type"), r.getAs[String]("to_type")),
          r.getAs[Long]("count"))).toMap
      val batchEv = Seq(
        (1L, 1L, "view", Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, 1L, "click", Timestamp.valueOf("2024-01-01 11:00:00")),
        (3L, 1L, "purchase", Timestamp.valueOf("2024-01-01 12:00:00")),
        (5L, 2L, "view", Timestamp.valueOf("2024-01-02 10:00:00")),
        (6L, 2L, "click", Timestamp.valueOf("2024-01-02 10:00:00")),
        (7L, 2L, "view", Timestamp.valueOf("2024-01-02 11:00:00"))
      ).toDF("event_id", "user_id", "event_type", "ts")
      val batch = graft.operators.Funnel
        .transitions(batchEv, "user_id", "event_type", "ts", "event_id")
        .collect()
        .map(r => ((r.getAs[String]("from_type"), r.getAs[String]("to_type")),
          r.getAs[Long]("n_transitions"))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming throttle admits the batch twin's set under ordered delivery") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{Event, StreamingThrottle}
    val input = MemoryStream[Event]
    val out = StreamingThrottle.throttled(input.toDS())
    val q = out.writeStream
      .format("memory")
      .queryName("throttle_test")
      .outputMode(OutputMode.Append())
      .start()
    def at(h: Int, day: Int = 1) = Timestamp.valueOf(f"2024-01-0$day%d $h%02d:00:00")
    // u1: 25 events, past both quotas, delivered over two batches; u2: a
    // same-ts run decided by event_id, then one more over the stream quota
    val u1 = (1 to 25).map(i => Event(1L, i.toLong, "a", at((i - 1) % 24, day = 1 + (i - 1) / 24)))
    val u2 = Seq(Event(2L, 36L, "a", at(10, 2)), Event(2L, 35L, "b", at(10, 2)),
      Event(2L, 34L, "a", at(10, 2)), Event(2L, 33L, "b", at(10, 2)),
      Event(2L, 32L, "a", at(10, 2)), Event(2L, 37L, "c", at(11, 2)))
    try {
      input.addData(u1.take(3) ++ u2.take(4): _*)
      q.processAllAvailable()
      input.addData(u1.drop(3) ++ u2.drop(4): _*) // u1's 6th on and u2's 37 are over quota
      q.processAllAvailable()
      val streamed = spark.table("throttle_test")
        .select("event_id").as[Long].collect().toSet
      assert(streamed == Set(1L, 2L, 3L, 4L, 5L, 32L, 33L, 34L, 35L, 36L))
      // the batch twin keeps its longer (ts, event_id) prefix; the stream
      // admitted exactly the first StreamQuota of it per user
      val batch = StreamingThrottle.throttleBatch((u1 ++ u2).toDF())
        .select("user_id", "ts", "event_id").as[(Long, Timestamp, Long)].collect()
      assert(batch.count(_._1 == 1L) == StreamingThrottle.AuditQuota)
      val prefix = batch.groupBy(_._1).values
        .flatMap(_.sortBy(r => (r._2.getTime, r._3)).take(StreamingThrottle.StreamQuota))
        .map(_._3).toSet
      assert(streamed == prefix)
    } finally q.stop()
  }

  test("streaming funnel reaches the batch funnel's steps at the same times") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Event
    val input = MemoryStream[Event]
    val out = graft.streaming.StreamingFunnel.stepsReached(
      input.toDS(), Seq("view", "click", "purchase"))
    val q = out.writeStream
      .format("memory")
      .queryName("funnel_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // u1 converts fully; u2's click is NOT strictly after the view
      // (same timestamp, id order) so conversion stops at step 1; u3
      // clicks without ever viewing → reaches nothing
      input.addData(
        Event(1L, 1L, "view", Timestamp.valueOf("2024-01-01 10:00:00")),
        Event(2L, 5L, "view", Timestamp.valueOf("2024-01-02 10:00:00")),
        Event(2L, 6L, "click", Timestamp.valueOf("2024-01-02 10:00:00")),
        Event(3L, 9L, "click", Timestamp.valueOf("2024-01-03 10:00:00")))
      q.processAllAvailable()
      input.addData(
        Event(1L, 2L, "click", Timestamp.valueOf("2024-01-01 11:00:00")),
        Event(1L, 3L, "purchase", Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("funnel_test")
        .collect()
        .map(r => ((r.getAs[Long]("user_id"), r.getAs[Int]("step")),
          r.getAs[Timestamp]("ts"))).toMap
      val batchEv = Seq(
        (1L, 1L, "view", Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, 1L, "click", Timestamp.valueOf("2024-01-01 11:00:00")),
        (3L, 1L, "purchase", Timestamp.valueOf("2024-01-01 12:00:00")),
        (5L, 2L, "view", Timestamp.valueOf("2024-01-02 10:00:00")),
        (6L, 2L, "click", Timestamp.valueOf("2024-01-02 10:00:00")),
        (9L, 3L, "click", Timestamp.valueOf("2024-01-03 10:00:00"))
      ).toDF("event_id", "user_id", "event_type", "ts")
      val batch = graft.operators.Funnel
        .userSteps(batchEv, "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .collect()
        .flatMap { r =>
          val uid = r.getAs[Long]("user_id")
          (1 to 3).flatMap(i =>
            Option(r.getAs[Timestamp](s"t$i")).map(t => ((uid, i), t)))
        }.toMap
      assert(streamed == batch)
      assert(!streamed.keySet.exists(_._1 == 3L)) // u3 reached nothing
    } finally q.stop()
  }

  test("streaming throttle quota does not re-open once exhausted") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Event
    val input = MemoryStream[Event]
    val out = graft.streaming.StreamingThrottle.throttled(input.toDS())
    val q = out.writeStream
      .format("memory")
      .queryName("throttle_reopen_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // the first batch exhausts the quota of 5 and overshoots it by one
      input.addData((1 to 6).map(i =>
        Event(1L, i.toLong, "a", Timestamp.valueOf(f"2024-01-01 1$i%d:00:00"))): _*)
      q.processAllAvailable()
      input.addData(Event(1L, 7L, "c", Timestamp.valueOf("2024-01-01 18:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("throttle_reopen_test")
        .select("event_id").as[Long].collect().toSet
      assert(streamed == (1L to 5L).toSet)
    } finally q.stop()
  }

  test("topKLeaders keeps a bounded per-group leaderboard across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double, Long)]
    val leaders = StreamingLeaders.topKLeaders(
      input.toDF().toDF("g", "v", "id"), Seq("g"), $"v", $"id")
    val q = leaders.writeStream
      .format("memory").queryName("leaders_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(("a", 1.0, 1L), ("a", 5.0, 2L), ("a", 0.5, 6L), ("b", 7.0, 3L))
      q.processAllAvailable()
      val r1 = spark.table("leaders_test").orderBy("g", "rnk")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      assert(r1 == Seq(("a", 1L, 5.0, 2L), ("a", 2L, 1.0, 1L), ("a", 3L, 0.5, 6L), ("b", 1L, 7.0, 3L)))
      // a later batch evicts a leader — state carried the old heap over
      input.addData(("a", 9.0, 4L), ("a", 6.0, 5L))
      q.processAllAvailable()
      val r2 = spark.table("leaders_test").orderBy("g", "rnk")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      assert(r2 == Seq(("a", 1L, 9.0, 4L), ("a", 2L, 6.0, 5L), ("a", 3L, 5.0, 2L), ("b", 1L, 7.0, 3L)))
    } finally q.stop()
  }

  test("state partitions: one per 8 MiB of input, at least 1, at most 16x the session width") {
    val dir = java.nio.file.Files.createTempDirectory("graft-state-parts")
    // Sparse files: the sizing reads lengths only, so nothing is written.
    def sized(name: String, bytes: Long): String = {
      val f = dir.resolve(name).toFile
      f.getParentFile.mkdirs()
      val raf = new java.io.RandomAccessFile(f, "rw")
      try raf.setLength(bytes) finally raf.close()
      f.getPath
    }
    def parts(paths: String*): Int =
      StreamingHarness.adaptiveStatePartitions(spark, paths).toMap
        .apply("spark.sql.shuffle.partitions").toInt
    val per = StreamingHarness.StatePartitionBytes
    assert(per == 8L << 20)
    val width = spark.sessionState.conf.numShufflePartitions
    try {
      assert(parts(sized("small.parquet", 2048L)) == 1)
      // a directory counts every file under it
      sized("three/a.parquet", 3 * per)
      sized("three/b.parquet", 1L)
      assert(parts(dir.resolve("three").toString) == 4)
      assert(parts(sized("huge.parquet", (16L * width + 5) * per)) == 16 * width)
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }
}
