package graft

import org.apache.spark.sql.functions._

import graft.operators.{Chunking, Packing}

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("packOffsets: offsets are a per-shard prefix sum in id order") {
    // ids 2, 4, 5, 8, 10 all hash to shard 2 of 4
    val docs = Seq((2L, 10L), (4L, 5L), (5L, 7L), (8L, 2040L), (10L, 2100L))
      .toDF("doc_id", "n")
    val out = Packing
      .packOffsets(docs, "doc_id", col("n"))
      .orderBy("doc_id")
      .select("shard", "doc_id", "start_tok", "first_window", "last_window", "spans_boundary")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    // one shard: layout is pure id order
    assert(out.map(_._1).toSet == Set(2L))
    assert(out.map(_._3) == Seq(0L, 10L, 15L, 22L, 2062L))
    // doc 8: tokens [22, 2062) crosses the 2048 boundary → windows 0..1
    assert(out(3).productIterator.toSeq.drop(1) == Seq(8L, 22L, 0L, 1L, true))
    // doc 10: tokens [2062, 4162) crosses the 4096 boundary → windows 1..2
    assert(out(4).productIterator.toSeq.drop(1) == Seq(10L, 2062L, 1L, 2L, true))
  }

  test("packOffsets: zero-token docs occupy no space and never span") {
    val docs = Seq((1L, 0L), (2L, 3L)).toDF("doc_id", "n")
    val out = Packing
      .packOffsets(docs, "doc_id", col("n"))
      .orderBy("doc_id")
      .select("start_tok", "spans_boundary")
      .as[(Long, Boolean)].collect().toSeq
    assert(out == Seq((0L, false), (0L, false)))
  }

  test("withShard: deterministic, in range, and independent of partitioning") {
    val ids = (0L until 256L).toDF("doc_id")
    val a = Packing.withShard(ids, "doc_id", 8).select("doc_id", "shard")
    val b = Packing.withShard(ids.repartition(7), "doc_id", 8).select("doc_id", "shard")
    assert(a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      b.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(a.agg(min("shard"), max("shard")).as[(Long, Long)].head() == ((0L, 7L)))
  }

  test("chunkWindows: window/stride tiling with a short tail") {
    // 70 tokens, window 32, stride 24 → 1 + ceil((70-32)/24) = 3 chunks
    // at starts 0,24,48; the last one is the 22-token tail
    val text = (1 to 70).map(i => s"t$i").mkString(" ")
    val out = Chunking
      .chunkWindows(Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("chunk_idx")
      .select("chunk_idx", "start_tok", "n_chunk_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L, 32L), (1L, 24L, 32L), (2L, 48L, 22L)))
  }

  test("chunkWindows: doc shorter than one window is a single short chunk") {
    val out = Chunking
      .chunkWindows(Seq((1L, "a b c")).toDF("doc_id", "text"), "doc_id", "text")
      .select("chunk_idx", "start_tok", "n_chunk_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L, 3L)))
  }

  test("chunkWindows: empty doc yields no chunks") {
    val out = Chunking
      .chunkWindows(Seq((1L, "   ")).toDF("doc_id", "text"), "doc_id", "text")
      .count()
    assert(out == 0L)
  }

  test("chunkWindows: fingerprints identify identical windows across docs") {
    val docs = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    val fps = Chunking.chunkWindows(docs, "doc_id", "text")
      .select("chunk_fp").as[String].collect().toSeq
    assert(fps.distinct.size == 1)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("contentDefinedChunks: chunks tile the token stream contiguously") {
    val text = (1 to 200).map(i => s"tok$i").mkString(" ")
    val out = Chunking
      .contentDefinedChunks(Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("chunk_idx")
      .select("chunk_idx", "start_tok", "n_chunk_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.head._2 == 0L)
    assert(out.map(_._3).sum == 200L)
    out.sliding(2).foreach {
      case Seq(a, b) => assert(b._2 == a._2 + a._3)
      case _ =>
    }
    assert(out.map(_._1) == (1L to out.size.toLong))
  }

  test("contentDefinedChunks: boundaries and fingerprints replay the md5 gear") {
    val toks = (1 to 100).map(i => s"w$i")
    val expStarts = 1 +: (2 to 100).filter(p => md5hex(toks(p - 1)).last == '0')
    // the fixed token set MUST exercise at least one content boundary for
    // the replay to be meaningful (it does: gear rate is 1/16 per token)
    assert(expStarts.size > 1)
    val expFps = expStarts.zipWithIndex.map { case (s0, i) =>
      val e = if (i + 1 < expStarts.size) expStarts(i + 1) else 101
      md5hex(toks.slice(s0 - 1, e - 1).mkString(" "))
    }
    val got = Chunking
      .contentDefinedChunks(
        Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("chunk_idx")
      .select("start_tok", "chunk_fp").as[(Long, String)].collect().toSeq
    assert(got.map(_._1) == expStarts.map(s0 => (s0 - 1).toLong))
    assert(got.map(_._2) == expFps)
  }

  test("contentDefinedChunks: chunk identity survives a prefix edit") {
    // the CDC property fixed windows lack: inserting tokens at the front
    // shifts every offset, but only the position-1-anchored head chunk can
    // change identity — every gear-anchored chunk reappears bit-identical
    val base = (1 to 120).map(i => s"s$i").mkString(" ")
    def fps(text: String): Seq[String] = Chunking
      .contentDefinedChunks(Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("chunk_idx").select("chunk_fp").as[String].collect().toSeq
    val fa = fps(base)
    val fb = fps("pre1 pre2 pre3 " + base)
    assert(fa.size > 1) // the fixture must have a gear boundary to test anything
    assert(fa.toSet.diff(fb.toSet).subsetOf(Set(fa.head)))
    assert(fa.tail.forall(fb.contains))
  }

  test("paddingWaste: exact pad-to-seqLen accounting, zero-token docs cost nothing") {
    val d = Seq(
      ("web", 100L), ("web", 512L), ("web", 513L), // pads: 512, 512, 1024
      ("books", 0L), ("books", 1L)                 // pads: 0, 512
    ).toDF("source", "n")
    val out = graft.operators.Packing.paddingWaste(d, "source", col("n"))
      .orderBy("source")
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("total_tokens"), r.getAs[Long]("padded_tokens"),
        r.getAs[Double]("waste_frac")))
    assert(out.toSeq == Seq(
      ("books", 2L, 1L, 512L, 511.0 / 512.0),
      ("web", 3L, 1125L, 2048L, 923.0 / 2048.0)))
  }

  test("paddingWaste: an all-empty group reports zero waste, not NaN") {
    val d = Seq(("empty", 0L)).toDF("source", "n")
    val out = graft.operators.Packing.paddingWaste(d, "source", col("n"))
      .select("waste_frac").as[Double].head()
    assert(out == 0.0)
  }

  test("contentDefinedChunks: empty docs yield no chunks") {
    val out = Chunking
      .contentDefinedChunks(Seq((1L, "   "), (2L, "")).toDF("doc_id", "text"),
        "doc_id", "text")
      .count()
    assert(out == 0L)
  }
}
