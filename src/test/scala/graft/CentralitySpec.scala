package graft

import graft.operators.Centrality

class CentralitySpec extends SparkSpec {
  import spark.implicits._

  /** Independent single-threaded replay of the operator's integer
    * recurrence — plain Scala folds, no Spark — so the distributed result
    * is checked against a second implementation, not against itself. */
  private def replay(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = pairs ++ pairs.map { case (a, b) => (b, a) }
    val deg = adj.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var r: Map[Long, Long] = deg.map { case (n, _) => n -> 1000000000000L }
    for (_ <- 1 to iters) {
      r = adj.groupBy(_._2).map { case (dst, es) =>
        dst -> (150000000000L +
          es.map { case (src, _) => r(src) * 85L / (100L * deg(src)) }.sum)
      }
    }
    r
  }

  private def run(pairs: Seq[(Long, Long)], parts: Int = 1): Map[Long, Long] =
    Centrality.pageRank(
      pairs.toDF("a", "b").repartition(parts), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("star graph: hub dominates, leaves tie, values match the replay exactly") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val got = run(star)
    assert(got(0L) > got(1L))
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got == replay(star, 5))
  }

  test("asymmetric graph matches the replay and is partition-invariant") {
    // triangle 0-1-2 with a tail 2-3-4: strictly ordered centralities
    val g = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L))
    val one = run(g, parts = 1)
    assert(one == replay(g, 5))
    assert(run(g, parts = 7) == one) // integer sums are order-independent
    assert(one(2L) > one(3L) && one(3L) > one(4L))
  }

  private def triangles(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Centrality.triangleCounts(pairs.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  /** Driver-side brute force: every 3-subset of nodes, all edges present. */
  private def bruteTriangles(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = pairs.map { case (a, b) => (a min b, a max b) }.filter(p => p._1 != p._2).toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val tris = for {
      (x, i) <- nodes.zipWithIndex; y <- nodes.drop(i + 1); z <- nodes.dropWhile(_ <= y)
      if es((x, y)) && es((y, z)) && es((x min z, x max z))
    } yield (x, y, z)
    tris.flatMap(t => Seq(t._1, t._2, t._3)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
  }

  test("triangleCounts: K4, star, and triangle-with-tail") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(triangles(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    assert(triangles(star) == Map.empty[Long, Long])
    // triangle 1-2-3 with a tail 3-4: tail node absent from output
    val tail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(triangles(tail) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  /** Distinct a < b pairs without self-loops: kCore's input contract. */
  private def canonical(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.map { case (a, b) => (a min b, a max b) }.filter(p => p._1 != p._2).distinct

  private def kcore(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Centrality.kCore(canonical(pairs).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  /** Nodes 0 until n, each adjacent to every node within `reach` of it. */
  private def band(n: Int, reach: Int): Seq[(Long, Long)] =
    for (i <- 0 until n; j <- i + 1 to math.min(n - 1, i + reach)) yield (i.toLong, j.toLong)

  /** Driver-side peel replay to the fixpoint. */
  private def bruteKCore(pairs: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = canonical(pairs)
    var changed = true
    while (changed) {
      val deg = (es ++ es.map(_.swap)).groupBy(_._1).map { case (n, xs) => n -> xs.size }
      val next = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      changed = next.size != es.size
      es = next
    }
    (es ++ es.map(_.swap)).groupBy(_._1).map { case (n, xs) => n -> xs.size.toLong }
  }

  test("kCore: a clique survives, tails and paths peel, K31 is its own 30-core") {
    val k31 = band(31, 30)
    // K31 on 0..30 with a tail 30-31-32: the 30-core is exactly the clique
    val g = k31 ++ Seq((30L, 31L), (31L, 32L))
    assert(kcore(g) == (0L to 30L).map(_ -> 30L).toMap)
    assert(kcore(k31) == kcore(g))
    // pure path: 30-core empty
    val path = (1L to 8L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(kcore(path) == Map.empty[Long, Long])
  }

  test("kCore matches the driver replay on random graphs and fails loudly past maxIter") {
    val rng = new scala.util.Random(11)
    // 45 nodes, 1700 raw pairs: a 30-core that peels two nodes
    val pairs = (1 to 1700).map(_ => (rng.nextInt(45).toLong, rng.nextInt(45).toLong))
    val want = bruteKCore(pairs, Centrality.CoreK)
    assert(want.nonEmpty && want.size < 45, s"degenerate fixture: core of ${want.size}")
    assert(kcore(pairs) == want)
    // 100 nodes, each adjacent to the 29 on either side: every round peels
    // one node off each end, and the 37 rounds this takes exceed the
    // 30-round budget, which must throw, not return
    val e = intercept[IllegalStateException] { kcore(band(100, 29)) }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("triangleCounts and kCore reject non-integral node ids loudly") {
    val e = Seq(("a", "b")).toDF("x", "y")
    val t = intercept[IllegalArgumentException] { Centrality.triangleCounts(e, "x", "y") }
    assert(t.getMessage.contains("integral"))
    val k = intercept[IllegalArgumentException] { Centrality.kCore(e, "x", "y") }
    assert(k.getMessage.contains("integral"))
  }

  test("triangleCounts: orientation/duplicate-insensitive, matches brute force on random graphs") {
    val rng = new scala.util.Random(7)
    val pairs = (1 to 120).map(_ => (rng.nextInt(15).toLong, rng.nextInt(15).toLong))
    // feed raw (self-loops, dups, both orientations); brute force canonicalizes
    assert(triangles(pairs) == bruteTriangles(pairs))
    val flipped = pairs.map { case (a, b) => (b, a) }
    assert(triangles(pairs ++ flipped) == bruteTriangles(pairs))
  }
}
