package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.lit

import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents
      .components(pairs.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("chain collapses to its minimum (transitivity beyond any single pair)") {
    // 1-2, 2-3, 3-4, 4-5: (1,5) never co-occur in a pair, same cluster anyway.
    val l = labelsOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(l == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("disjoint components keep separate min labels") {
    val l = labelsOf(Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 30L)))
    assert(l == Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("cycle, reversed orientation, and duplicate edges are harmless") {
    val l = labelsOf(Seq((3L, 2L), (2L, 1L), (1L, 3L), (3L, 2L), (2L, 3L)))
    assert(l == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("star already in fixpoint form converges immediately") {
    val l = labelsOf(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    assert(l == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("long path converges within the iteration cap (log-round behavior)") {
    val n = 64L
    val chain = (1L until n).map(i => (i, i + 1))
    val l = labelsOf(chain)
    assert(l.size == n)
    assert(l.values.forall(_ == 1L))
  }

  test("clusterSizes summarizes membership") {
    val labels = ConnectedComponents
      .components(Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b"), "a", "b")
    val sizes = ConnectedComponents.clusterSizes(labels)
      .as[(Long, Long, Long)].collect()
      .map { case (k, n, mx) => k -> ((n, mx)) }.toMap
    assert(sizes == Map(1L -> ((3L, 3L)), 7L -> ((2L, 8L))))
  }

  // ---- driver path vs distributed path

  private def sortedLabels(df: DataFrame): Seq[(Long, Long)] =
    df.as[(Long, Long)].collect().toSeq.sorted

  /** Reference labels: union-find over a map, min id per component. */
  private def minLabels(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
    for ((a, b) <- edges if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(x => x -> find(x)).sorted
  }

  /** A seeded graph over gappy ids: a chain longer than 64 in shuffled id
    * order, a cycle, isolated pairs, bridges merging some of them, then
    * reversed duplicates and self edges (one on a node seen nowhere else). */
  private def randomGraph(seed: Long): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    var next = r.nextInt(1000).toLong
    def fresh(): Long = { next += 1 + r.nextInt(5); next }
    def orient(e: (Long, Long)) = if (r.nextBoolean()) e else e.swap
    val chain = r.shuffle(Seq.fill(65 + r.nextInt(60))(fresh()))
    val cycle = Seq.fill(3 + r.nextInt(12))(fresh())
    val pairs = Seq.fill(5 + r.nextInt(10))((fresh(), fresh()))
    val base = chain.zip(chain.tail) ++ cycle.zip(cycle.tail :+ cycle.head) ++ pairs
    val nodes = (chain ++ cycle ++ pairs.flatMap(p => Seq(p._1, p._2))).toIndexedSeq
    val bridges = Seq.fill(r.nextInt(4))((nodes(r.nextInt(nodes.size)), nodes(r.nextInt(nodes.size))))
    val dups = Seq.fill(10)(base(r.nextInt(base.size)).swap)
    val selfs = Seq.fill(3)(nodes(r.nextInt(nodes.size))).map(x => (x, x)) :+ ((fresh(), next))
    r.shuffle((base ++ bridges).map(orient) ++ dups ++ selfs)
  }

  private def driver(df: DataFrame) = ConnectedComponents.components(df, "a", "b", Long.MaxValue)
  private def distributed(df: DataFrame) = ConnectedComponents.components(df, "a", "b", -1L)

  test("driver union-find and the distributed loop agree on random graphs (seeded)") {
    for (seed <- 1L to 4L) {
      val g = randomGraph(seed)
      val df = g.toDF("a", "b")
      val (d, x) = (driver(df), distributed(df))
      assert(d.schema == x.schema, s"seed $seed")
      val labels = sortedLabels(d)
      assert(labels == minLabels(g), s"seed $seed")
      assert(sortedLabels(x) == labels, s"seed $seed")
    }
  }

  test("driver path keeps the distributed schema for nullable ids; null ends drop the edge") {
    val g = randomGraph(7L).map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None, Some(900000L)), (Some(900001L), None))
    val df = g.toDF("a", "b")
    val (d, x) = (driver(df), distributed(df))
    assert(d.schema == x.schema)
    assert(d.schema.fields.forall(_.nullable))
    assert(sortedLabels(d) == sortedLabels(x))
    assert(!sortedLabels(d).exists(_._1 >= 900000L))
  }

  test("a small graph is labelled on the driver and returned as a local relation") {
    val labels = ConnectedComponents.components(Seq((1L, 2L), (3L, 2L)).toDF("a", "b"), "a", "b")
    assert(labels.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
    assert(sortedLabels(labels) == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    // self edges only: no canonical edge, so both paths return no node
    val selfOnly = Seq((5L, 5L)).toDF("a", "b")
    val (d, x) = (ConnectedComponents.components(selfOnly, "a", "b"), distributed(selfOnly))
    assert(d.isEmpty && x.isEmpty && d.schema == x.schema)
  }

  // ---- Parquet.read schema cache

  test("a rewritten parquet dir is inferred again: a new column shows up") {
    val dir = Files.createTempDirectory("graft-parquet-cache").resolve("t").toString
    Seq(1L, 2L).toDF("id").write.mode("overwrite").parquet(dir)
    assert(Parquet.read(spark, dir).columns.toSeq == Seq("id"))
    assert(Parquet.read(spark, dir).columns.toSeq == Seq("id"))
    Seq(1L, 2L, 3L).toDF("id").withColumn("extra", lit("x"))
      .write.mode("overwrite").parquet(dir)
    val again = Parquet.read(spark, dir)
    assert(again.columns.toSeq == Seq("id", "extra"))
    assert(again.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "x"), (2L, "x"), (3L, "x")))
  }
}
