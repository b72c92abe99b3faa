package graft

import org.apache.spark.sql.functions._
import graft.operators.Spatial

class SpatialSpec extends SparkSpec {
  import spark.implicits._

  // Two adjacent unit tiles and one tile with a hole.
  private val square: Seq[Seq[Seq[Double]]] =
    Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(1.0, 1.0), Seq(0.0, 1.0), Seq(0.0, 0.0)))
  private val squareEast: Seq[Seq[Seq[Double]]] =
    Seq(Seq(Seq(1.0, 0.0), Seq(2.0, 0.0), Seq(2.0, 1.0), Seq(1.0, 1.0), Seq(1.0, 0.0)))
  private val donut: Seq[Seq[Seq[Double]]] = Seq(
    Seq(Seq(10.0, 10.0), Seq(14.0, 10.0), Seq(14.0, 14.0), Seq(10.0, 14.0), Seq(10.0, 10.0)),
    Seq(Seq(11.0, 11.0), Seq(13.0, 11.0), Seq(13.0, 13.0), Seq(11.0, 13.0), Seq(11.0, 11.0))
  )

  private def polys = Seq(
    ("west", square), ("east", squareEast), ("donut", donut)
  ).toDF("poly_id", "coords")

  private def points = Seq(
    (1L, 0.5, 0.5),   // inside west
    (2L, 1.5, 0.5),   // inside east
    (3L, 12.0, 12.0), // inside donut's hole → no match
    (4L, 10.5, 12.0), // inside donut ring
    (5L, 5.0, 5.0)    // outside everything
  ).toDF("pt_id", "x", "y")

  test("pointInRings: even-odd rule with holes") {
    assert(Spatial.pointInRings(0.5, 0.5, square))
    assert(!Spatial.pointInRings(1.5, 1.5, square))
    assert(!Spatial.pointInRings(12.0, 12.0, donut), "hole subtracts")
    assert(Spatial.pointInRings(10.5, 12.0, donut))
  }

  test("shared tile border lands in exactly one tile") {
    val w = Spatial.pointInRings(1.0, 0.5, square)
    val e = Spatial.pointInRings(1.0, 0.5, squareEast)
    assert(w ^ e, s"border point in west=$w east=$e — must be exactly one")
  }

  test("containsJoin (broadcast) assigns points to containing polygons") {
    val got = Spatial.containsJoin(points, polys, "x", "y", "coords")
      .select("pt_id", "poly_id").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "west"), (2L, "east"), (4L, "donut")))
  }

  test("bucketedContainsJoin agrees with the broadcast tier") {
    // Besides the tiles above (one bucket each), a triangle and the donut
    // scaled by CellSize: each envelope spans 5 × 5 buckets, and the points
    // sit in different buckets of them — inside, in the hole, and inside
    // the triangle's envelope but outside the triangle.
    val c = Spatial.CellSize
    val tri = Seq(Seq(Seq(0.0, 20.0), Seq(4 * c, 20.0), Seq(0.0, 20.0 + 4 * c), Seq(0.0, 20.0)))
    val bigDonut = donut.map(_.map(_.map(_ * c)))
    val allPolys = polys.union(Seq(("tri", tri), ("bigDonut", bigDonut)).toDF("poly_id", "coords"))
    val allPoints = points.union(Seq(
      (10L, 1.0, 21.0),               // tri, its south-west bucket
      (11L, 3 * c, 20.5),             // tri, three buckets east
      (12L, 0.5, 20.0 + 3.5 * c),     // tri, three buckets north
      (13L, 3.5 * c, 20.0 + 3.5 * c), // tri's envelope, outside tri
      (14L, 10.5 * c, 13.5 * c),      // bigDonut ring, north-west
      (15L, 13.5 * c, 10.5 * c),      // bigDonut ring, south-east
      (16L, 12.0 * c, 12.0 * c)       // bigDonut hole
    ).toDF("pt_id", "x", "y"))
    val broadcastRes = Spatial.containsJoin(allPoints, allPolys, "x", "y", "coords")
      .select("pt_id", "poly_id").as[(Long, String)].collect().toSet
    assert(broadcastRes == Set((1L, "west"), (2L, "east"), (4L, "donut"),
      (10L, "tri"), (11L, "tri"), (12L, "tri"), (14L, "bigDonut"), (15L, "bigDonut")))
    val bucketed = Spatial.bucketedContainsJoin(allPoints, allPolys, "x", "y", "coords")
      .select("pt_id", "poly_id").as[(Long, String)].collect().toSet
    assert(bucketed == broadcastRes)
  }

  test("bucketed join plans an equi-join shuffle, not a cross product") {
    val plan = Spatial.bucketedContainsJoin(points, polys, "x", "y", "coords")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
