package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions

/** J5 — spatial containment join (SURVEY.md §2.6): which polygon contains
  * each point. The reference holds this capability as a PostGIS GIST index
  * (reference `src/database.py:114`) and never runs the join in code; we
  * make it an explicit operator with two physical tiers:
  *
  *  - [[containsJoin]]: broadcast the polygon side (dims here are 110
  *    provinces / 10k cells) and evaluate a cheap bounds-box pre-filter
  *    (codegen'd comparisons — the poor-man's GIST) before the exact
  *    even-odd test. Map-only, no shuffle.
  *  - [[bucketedContainsJoin]]: both sides large → overlay a fixed grid,
  *    explode each polygon to the buckets its envelope covers, map each
  *    point to its single bucket, equi-join on the bucket key (one hash
  *    shuffle, AQE-skew-splittable), then the exact test. This is the
  *    shape that survives 100 TB: shuffle volume is points + polygons ×
  *    avg-covered-buckets, never the cross product.
  *
  * Polygons are GeoJSON-shaped `array<array<array<double>>>` (rings ×
  * points × [x,y]; ring 0 outer, rest holes). Containment is the even-odd
  * (ray-casting) rule over all rings, so holes subtract naturally.
  */
object Spatial {

  /** Side of [[bucketedContainsJoin]]'s square buckets, in coordinate units. */
  final val CellSize = 8.0

  /** Even-odd point-in-polygon over rings. Boundary points follow the
    * half-open edge convention (stable for adjacent tiles: a shared border
    * lands in exactly one tile). */
  def pointInRings(x: Double, y: Double, rings: Seq[Seq[Seq[Double]]]): Boolean = {
    var inside = false
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      var i = 0
      var j = ring.length - 1
      while (i < ring.length) {
        val xi = ring(i)(0); val yi = ring(i)(1)
        val xj = ring(j)(0); val yj = ring(j)(1)
        if ((yi > y) != (yj > y) &&
          x < (xj - xi) * (y - yi) / (yj - yi) + xi) inside = !inside
        j = i
        i += 1
      }
      r += 1
    }
    inside
  }

  val pointInPolygonUdf: UserDefinedFunction =
    udf { (x: Double, y: Double, rings: Seq[Seq[Seq[Double]]]) => pointInRings(x, y, rings) }

  /** Broadcast containment join.
    *
    * @param points (pointId, x, y) via the given column names
    * @param polygons polygon side; `coordsCol` holds the rings array
    * @return points joined with polygon rows that contain them (inner)
    */
  def containsJoin(
      points: DataFrame,
      polygons: DataFrame,
      xCol: String,
      yCol: String,
      coordsCol: String
  ): DataFrame = {
    val withBounds = polygons.withColumn("_b", GeoFunctions.polygonBounds(col(coordsCol)))
    val x = col(xCol); val y = col(yCol)
    points.join(
      broadcast(withBounds),
      x >= col("_b.minx") && x <= col("_b.maxx") &&
        y >= col("_b.miny") && y <= col("_b.maxy") &&
        pointInPolygonUdf(x, y, col(coordsCol))
    ).drop("_b")
  }

  /** Grid bucket id of a coordinate, cells [[CellSize]] wide. */
  private def bucket(c: Column): Column = floor(c / CellSize).cast("long")

  /** Shuffle-based containment join for big-big inputs: equi-join on a
    * grid-bucket key. [[CellSize]] should approximate the median polygon
    * envelope edge — too small explodes the polygon side, too large
    * degrades to envelope-only filtering.
    */
  def bucketedContainsJoin(
      points: DataFrame,
      polygons: DataFrame,
      xCol: String,
      yCol: String,
      coordsCol: String
  ): DataFrame = {
    val withBounds = polygons.withColumn("_b", GeoFunctions.polygonBounds(col(coordsCol)))
    // Explode each polygon to every bucket its envelope overlaps; sequence()
    // stays columnar (no UDF) and the count per polygon is
    // ceil(width/cell) × ceil(height/cell).
    val polyBuckets = withBounds
      .withColumn("_bx", explode(sequence(bucket(col("_b.minx")), bucket(col("_b.maxx")))))
      .withColumn("_by", explode(sequence(bucket(col("_b.miny")), bucket(col("_b.maxy")))))
    val x = col(xCol); val y = col(yCol)
    val ptBuckets = points
      .withColumn("_bx", bucket(x))
      .withColumn("_by", bucket(y))
    ptBuckets.join(polyBuckets, Seq("_bx", "_by"))
      .filter(
        x >= col("_b.minx") && x <= col("_b.maxx") &&
          y >= col("_b.miny") && y <= col("_b.maxy") &&
          pointInPolygonUdf(x, y, col(coordsCol)))
      .drop("_bx", "_by", "_b")
  }
}
