package graft
package catalog

import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.operators.{Spatial, SyntheticGeo}

import Shared._

/** Geo catalog family: spatial containment joins, CRS reprojection and
  * the GeoJSON sources. */
object GeoQueries extends Family {

  // ---------------------------------------------------------------- q171
  // Spatial containment, BROADCAST tier (Spatial.containsJoin, §2.6 J5 —
  // the reference's PostGIS GiST capability, driver-gate visible at last):
  // deterministic diamond tiles (some with concentric holes) synthesized
  // from nation ids, hash-placed customer points, even-odd containment,
  // plus the §2.10 envelope surface (boundsString / envelopeWkt) on the
  // same tiles. The oracle REBUILDS the identical geometry from mix64
  // arithmetic (SyntheticGeo's contract: every coordinate is exact binary)
  // and replays the even-odd crossing test edge-by-edge — the containment
  // DECISIONS are value-checked, not just counted, because sum_pt_ids
  // fingerprints exactly WHICH points each tile contains. Diamonds keep
  // every edge slanted (the general crossing test, never just the bounds
  // box); hole tiles prove multi-ring parity. Map-only: 25 tiles broadcast,
  // points never shuffle until the tile-keyed rollup.

  /** Tile + ring-edge CTEs shared by q171/q172: the SyntheticGeo diamond
    * grid rebuilt in DuckDB from the same mix64 arithmetic, ending in
    * `edges(tile_id, xi, yi, xj, yj)` — one row per directed ring edge
    * (vertex i ← its predecessor), holes included. */
  private val geoTileCtes: String = {
    import DuckHash._
    s"""mx0 AS (SELECT n_nationkey, CAST(n_nationkey AS UBIGINT) AS sx FROM nation),
       |${mix64Ctes("sx")},
       |tiles AS (SELECT CAST(n_nationkey AS BIGINT) AS tile_id,
       |    CAST((n_nationkey % 5) * 20 + 10 AS DOUBLE) AS cx,
       |    CAST(((n_nationkey // 5) % 5) * 20 + 10 AS DOUBLE) AS cy,
       |    CAST((mh & 3) + 6 AS DOUBLE) AS r,
       |    CAST(((mh & 3) + 6) // 2 AS DOUBLE) AS hr,
       |    (mh & 4) <> 0 AS hole
       |  FROM mx4),
       |rings AS (SELECT tile_id, cx, cy, r AS rr FROM tiles
       |  UNION ALL SELECT tile_id, cx, cy, hr FROM tiles WHERE hole),
       |edges AS (SELECT tile_id,
       |    CASE i WHEN 0 THEN cx - rr WHEN 1 THEN cx WHEN 2 THEN cx + rr ELSE cx END AS xi,
       |    CASE i WHEN 0 THEN cy WHEN 1 THEN cy - rr WHEN 2 THEN cy ELSE cy + rr END AS yi,
       |    CASE (i + 3) % 4 WHEN 0 THEN cx - rr WHEN 1 THEN cx WHEN 2 THEN cx + rr ELSE cx END AS xj,
       |    CASE (i + 3) % 4 WHEN 0 THEN cy WHEN 1 THEN cy - rr WHEN 2 THEN cy ELSE cy + rr END AS yj
       |  FROM rings, unnest(range(0, 4)) AS t(i))""".stripMargin
  }

  /** Hash-point + even-odd containment CTEs shared by q171/q172, ending in
    * `agg(tile_id, n_pts, sum_pt_ids)`. The HAVING counts ray crossings
    * over ALL ring edges (crossing parity over outer ∪ holes is exactly
    * the even-odd rule Spatial.pointInRings implements) with the SAME
    * IEEE expression tree as the Scala kernel, so boundary-grazing points
    * decide identically on both engines. */
  private def geoContainCtes(table: String, idCol: String): String = {
    import DuckHash._
    s"""px0 AS (SELECT $idCol, CAST($idCol AS UBIGINT) AS gx FROM $table),
       |${mix64Ctes("gx", "px")},
       |pts AS (SELECT CAST($idCol AS BIGINT) AS point_id,
       |    CAST(mh & 16383 AS DOUBLE) * 100.0 / 16384.0 AS x,
       |    CAST((mh >> 20) & 16383 AS DOUBLE) * 100.0 / 16384.0 AS y
       |  FROM px4),
       |inside AS (SELECT p.point_id, e.tile_id
       |  FROM pts p, edges e
       |  GROUP BY p.point_id, e.tile_id
       |  HAVING count(*) FILTER (WHERE ((e.yi > p.y) <> (e.yj > p.y))
       |      AND p.x < (e.xj - e.xi) * (p.y - e.yi) / (e.yj - e.yi) + e.xi) % 2 = 1),
       |agg AS (SELECT tile_id, count(*) AS n_pts,
       |    CAST(sum(point_id) AS BIGINT) AS sum_pt_ids
       |  FROM inside GROUP BY tile_id)""".stripMargin
  }

  val q171 = query("q171_geo_contains")((s, dir) => {
    val tiles = SyntheticGeo.tilePolygons(Tables.nation(s, dir), "n_nationkey")
    val pts = SyntheticGeo.hashPoints(Tables.customer(s, dir), "c_custkey")
    val contained = Spatial.containsJoin(pts, tiles, "x", "y", "coords")
      .groupBy(col("tile_id"))
      .agg(count(lit(1)).as("n_pts"), sum(col("point_id")).as("sum_pt_ids"))
    tiles
      .withColumn("__b", GeoFunctions.polygonBounds(col("coords")))
      .join(contained, Seq("tile_id"), "left")
      .select(col("tile_id"),
        coalesce(col("n_pts"), lit(0L)).as("n_pts"),
        coalesce(col("sum_pt_ids"), lit(0L)).as("sum_pt_ids"),
        GeoFunctions.boundsString(col("__b")).as("bounds_str"),
        GeoFunctions.envelopeWkt(col("__b")).as("envelope_wkt"))
      .orderBy("tile_id")
  })(
    s"""WITH $geoTileCtes,
       |${geoContainCtes("customer", "c_custkey")}
       |SELECT t.tile_id,
       |  coalesce(a.n_pts, 0) AS n_pts,
       |  coalesce(a.sum_pt_ids, 0) AS sum_pt_ids,
       |  CAST(cx - r AS VARCHAR) || ',' || CAST(cy - r AS VARCHAR) || ',' ||
       |    CAST(cx + r AS VARCHAR) || ',' || CAST(cy + r AS VARCHAR) AS bounds_str,
       |  'POLYGON((' ||
       |    CAST(cx - r AS VARCHAR) || ' ' || CAST(cy - r AS VARCHAR) || ', ' ||
       |    CAST(cx + r AS VARCHAR) || ' ' || CAST(cy - r AS VARCHAR) || ', ' ||
       |    CAST(cx + r AS VARCHAR) || ' ' || CAST(cy + r AS VARCHAR) || ', ' ||
       |    CAST(cx - r AS VARCHAR) || ' ' || CAST(cy + r AS VARCHAR) || ', ' ||
       |    CAST(cx - r AS VARCHAR) || ' ' || CAST(cy - r AS VARCHAR) || '))' AS envelope_wkt
       |FROM tiles t LEFT JOIN agg a USING (tile_id)
       |ORDER BY tile_id""".stripMargin)

  // ---------------------------------------------------------------- q172
  // Spatial containment, BUCKETED (big-big) tier: the SAME even-odd
  // semantics as q171 through Spatial.bucketedContainsJoin — polygons
  // exploded to the fixed-grid buckets their envelopes cover, points
  // equi-joined on their single bucket (one hash shuffle, never the cross
  // product; the shape that survives 100 TB where nothing broadcasts).
  // cellSize 8 deliberately misaligns with the 20-unit tile grid so
  // envelopes straddle 2-3 buckets per axis and the dedup-free
  // exactly-once meeting property is actually exercised. Same oracle
  // construction as q171 over the orders points — tier-independence: two
  // physical strategies, one value-checked answer.
  val q172 = query("q172_geo_bucketed")((s, dir) => {
    val tiles = SyntheticGeo.tilePolygons(Tables.nation(s, dir), "n_nationkey")
    val pts = SyntheticGeo.hashPoints(Tables.orders(s, dir), "o_orderkey")
    val contained = Spatial
      .bucketedContainsJoin(pts, tiles, "x", "y", "coords")
      .groupBy(col("tile_id"))
      .agg(count(lit(1)).as("n_pts"), sum(col("point_id")).as("sum_pt_ids"))
    tiles.select(col("tile_id"))
      .join(contained, Seq("tile_id"), "left")
      .select(col("tile_id"),
        coalesce(col("n_pts"), lit(0L)).as("n_pts"),
        coalesce(col("sum_pt_ids"), lit(0L)).as("sum_pt_ids"))
      .orderBy("tile_id")
  })(
    s"""WITH $geoTileCtes,
       |${geoContainCtes("orders", "o_orderkey")}
       |SELECT t.tile_id,
       |  coalesce(a.n_pts, 0) AS n_pts,
       |  coalesce(a.sum_pt_ids, 0) AS sum_pt_ids
       |FROM tiles t LEFT JOIN agg a USING (tile_id)
       |ORDER BY tile_id""".stripMargin)

  // ---------------------------------------------------------------- q173
  // CRS reprojection in the gate (§2.10 G1, reference src/etl.py:34-35):
  // a deterministic 5×5 lon/lat grid over UTM zone 32N (8–10°E, 44–46°N)
  // through GeoFunctions.wgs84ToUtm32n, presented as integer MILLIMETRES.
  // The oracle replays the Snyder transverse-Mercator series in DuckDB SQL
  // with the projection's exact double constants embedded as shortest-repr
  // literals and the identical IEEE operation tree (explicit power
  // products, no libm pow) — elementary-function ulp drift is 9+ orders of
  // magnitude below the mm presentation, so the hash is tolerance-free.
  // Upgrades G1's correctness evidence from one driver-side Duomo golden
  // to 25 cross-engine value checks.

  /** CTE chain replaying `GeoFunctions.wgs84ToUtm32n` in DuckDB SQL over
    * an input CTE exposing `lon`/`lat` degrees (every other column flows
    * through `SELECT *`): appends `utm0..utm5` and `utmxy`, the last
    * adding `x` (easting m) and `y` (northing m). Constants are the
    * projection's exact doubles as shortest-repr literals and the
    * operation tree matches the Scala kernel exactly (explicit power
    * products, no libm pow) — see q173's comment. Shared by q173 (point
    * grid) and q178 (GeoJSON polygon vertices). */
  private def utmSeriesCtes(src: String): String = {
    // Shortest-repr double literals round-trip to identical bits in DuckDB.
    def d(v: Double) = v.toString
    val pi = d(math.Pi)
    val (aa, k0, e2, ep2, lon0, fe) = (d(GeoFunctions.A), d(GeoFunctions.K0),
      d(GeoFunctions.E2), d(GeoFunctions.EP2), d(GeoFunctions.Lon0),
      d(GeoFunctions.FalseEasting))
    val (m0, m2, m4, m6) = (d(GeoFunctions.M0), d(GeoFunctions.M2),
      d(GeoFunctions.M4), d(GeoFunctions.M6))
    s"""utm0 AS (SELECT *, lat / 180.0 * $pi AS phi, lon / 180.0 * $pi AS lam FROM $src),
       |utm1 AS (SELECT *, sin(phi) AS sphi, cos(phi) AS cphi, tan(phi) AS tphi FROM utm0),
       |utm2 AS (SELECT *,
       |    $aa / sqrt(1.0 - $e2 * sphi * sphi) AS nn,
       |    tphi * tphi AS tt,
       |    $ep2 * cphi * cphi AS cc,
       |    cphi * (lam - $lon0) AS a0 FROM utm1),
       |utm3 AS (SELECT *, a0 * a0 AS a2 FROM utm2),
       |utm4 AS (SELECT *, a2 * a0 AS a3, a2 * a2 AS a4 FROM utm3),
       |utm5 AS (SELECT *, a4 * a0 AS a5, a4 * a2 AS a6,
       |    $aa * ($m0 * phi - $m2 * sin(2.0 * phi)
       |      + $m4 * sin(4.0 * phi) - $m6 * sin(6.0 * phi)) AS mm
       |  FROM utm4),
       |utmxy AS (SELECT *,
       |    $k0 * nn * (a0 + (1.0 - tt + cc) * a3 / 6.0
       |      + (5.0 - 18.0 * tt + tt * tt + 72.0 * cc - 58.0 * $ep2) * a5 / 120.0)
       |      + $fe AS x,
       |    $k0 * (mm + nn * tphi * (a2 / 2.0
       |      + (5.0 - tt + 9.0 * cc + 4.0 * cc * cc) * a4 / 24.0
       |      + (61.0 - 58.0 * tt + tt * tt + 600.0 * cc - 330.0 * $ep2) * a6 / 720.0)) AS y
       |  FROM utm5)""".stripMargin
  }

  val q173 = query("q173_utm_reproject")((s, dir) =>
    Tables.nation(s, dir)
      .select(
        col("n_nationkey").cast("long").as("grid_id"),
        (lit(8.0) + expr("n_nationkey % 5").cast("double") * 0.5).as("lon"),
        (lit(44.0) + expr("n_nationkey div 5").cast("double") * 0.5).as("lat"))
      .withColumn("__p", GeoFunctions.reprojectPointUdf(col("lon"), col("lat")))
      .select(col("grid_id"),
        expr("CAST(round(lon * 1000.0) AS BIGINT)").as("lon_milli"),
        expr("CAST(round(lat * 1000.0) AS BIGINT)").as("lat_milli"),
        expr("CAST(round(__p._1 * 1000.0) AS BIGINT)").as("easting_mm"),
        expr("CAST(round(__p._2 * 1000.0) AS BIGINT)").as("northing_mm"))
      .orderBy("grid_id"))(
    s"""WITH g AS (SELECT CAST(n_nationkey AS BIGINT) AS grid_id,
       |    8.0 + CAST(n_nationkey % 5 AS DOUBLE) * 0.5 AS lon,
       |    44.0 + CAST(n_nationkey // 5 AS DOUBLE) * 0.5 AS lat
       |  FROM nation),
       |${utmSeriesCtes("g")}
       |SELECT grid_id,
       |  CAST(round(lon * 1000.0) AS BIGINT) AS lon_milli,
       |  CAST(round(lat * 1000.0) AS BIGINT) AS lat_milli,
       |  CAST(round(x * 1000.0) AS BIGINT) AS easting_mm,
       |  CAST(round(y * 1000.0) AS BIGINT) AS northing_mm
       |FROM utmxy ORDER BY grid_id""".stripMargin)

  // ---------------------------------------------------------------- q178
  // GeoJSON GRID source under the gate (§2.1 S4 + P3/G1-G3, reference
  // src/etl.py:11-54): a deterministic FeatureCollection of diamond
  // Polygons (GeoJsonFixture — exact-binary sixteenth-degree coordinates
  // on the q173 grid) goes through the REAL multiLine JSON scan →
  // posexplode feature_idx → reproject 4326→32632 → bounds. The output
  // pins the geopandas surrogate-key semantics (0-based feature_idx vs the
  // file's 1-based cellId property — the reference's off-by-one, SURVEY
  // §1.4) and the projected envelope at integer millimetres; the oracle
  // rebuilds the vertices from nation ids and replays the Snyder series
  // (the shared utmSeriesCtes) — JSON parsing, feature order, ring shape,
  // projection, and bounds all value-checked without the oracle reading
  // any file. The 25-row driver collect builds the fixture FILE (a
  // dimension-sized generator, like q168's synthetic payloads).
  val q178 = query("q178_geojson_grid")((s, dir) => {
    val ids = Tables.nation(s, dir).select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val path = graft.sources.GeoJsonFixture.write(
      fixtureDir(dir), "grid.geojson",
      graft.sources.GeoJsonFixture.gridJson(ids))
    graft.sources.GeoJsonSource.readFeatures(s, path)
      .select(
        col("feature_idx").cast("long").as("cell_id"),
        col("properties.cellId").cast("long").as("cellid_prop"),
        GeoFunctions.reprojectPolygonUdf(col("geometry.coordinates")).as("coords"))
      .withColumn("b", GeoFunctions.polygonBounds(col("coords")))
      .select(col("cell_id"), col("cellid_prop"),
        expr("CAST(round(b.minx * 1000.0) AS BIGINT)").as("min_x_mm"),
        expr("CAST(round(b.miny * 1000.0) AS BIGINT)").as("min_y_mm"),
        expr("CAST(round(b.maxx * 1000.0) AS BIGINT)").as("max_x_mm"),
        expr("CAST(round(b.maxy * 1000.0) AS BIGINT)").as("max_y_mm"),
        size(element_at(col("coords"), 1)).cast("long").as("n_ring_pts"))
      .orderBy("cell_id")
  })({
    val mh = DuckHash.mix64Inline("CAST(id AS UBIGINT)")
    s"""WITH ids AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
       |feat AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS fid,
       |    CAST((($mh) & 3) + 1 AS DOUBLE) / 16.0 AS r,
       |    8.0 + CAST(id % 5 AS DOUBLE) * 0.5 AS cx,
       |    44.0 + CAST((id // 5) % 5 AS DOUBLE) * 0.5 AS cy
       |  FROM ids),
       |verts AS (SELECT fid, id,
       |    CASE vi WHEN 0 THEN cx - r WHEN 1 THEN cx WHEN 2 THEN cx + r ELSE cx END AS lon,
       |    CASE vi WHEN 0 THEN cy WHEN 1 THEN cy - r WHEN 2 THEN cy ELSE cy + r END AS lat
       |  FROM feat, unnest(range(0, 4)) AS t(vi)),
       |${utmSeriesCtes("verts")}
       |SELECT fid AS cell_id, id + 1 AS cellid_prop,
       |  CAST(round(min(x) * 1000.0) AS BIGINT) AS min_x_mm,
       |  CAST(round(min(y) * 1000.0) AS BIGINT) AS min_y_mm,
       |  CAST(round(max(x) * 1000.0) AS BIGINT) AS max_x_mm,
       |  CAST(round(max(y) * 1000.0) AS BIGINT) AS max_y_mm,
       |  CAST(5 AS BIGINT) AS n_ring_pts
       |FROM utmxy GROUP BY fid, id ORDER BY cell_id""".stripMargin
  })

  // ---------------------------------------------------------------- q180
  // GeoJSON PROVINCES source under the gate (§2.1 S5 + C4, reference
  // src/etl.py:57-95): the provinces fixture carries PROVINCIA plus a
  // STRING population property that is digits on most rows and an
  // unparseable "n/a" on a mix64 mask — GeoJsonSource.provinces must
  // coerce-or-0 and int-cast it (the reference's to_numeric(errors=
  // 'coerce').fillna(0).astype(int)). Aggregated per provincia so the
  // hash checks name fallback, the coercion branches, and the int cast.
  val q180 = query("q180_geojson_provinces")((s, dir) => {
    val ids = Tables.nation(s, dir).select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val path = graft.sources.GeoJsonFixture.write(
      fixtureDir(dir), "provinces.geojson",
      graft.sources.GeoJsonFixture.provincesJson(ids))
    graft.sources.GeoJsonSource.provinces(s, path)
      .groupBy(col("provincia"))
      .agg(count(lit(1)).as("n_features"),
        sum(col("population").cast("long")).as("sum_population"))
      .orderBy("provincia")
  })({
    val mh = DuckHash.mix64Inline("CAST(id AS UBIGINT)")
    val caseArms = graft.pipeline.IngestHarness.MobilityCleanNames.zipWithIndex
      .map { case (n, i) => s"WHEN $i THEN '${n.replace("'", "''")}'" }
      .mkString(" ")
    s"""WITH ids AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
       |f AS (SELECT id, CASE id % 12 $caseArms END AS provincia,
       |    CASE WHEN ($mh) & 3 = 0 THEN 0
       |         ELSE CAST((($mh) >> 8) & 65535 AS BIGINT) END AS pop
       |  FROM ids)
       |SELECT provincia, count(*) AS n_features,
       |  CAST(sum(pop) AS BIGINT) AS sum_population
       |FROM f GROUP BY provincia ORDER BY provincia""".stripMargin
  })

  // ---------------------------------------------------------------- q184
  // WKT RENDER + bounds string under the gate (§2.10 G4 + §2.3 P4 + §2.11
  // X4; reference src/etl.py:26,39-42 ST_AsText/str(bounds)): the grid
  // fixture's UNPROJECTED 4326 diamonds — exact binary sixteenths, whose
  // shortest-round-trip decimal rendering is identical in Java and DuckDB
  // — through polygonWkt / polygonBounds→boundsString / envelopeWkt, full
  // strings under the hash. This is the STRING-formatting tier the
  // integer-mm rows (q171/q173/q178) deliberately avoid: a ring-order
  // change, a separator drift (", " vs ","), a lost trailing ".0", or a
  // double→string rendering divergence all break it. The oracle rebuilds
  // each vertex from nation ids and renders the same three strings with
  // DuckDB varchar casts.
  val q184 = query("q184_wkt_render")((s, dir) => {
    val ids = Tables.nation(s, dir).select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val path = graft.sources.GeoJsonFixture.write(
      fixtureDir(dir), "grid.geojson",
      graft.sources.GeoJsonFixture.gridJson(ids))
    graft.sources.GeoJsonSource.readFeatures(s, path)
      .select(
        col("feature_idx").cast("long").as("feature_idx"),
        col("geometry.coordinates").as("coords"))
      .withColumn("b", GeoFunctions.polygonBounds(col("coords")))
      .select(
        col("feature_idx"),
        GeoFunctions.polygonWkt(col("coords")).as("wkt"),
        GeoFunctions.boundsString(col("b")).as("bounds"),
        GeoFunctions.envelopeWkt(col("b")).as("envelope_wkt"))
      .orderBy("feature_idx")
  })({
    val mh = DuckHash.mix64Inline("CAST(k AS UBIGINT)")
    // "x y" with both doubles rendered shortest-round-trip (matches both
    // Spark's concat_ws/format_string %s and Java's Double.toString).
    def pt(x: String, y: String) =
      s"CAST($x AS VARCHAR) || ' ' || CAST($y AS VARCHAR)"
    val ringPts = Seq(
      pt("cx - r", "cy"), pt("cx", "cy - r"), pt("cx + r", "cy"),
      pt("cx", "cy + r"), pt("cx - r", "cy")).mkString(" || ', ' || ")
    val envPts = Seq(
      pt("cx - r", "cy - r"), pt("cx + r", "cy - r"), pt("cx + r", "cy + r"),
      pt("cx - r", "cy + r"), pt("cx - r", "cy - r")).mkString(" || ', ' || ")
    s"""WITH ids AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
       |ord AS (SELECT k, row_number() OVER (ORDER BY k) - 1 AS feature_idx
       |  FROM ids),
       |g AS (SELECT feature_idx,
       |    8.0 + (k % 5) * 0.5 AS cx, 44.0 + ((k // 5) % 5) * 0.5 AS cy,
       |    CAST(1 + (($mh) & 3) AS DOUBLE) / 16.0 AS r
       |  FROM ord)
       |SELECT CAST(feature_idx AS BIGINT) AS feature_idx,
       |  'POLYGON((' || $ringPts || '))' AS wkt,
       |  CAST(cx - r AS VARCHAR) || ',' || CAST(cy - r AS VARCHAR) || ',' ||
       |    CAST(cx + r AS VARCHAR) || ',' || CAST(cy + r AS VARCHAR) AS bounds,
       |  'POLYGON((' || $envPts || '))' AS envelope_wkt
       |FROM g ORDER BY feature_idx""".stripMargin
  })
}
