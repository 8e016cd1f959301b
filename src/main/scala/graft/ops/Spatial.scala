package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Refuse

/** X90 — grid-bucketed proximity join: all point pairs within a radius,
  * without the cross product. The spatial primitive behind store/POI
  * conflation, sensor-cluster detection, GPS-trace co-location — and the
  * same shape (bucket → neighbor-probe → exact filter) the dedup stack
  * uses in hash space (X2's LSH bands ARE this operator's cells, one
  * abstraction over). The reference ingests shapefiles (S3); this is the
  * join its geometries feed at scale.
  *
  * Mechanics: the plane is tiled into radius-sized cells; a pair within
  * `radius` NECESSARILY lands in the same or an adjacent cell (|Δx| ≤ r
  * ⇒ cell indices differ by ≤ 1), so each left point probes its 3×3 cell
  * neighborhood by EQUI-join against right points' home cells and the
  * exact predicate `dx² + dy² ≤ r²` filters candidates. Each qualifying
  * pair is found exactly once (one probe cell equals the neighbor's one
  * home cell) — no distinct pass. `id_a < id_b` keeps pairs unordered
  * and drops self-pairs.
  *
  * Determinism/exactness: coordinates are NON-NEGATIVE integers in the
  * caller's unit (micro-degrees, millimeters — shift upstream; the
  * non-negativity makes truncating DIV a floor, the same cell on every
  * engine) and the distance test is exact Long arithmetic — no floats,
  * no haversine-library divergence. For geographic micro-degrees the
  * caller applies the cos(lat) longitude scale upstream if metric
  * distance matters; the operator's contract is planar.
  *
  * Scale shape: one map-only cell assignment per side, a 9-way explode
  * on the probe side (map-only fan-out, constant 9), ONE cell-keyed
  * equi-join, a codegen'd exact filter. A cell holding k points emits
  * O(k²) candidates — the standard density caveat: size `radius`'s grid
  * to the data (or pre-aggregate co-located points) exactly as LSH sizes
  * its bands; there is no salting that beats choosing the right cell. */
object Spatial {

  def proximityJoin(points: DataFrame, id: Column, x: Column, y: Column,
      radius: Long): DataFrame = {
    require(radius >= 1, s"radius must be positive, got $radius")
    require(radius <= 1000000000L,
      s"radius $radius exceeds the exact-Long distance budget (1e9)")
    // both join sides read every point (a broadcast build or a shuffle),
    // so the refusal fires on any read of the pairs
    val pts = Refuse.rows(points.select(id.as("__id"), x.cast("long").as("__x"),
        y.cast("long").as("__y"))
      .filter(col("__id").isNotNull && col("__x").isNotNull &&
        col("__y").isNotNull),
      (col("__x") < 0 || col("__y") < 0) -> lit(
        "proximityJoin: negative coordinate found — shift to non-negative " +
          "units upstream (truncating DIV must be a floor for the cell " +
          "neighborhood argument to hold)"))
    val homed = pts
      .withColumn("__cx", expr(s"__x DIV ${radius}L"))
      .withColumn("__cy", expr(s"__y DIV ${radius}L"))
    val probes = homed.select(col("__id"), col("__x"), col("__y"),
      explode(array((for { i <- -1 to 1; j <- -1 to 1 } yield
        struct((col("__cx") + i).as("cx"), (col("__cy") + j).as("cy"))): _*))
        .as("__c"))
      .select(col("__id").as("id_a"), col("__x").as("__xa"),
        col("__y").as("__ya"), col("__c").getField("cx").as("__cx"),
        col("__c").getField("cy").as("__cy"))
    probes.join(
        homed.select(col("__id").as("id_b"), col("__x").as("__xb"),
          col("__y").as("__yb"), col("__cx"), col("__cy")),
        Seq("__cx", "__cy"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("d2",
        (col("__xa") - col("__xb")) * (col("__xa") - col("__xb")) +
          (col("__ya") - col("__yb")) * (col("__ya") - col("__yb")))
      .filter(col("d2") <= radius * radius)
      .select(col("id_a"), col("id_b"), col("d2"))
  }

  /** The polygon-side refusals of both containment joins, one CASE over
    * the bbox frame: a negative coordinate, then a bbox wider than
    * `maxCells` grid cells. Every read of the join builds or shuffles the
    * polygon cells, so it reads every polygon. */
  private def polygonRules(bbox: DataFrame, op: String, cellSize: Long,
      maxCells: Long, tooWide: String): DataFrame =
    Refuse.rows(bbox,
      (col("__xmin") < 0 || col("__ymin") < 0) -> lit(
        s"$op: negative polygon coordinate — shift to non-negative units upstream"),
      ((expr(s"__xmax DIV ${cellSize}L") - expr(s"__xmin DIV ${cellSize}L") + 1) *
        (expr(s"__ymax DIV ${cellSize}L") - expr(s"__ymin DIV ${cellSize}L") + 1)
        > maxCells) -> lit(tooWide))

  /** X95 — point-in-polygon containment test, exact integer ray casting:
    * the other half of the geo story [[proximityJoin]] started and the
    * join the reference's shapefile ingestion (S3) exists to feed —
    * "which region contains this point" for geofencing, admin-area
    * tagging, and map-matched rollups.
    *
    * Crossing-parity rule (the classical ray cast, W. Randolph Franklin's
    * PNPOLY formulation): a rightward ray from the point crosses edge
    * (x1,y1)–(x2,y2) iff the edge straddles the point's y
    * ((y1 > py) ≠ (y2 > py)) and the intersection lies right of px —
    * normally `px < x1 + (x2−x1)(py−y1)/(y2−y1)`, here cross-multiplied
    * into EXACT Long arithmetic with the comparison direction following
    * sign(y2−y1), so there is no division, no float, and every engine
    * classifies every point identically (boundary points classify by the
    * same strict-inequality convention — consistent, deterministic, and
    * the standard half-open behavior that makes adjacent polygons
    * partition the plane without double-counting shared edges).
    * Products are coordinate × coordinate-span: keep |coords| ≤ 1e8 and
    * Long never overflows. The fold over edges is a higher-order
    * aggregate (interpreted — bounded by the vertex count, the X93 HOF
    * stance).
    *
    * `poly` is `array<struct<x: long, y: long>>`, an implicitly-closed
    * ring (last vertex connects back to the first). */
  /** Ray-cast crossing count of one implicitly-closed ring — the shared
    * core of [[pointInPolygon]] (single ring) and [[pointInRings]]
    * (multi-ring even-odd parity). */
  private def ringCrossings(px: Column, py: Column, poly: Column): Column = {
    val n = size(poly)
    // edge i: vertex i+1 → vertex (i+1 % n)+1  (element_at is 1-based)
    val edges = transform(poly, (v, i) =>
      struct(v.getField("x").as("x1"), v.getField("y").as("y1"),
        element_at(poly, (i + 1) % n + 1).getField("x").as("x2"),
        element_at(poly, (i + 1) % n + 1).getField("y").as("y2")))
    val crossings = filter(edges, e => {
      val y1 = e.getField("y1"); val y2 = e.getField("y2")
      val x1 = e.getField("x1"); val x2 = e.getField("x2")
      val straddles = (y1 > py) =!= (y2 > py)
      // px < x1 + (x2−x1)(py−y1)/(y2−y1), cross-multiplied by (y2−y1):
      // direction flips with its sign (straddling guarantees y2 ≠ y1)
      val lhs = (px - x1) * (y2 - y1)
      val rhs = (x2 - x1) * (py - y1)
      straddles && (when(y2 > y1, lhs < rhs).otherwise(lhs > rhs))
    })
    size(crossings)
  }

  def pointInPolygon(px: Column, py: Column, poly: Column): Column =
    ringCrossings(px, py, poly) % 2 === 1

  /** Multi-ring even-odd containment: the point is inside iff the TOTAL
    * crossing count over ALL rings is odd — which handles holes and
    * multi-polygons with no extra machinery (a point inside the outer
    * ring but also inside a hole crosses both boundaries: even ⇒
    * outside; disjoint member polygons contribute crossings for at most
    * one outer ring ⇒ the union). `rings` is
    * `array<array<struct<x:long,y:long>>>` — exactly what
    * [[graft.functions.GraftFunctions.wkbRings]] decodes S3's WKB
    * geometry into; each ring implicitly closed, orientation irrelevant
    * (parity is unsigned — the reason even-odd beats winding for decoded
    * data whose ring directions vary by producer). */
  def pointInRings(px: Column, py: Column, rings: Column): Column =
    aggregate(rings, lit(0),
      (acc, ring) => acc + ringCrossings(px, py, ring)) % 2 === 1

  /** Containment join: `(point_id, poly_id)` for every point inside a
    * polygon — the bbox-cell prefilter keeps it an EQUI-join (each
    * polygon registers the grid cells its bounding box covers; each
    * point probes its one home cell), and [[pointInPolygon]] decides
    * exactly. A polygon's cell fan-out is its bbox area over `cellSize`²
    * — bounded by `maxCellsPerPoly` (size the grid to the polygons, the
    * [[proximityJoin]] density stance). Coordinates non-negative (the
    * same floor-DIV contract). */
  def containsJoin(points: DataFrame, pid: Column, px: Column, py: Column,
      polys: DataFrame, gid: Column, poly: Column, cellSize: Long,
      maxCellsPerPoly: Long = 4096L): DataFrame = {
    require(cellSize >= 1, s"cellSize must be positive, got $cellSize")
    require(maxCellsPerPoly >= 1, "maxCellsPerPoly must be positive")
    val p = points.select(pid.as("point_id"), px.cast("long").as("__px"),
        py.cast("long").as("__py"))
      .filter(col("point_id").isNotNull && col("__px").isNotNull &&
        col("__py").isNotNull)
    val negP = p.filter(col("__px") < 0 || col("__py") < 0).limit(1).collect()
    require(negP.isEmpty, "containsJoin: negative point coordinate — " +
      "shift to non-negative units upstream")
    val bbox = polys.select(gid.as("poly_id"), poly.as("__poly"))
      .filter(col("poly_id").isNotNull && size(col("__poly")) >= 3)
      .withColumn("__xmin", array_min(transform(col("__poly"), _.getField("x"))))
      .withColumn("__xmax", array_max(transform(col("__poly"), _.getField("x"))))
      .withColumn("__ymin", array_min(transform(col("__poly"), _.getField("y"))))
      .withColumn("__ymax", array_max(transform(col("__poly"), _.getField("y"))))
    val g = polygonRules(bbox, "containsJoin", cellSize, maxCellsPerPoly,
      s"containsJoin: a polygon's bbox covers more than $maxCellsPerPoly " +
        s"cells at cellSize=$cellSize — raise cellSize (cells are a " +
        "prefilter, not a precision knob)")
    val cells = g.select(col("poly_id"), col("__poly"),
      explode(expr(s"flatten(transform(" +
        s"sequence(__xmin DIV ${cellSize}L, __xmax DIV ${cellSize}L), " +
        s"cx -> transform(" +
        s"sequence(__ymin DIV ${cellSize}L, __ymax DIV ${cellSize}L), " +
        s"cy -> struct(cx, cy))))")).as("__c"))
      .select(col("poly_id"), col("__poly"),
        col("__c").getField("cx").as("__cx"),
        col("__c").getField("cy").as("__cy"))
    p.withColumn("__cx", expr(s"__px DIV ${cellSize}L"))
      .withColumn("__cy", expr(s"__py DIV ${cellSize}L"))
      .join(cells, Seq("__cx", "__cy"))
      .filter(pointInPolygon(col("__px"), col("__py"), col("__poly")))
      .select(col("point_id"), col("poly_id"))
  }

  /** [[containsJoin]] for MULTI-RING geometries — holes and
    * multi-polygons, i.e. what real admin-area shapefiles decode to
    * ([[graft.functions.GraftFunctions.wkbRings]] is the producer; this
    * is the "ingest shapefile → tag points with admin areas" join the
    * reference's shp2pgsql ingestion exists to feed). Same shape as the
    * single-ring face: bbox over ALL rings' vertices registers grid
    * cells (a hole lies inside its outer ring's bbox, so the bbox is the
    * outer hull either way), points probe their one home cell by
    * EQUI-join, and [[pointInRings]]' even-odd parity decides exactly —
    * a point in a hole passes the bbox prefilter and is rejected by the
    * exact test, never emitted. NULL ring sets (undecodable WKB) drop
    * like NULL polygons: no geometry, no containment claim. */
  def containsJoinRings(points: DataFrame, pid: Column, px: Column,
      py: Column, polys: DataFrame, gid: Column, rings: Column,
      cellSize: Long, maxCellsPerPoly: Long = 4096L): DataFrame = {
    require(cellSize >= 1, s"cellSize must be positive, got $cellSize")
    require(maxCellsPerPoly >= 1, "maxCellsPerPoly must be positive")
    val p = points.select(pid.as("point_id"), px.cast("long").as("__px"),
        py.cast("long").as("__py"))
      .filter(col("point_id").isNotNull && col("__px").isNotNull &&
        col("__py").isNotNull)
    val negP = p.filter(col("__px") < 0 || col("__py") < 0).limit(1).collect()
    require(negP.isEmpty, "containsJoinRings: negative point coordinate — " +
      "shift to non-negative units upstream")
    val bbox = polys.select(gid.as("poly_id"), rings.as("__rings"))
      .filter(col("poly_id").isNotNull && size(col("__rings")) >= 1)
      .withColumn("__flat", flatten(col("__rings")))
      .filter(size(col("__flat")) >= 3)
      .withColumn("__xmin", array_min(transform(col("__flat"), _.getField("x"))))
      .withColumn("__xmax", array_max(transform(col("__flat"), _.getField("x"))))
      .withColumn("__ymin", array_min(transform(col("__flat"), _.getField("y"))))
      .withColumn("__ymax", array_max(transform(col("__flat"), _.getField("y"))))
      .drop("__flat")
    val g = polygonRules(bbox, "containsJoinRings", cellSize, maxCellsPerPoly,
      s"containsJoinRings: a polygon's bbox covers more than " +
        s"$maxCellsPerPoly cells at cellSize=$cellSize — raise cellSize " +
        "(cells are a prefilter, not a precision knob)")
    val cells = g.select(col("poly_id"), col("__rings"),
      explode(expr(s"flatten(transform(" +
        s"sequence(__xmin DIV ${cellSize}L, __xmax DIV ${cellSize}L), " +
        s"cx -> transform(" +
        s"sequence(__ymin DIV ${cellSize}L, __ymax DIV ${cellSize}L), " +
        s"cy -> struct(cx, cy))))")).as("__c"))
      .select(col("poly_id"), col("__rings"),
        col("__c").getField("cx").as("__cx"),
        col("__c").getField("cy").as("__cy"))
    p.withColumn("__cx", expr(s"__px DIV ${cellSize}L"))
      .withColumn("__cy", expr(s"__py DIV ${cellSize}L"))
      .join(cells, Seq("__cx", "__cy"))
      .filter(pointInRings(col("__px"), col("__py"), col("__rings")))
      .select(col("point_id"), col("poly_id"))
  }
}
