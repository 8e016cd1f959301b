package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SpatialSpec extends SparkSpec {
  import spark.implicits._

  test("proximityJoin: hand-pinned pairs, boundary inclusivity, cell edges (X90)") {
    // radius 10: (1,(0,0))–(2,(10,0)) exactly AT the radius — included;
    // (3,(5,5)) near both; (4,(100,100)) isolated; (5,(19,0)) is within
    // 10 of 2 but sits two cells from 1 — the 3×3 probe must still pair
    // (2,5) and must NOT pair (1,5)
    val pts = Seq((1L, 0L, 0L), (2L, 10L, 0L), (3L, 5L, 5L),
      (4L, 100L, 100L), (5L, 19L, 0L)).toDF("id", "x", "y")
    val got = Spatial.proximityJoin(pts, col("id"), col("x"), col("y"), 10L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 100L), (1L, 3L, 50L), (2L, 3L, 50L),
      (2L, 5L, 81L)), s"got $got")
  }

  test("proximityJoin: equals the brute-force join on a hashed point cloud") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val pts = (1 to 300).map { i =>
      val h = md.digest(s"pt:$i".getBytes("UTF-8"))
      (i.toLong,
        ((h(0) & 0xff) * 256L + (h(1) & 0xff)) * 4,
        ((h(2) & 0xff) * 256L + (h(3) & 0xff)) * 4)
    }
    val r = 3000L
    val brute = (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= r * r
    } yield (a._1, b._1, d2)).toSet
    assert(brute.nonEmpty, "fixture produced no pairs — retune")
    val df = pts.toDF("id", "x", "y")
    val got = Spatial.proximityJoin(df, col("id"), col("x"), col("y"), r)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute, s"grid join diverged: missing=" +
      s"${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    // determinism under repartition
    val again = Spatial.proximityJoin(df.repartition(7), col("id"),
      col("x"), col("y"), r).as[(Long, Long, Long)].collect().toSet
    assert(again == got)
  }

  test("proximityJoin: guards — negative coords, radius bounds, NULL drop") {
    val bad = Seq((1L, -5L, 0L)).toDF("id", "x", "y")
    refused("negative coordinate")(
      Spatial.proximityJoin(bad, col("id"), col("x"), col("y"), 10L).collect())
    val ok = Seq((1L, 1L, 1L)).toDF("id", "x", "y")
    intercept[IllegalArgumentException](
      Spatial.proximityJoin(ok, col("id"), col("x"), col("y"), 0L))
    intercept[IllegalArgumentException](
      Spatial.proximityJoin(ok, col("id"), col("x"), col("y"), 2000000000L))
    val withNull = Seq((Some(1L), Some(1L), Some(1L)),
      (Some(2L), None, Some(1L)), (Some(3L), Some(2L), Some(1L)))
      .toDF("id", "x", "y")
    val got = Spatial.proximityJoin(withNull, col("id"), col("x"),
      col("y"), 10L).as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 1L)), s"got $got")
  }

  private def polyDf(ps: (Long, Seq[(Long, Long)])*) = {
    val rows = ps.map { case (id, vs) =>
      (id, vs.map { case (x, y) => (x, y) }) }
    rows.toDF("gid", "vs").select(col("gid"),
      expr("transform(vs, v -> struct(v._1 AS x, v._2 AS y))").as("poly"))
  }

  test("pointInPolygon: squares, concavity, parity rule (X95)") {
    // unit square 0..10; concave 'C' shape; triangle
    val polys = polyDf(
      1L -> Seq((0L, 0L), (10L, 0L), (10L, 10L), (0L, 10L)),
      2L -> Seq((0L, 0L), (10L, 0L), (10L, 2L), (2L, 2L), (2L, 8L),
        (10L, 8L), (10L, 10L), (0L, 10L)),
      3L -> Seq((20L, 20L), (30L, 20L), (20L, 30L)))
    val pts = Seq(
      (101L, 5L, 5L),   // in square; in the C's notch? notch = x>2,2<y<8 → NOT in C
      (102L, 1L, 5L),   // in square AND in the C's spine
      (103L, 15L, 5L),  // outside both
      (104L, 22L, 22L), // inside triangle
      (105L, 29L, 29L)) // outside triangle (beyond hypotenuse)
      .toDF("id", "x", "y")
    val got = Spatial.containsJoin(pts, col("id"), col("x"), col("y"),
        polys, col("gid"), col("poly"), cellSize = 8L)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((101L, 1L), (102L, 1L), (102L, 2L), (104L, 3L)),
      s"got $got")
  }

  test("containsJoin: equals brute-force classification on hashed clouds") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String, m: Int) = {
      val d = md.digest(s.getBytes("UTF-8"))
      ((d(0) & 0xff) * 256L + (d(1) & 0xff)) % m
    }
    // 12 random axis-aligned rectangles as polygons + 200 random points
    val rects = (1 to 12).map { i =>
      val x0 = h(s"rx:$i", 800); val y0 = h(s"ry:$i", 800)
      val w = 50 + h(s"rw:$i", 300); val ht = 50 + h(s"rh:$i", 300)
      (i.toLong, x0, y0, x0 + w, y0 + ht)
    }
    val polys = polyDf(rects.map { case (i, x0, y0, x1, y1) =>
      i -> Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1)) }: _*)
    val pts = (1 to 200).map(j => (j.toLong, h(s"px:$j", 1200), h(s"py:$j", 1200)))
    // brute force with the SAME parity rule: for axis-aligned rects and
    // points off the boundary, parity == plain bbox containment
    val inside = (for {
      (j, x, y) <- pts; (i, x0, y0, x1, y1) <- rects
      if x > x0 && x < x1 && y > y0 && y < y1
    } yield (j, i)).toSet
    val onEdge = (for {
      (j, x, y) <- pts; (i, x0, y0, x1, y1) <- rects
      if (x == x0 || x == x1) && y >= y0 && y <= y1 ||
        (y == y0 || y == y1) && x >= x0 && x <= x1
    } yield (j, i)).toSet
    assert(inside.nonEmpty, "fixture produced no containments — retune")
    val got = Spatial.containsJoin(pts.toDF("id", "x", "y"), col("id"),
        col("x"), col("y"), polys, col("gid"), col("poly"), cellSize = 128L)
      .as[(Long, Long)].collect().toSet
    // interior points must match exactly; boundary points may classify
    // either way (the documented half-open convention) but never crash
    assert((got -- onEdge) == (inside -- onEdge),
      s"missing=${(inside -- onEdge -- got).take(3)} " +
        s"extra=${(got -- inside -- onEdge).take(3)}")
    val again = Spatial.containsJoin(pts.toDF("id", "x", "y").repartition(7),
        col("id"), col("x"), col("y"), polys, col("gid"), col("poly"), 128L)
      .as[(Long, Long)].collect().toSet
    assert(again == got)
  }

  private def ringsDf(ps: (Long, Seq[Seq[(Long, Long)]])*) = {
    val rows = ps.map { case (id, rings) => (id, rings) }
    rows.toDF("gid", "rs").select(col("gid"),
      expr("transform(rs, r -> transform(r, v -> " +
        "struct(v._1 AS x, v._2 AS y)))").as("rings"))
  }

  test("pointInRings + containsJoinRings: holes and multi-polygons (X95 bridge)") {
    val polys = ringsDf(
      // outer square with a NON-axis-aligned diamond hole |dx|+|dy| ≤ 30
      1L -> Seq(
        Seq((0L, 0L), (100L, 0L), (100L, 100L), (0L, 100L)),
        Seq((50L, 20L), (80L, 50L), (50L, 80L), (20L, 50L))),
      // one geometry of two DISJOINT member squares
      2L -> Seq(
        Seq((200L, 0L), (240L, 0L), (240L, 40L), (200L, 40L)),
        Seq((300L, 0L), (340L, 0L), (340L, 40L), (300L, 40L))))
    val pts = Seq(
      (101L, 10L, 10L),  // in 1's outer, outside the hole → in
      (102L, 50L, 50L),  // hole center → out (odd+odd = even parity)
      (103L, 50L, 25L),  // inside the diamond (|dx|+|dy| = 25) → out
      (104L, 25L, 25L),  // outside the diamond (50 > 30), in outer → in
      (105L, 210L, 10L), // first member square → in
      (106L, 310L, 10L), // second member square → in
      (107L, 270L, 10L)) // between the members (inside the joint bbox) → out
      .toDF("id", "x", "y")
    val got = Spatial.containsJoinRings(pts, col("id"), col("x"), col("y"),
        polys, col("gid"), col("rings"), cellSize = 64L)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((101L, 1L), (104L, 1L), (105L, 2L), (106L, 2L)),
      s"got $got")
    // determinism under repartition
    val again = Spatial.containsJoinRings(
        pts.repartition(5), col("id"), col("x"), col("y"),
        polys, col("gid"), col("rings"), cellSize = 64L)
      .as[(Long, Long)].collect().toSet
    assert(again == got)
    // single-ring parity agrees between the two faces
    val single = ringsDf(9L -> Seq(Seq((0L, 0L), (10L, 0L), (0L, 10L))))
    val inTri = single.select(
      Spatial.pointInRings(lit(2L), lit(2L), col("rings")).as("a"),
      Spatial.pointInPolygon(lit(2L), lit(2L),
        expr("rings[0]")).as("b")).as[(Boolean, Boolean)].collect()(0)
    assert(inTri == ((true, true)))
  }

  test("wkb_rings: shapefile WKB round-trips to exact integer rings (S3→X95)") {
    graft.functions.GraftFunctions.register(spark)
    val tmp = java.nio.file.Files.createTempFile("graft-shp-poly", ".shp")
    tmp.toFile.deleteOnExit()
    graft.ingest.Shapefile.syntheticPolygonShp(tmp, 3)
    val decoded = graft.ingest.Shapefile.read(spark, tmp.toString)
      .select(col("record_no"),
        graft.functions.GraftFunctions.wkbRings(col("geom_wkb"), 1L)
          .as("rings"))
    // record 1 sits at (100, 100): WKB closing vertices dropped, outer
    // ring first, its hole second — exact integers at scale 1
    val r1 = decoded.filter(col("record_no") === 1)
      .selectExpr("transform(rings, r -> transform(r, v -> array(v.x, v.y)))")
      .as[Seq[Seq[Seq[Long]]]].collect()(0)
    assert(r1 == Seq(
      Seq(Seq(100L, 100L), Seq(100L, 180L), Seq(180L, 180L), Seq(180L, 100L)),
      Seq(Seq(120L, 120L), Seq(160L, 120L), Seq(160L, 160L), Seq(120L, 160L))))
    // scale multiplies exactly
    val scaled = decoded.filter(col("record_no") === 1)
      .select(graft.functions.GraftFunctions
        .wkbRings(lit(null).cast("binary"), 1L)) // null in → null out
    assert(scaled.collect()(0).isNullAt(0))
    val s1000 = graft.ingest.Shapefile.read(spark, tmp.toString)
      .filter(col("record_no") === 1)
      .select(graft.functions.GraftFunctions.wkbRings(col("geom_wkb"), 1000L)
        .as("rings"))
      .selectExpr("rings[0][0].x").as[Long].collect()(0)
    assert(s1000 == 100000L)
    // non-polygon WKB and junk bytes decode to NULL, never throw
    val junk = Seq(
      (1, graft.ingest.Shapefile.pointWkb(1.0, 2.0)),
      (2, Array[Byte](9, 9, 9))).toDF("i", "wkb")
    assert(junk.select(graft.functions.GraftFunctions
        .wkbRings(col("wkb"), 1L).as("r"))
      .collect().forall(_.isNullAt(0)))
  }

  test("containsJoin guards: degenerate polys dropped, wide bbox refused") {
    val tri = polyDf(1L -> Seq((0L, 0L), (100L, 0L), (0L, 100L)))
    val degenerate = polyDf(2L -> Seq((0L, 0L), (5L, 5L))) // < 3 vertices
    val pts = Seq((1L, 10L, 10L)).toDF("id", "x", "y")
    assert(Spatial.containsJoin(pts, col("id"), col("x"), col("y"),
      degenerate, col("gid"), col("poly"), 10L).count() == 0)
    refused("cells")(
      Spatial.containsJoin(pts, col("id"), col("x"), col("y"),
        tri, col("gid"), col("poly"), cellSize = 1L, maxCellsPerPoly = 10L).collect())
    intercept[IllegalArgumentException](
      Spatial.containsJoin(pts, col("id"), col("x"), col("y"),
        tri, col("gid"), col("poly"), cellSize = 0L))
  }
}
