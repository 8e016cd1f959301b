package graft.ingest

import java.io.FileOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.Table

class IngestSpec extends SparkSpec {

  test("unzip extracts entries and rejects zip-slip (S1)") {
    val dir = graft.core.Scratch.workDir("zip")
    val zip = dir.resolve("a.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zip.toFile))
    zos.putNextEntry(new ZipEntry("data/f1.csv")); zos.write("id\n1\n".getBytes); zos.closeEntry()
    zos.putNextEntry(new ZipEntry("f2.txt")); zos.write("hi".getBytes); zos.closeEntry()
    zos.close()
    val out = Ingest.unzip(zip, dir.resolve("out"))
    assert(out.map(_.getFileName.toString).toSet == Set("f1.csv", "f2.txt"))
    assert(Files.readString(dir.resolve("out/data/f1.csv")) == "id\n1\n")

    val evil = dir.resolve("evil.zip")
    val z2 = new ZipOutputStream(new FileOutputStream(evil.toFile))
    z2.putNextEntry(new ZipEntry("../escape.txt")); z2.write("x".getBytes); z2.closeEntry()
    z2.close()
    intercept[IllegalArgumentException](Ingest.unzip(evil, dir.resolve("out2")))
  }

  test("csvLoad parses with explicit schema into a parquet table (S2)") {
    val dir = graft.core.Scratch.workDir("csv").toString
    Files.writeString(Paths.get(s"$dir/in.csv"), "id;name\n1;alpha\n2;\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val t = Ingest.csvLoad(spark, s"$dir/in.csv", Table(spark, dir, "loaded"),
      schema, header = true, delimiter = ";")
    val rows = t.read.orderBy("id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows(1).isNullAt(1)) // empty string -> null via nullValue
  }

  test("orcLoad round-trips an ORC export into a parquet table (S2)") {
    val dir = graft.core.Scratch.workDir("orc").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.orc(s"$dir/export.orc")
    val t = Ingest.orcLoad(spark, s"$dir/export.orc", Table(spark, dir, "fromorc"))
    val rows = t.read.orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("parquetEvolvedLoad unions schema versions by name; mismatched types fail (S2)") {
    val dir = graft.core.Scratch.workDir("evolve").toString
    import spark.implicits._
    // v1 batch: (id, name); v2 batch adds score — a reload must surface
    // score as null on v1 rows, binding by name, dropping nothing
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(s"$dir/in")
    Seq((3L, "c", 0.5)).toDF("id", "name", "score")
      .write.mode("append").parquet(s"$dir/in")
    val t = Ingest.parquetEvolvedLoad(spark, s"$dir/in", Table(spark, dir, "ev"))
    val rows = t.read.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2) && rows(2).getDouble(2) == 0.5)
    // same-named columns with different types (here: int vs long) must fail
    // the load loudly — the footer merge does not promote, never coerces
    Seq((1, "x")).toDF("id", "name").write.parquet(s"$dir/bad")
    Seq((2L, "y")).toDF("id", "name").write.mode("append").parquet(s"$dir/bad")
    intercept[org.apache.spark.SparkException](
      Ingest.parquetEvolvedLoad(spark, s"$dir/bad", Table(spark, dir, "bad")))
  }

  test("textLoad lands one row per line with file provenance; wholetext per file (S2)") {
    val dir = graft.core.Scratch.workDir("txt").toString
    Files.writeString(Paths.get(s"$dir/corpus.txt"), "doc one\ndoc two\n")
    val t = Ingest.textLoad(spark, s"$dir/corpus.txt", Table(spark, dir, "lines"))
    val rows = t.read.orderBy("value").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("doc one", "doc two"))
    assert(rows.forall(_.getString(1).endsWith("corpus.txt")))
    val whole = Ingest.textLoad(spark, s"$dir/corpus.txt",
      Table(spark, dir, "whole"), wholetext = true)
    assert(whole.read.collect().map(_.getString(0)).toSeq == Seq("doc one\ndoc two\n"))
  }

  test("jsonlLoad lands JSON-lines as a parquet table; corrupt lines survive (S2)") {
    val dir = graft.core.Scratch.workDir("jsonl").toString
    Files.writeString(Paths.get(s"$dir/docs.jsonl"),
      """{"doc_id": 1, "text": "alpha"}
        |{"doc_id": 2, "text": "beta"}
        |not json at all
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val t = Ingest.jsonlLoad(spark, s"$dir/docs.jsonl", Table(spark, dir, "docs"), schema)
    val rows = t.read.orderBy("doc_id").collect()
    assert(rows.length == 3)
    assert(rows.map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq == Seq(-1L, 1L, 2L))
    // the malformed line lands in _corrupt_record instead of failing the load
    assert(rows(0).getString(2) == "not json at all")
  }

  test("LoadSpec declarative config drives the load end to end (S2 embulk config)") {
    val dir = graft.core.Scratch.workDir("spec").toString
    Files.writeString(Paths.get(s"$dir/in.csv"), "id|price|ok\n1|2.5|true\n2|0.5|false\n")
    val spec = Ingest.LoadSpec(
      path = s"$dir/in.csv", dir = dir, table = "landed",
      columns = Seq(Ingest.ColumnSpec("id", "long"),
        Ingest.ColumnSpec("price", "double"), Ingest.ColumnSpec("ok", "boolean")),
      delimiter = "|")
    val t = Ingest.load(spark, spec)
    val rows = t.read.orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq ==
      Seq((1L, 2.5, true), (2L, 0.5, false)))
    // append mode accumulates; bad type name rejects
    Ingest.load(spark, spec.copy(mode = "append"))
    assert(t.read.count() == 4)
    intercept[IllegalArgumentException](
      Ingest.load(spark, spec.copy(columns = Seq(Ingest.ColumnSpec("id", "varchar")))))
  }

  test("shapefile reader parses point records to WKB (S3)") {
    // Hand-build a minimal .shp: header + two point records, per the public
    // ESRI spec (file code 9994, LE shape type 1, x/y doubles).
    val recs = Seq((1, 2.5, -3.5), (2, 0.0, 7.25))
    val contentBytes = 20 // int type + 2 doubles
    val fileLen = 100 + recs.size * (8 + contentBytes)
    val buf = ByteBuffer.allocate(fileLen)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(0, 9994)
    buf.putInt(24, fileLen / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(32, 1000) // version
    buf.putInt(36, 1)    // shape type point
    var off = 100
    recs.foreach { case (no, x, y) =>
      buf.order(ByteOrder.BIG_ENDIAN)
      buf.putInt(off, no); buf.putInt(off + 4, contentBytes / 2)
      buf.order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(off + 8, 1); buf.putDouble(off + 12, x); buf.putDouble(off + 20, y)
      off += 8 + contentBytes
    }
    val dir = graft.core.Scratch.workDir("shp")
    val shp = dir.resolve("pts.shp")
    Files.write(shp, buf.array())

    val df = Shapefile.read(spark, shp.toString)
    val rows = df.orderBy("record_no").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getInt(1) == 1))
    val wkb = ByteBuffer.wrap(rows(0).getAs[Array[Byte]](2)).order(ByteOrder.LITTLE_ENDIAN)
    assert(wkb.get(0) == 1 && wkb.getInt(1) == 1)
    assert(wkb.getDouble(5) == 2.5 && wkb.getDouble(13) == -3.5)
  }

  test("multipoint record converts to WKB MultiPoint (S3)") {
    // one MultiPoint record with 3 points: type(4) + bbox(32) + count(4) +
    // 3 × 16-byte points, per the ESRI spec
    val pts = Seq((1.5, -2.5), (0.0, 4.0), (-7.25, 8.0))
    val contentBytes = 4 + 32 + 4 + 16 * pts.size
    val fileLen = 100 + 8 + contentBytes
    val buf = ByteBuffer.allocate(fileLen)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(0, 9994)
    buf.putInt(24, fileLen / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(32, 1000) // version
    buf.putInt(36, 8)    // shape type multipoint
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(100, 1); buf.putInt(104, contentBytes / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    var off = 108
    buf.putInt(off, 8); off += 4           // shape type
    off += 32                              // bbox (unread)
    buf.putInt(off, pts.size); off += 4
    pts.foreach { case (x, y) =>
      buf.putDouble(off, x); buf.putDouble(off + 8, y); off += 16
    }
    val dir = graft.core.Scratch.workDir("shp-mp")
    val shp = dir.resolve("mp.shp")
    Files.write(shp, buf.array())

    val row = Shapefile.read(spark, shp.toString).collect().head
    assert(row.getInt(1) == 8)
    val wkb = ByteBuffer.wrap(row.getAs[Array[Byte]](2)).order(ByteOrder.LITTLE_ENDIAN)
    assert(wkb.get(0) == 1 && wkb.getInt(1) == 4) // WKB MultiPoint
    assert(wkb.getInt(5) == pts.size)
    pts.zipWithIndex.foreach { case ((x, y), i) =>
      val base = 9 + 21 * i
      assert(wkb.get(base) == 1 && wkb.getInt(base + 1) == 1) // nested Point
      assert(wkb.getDouble(base + 5) == x && wkb.getDouble(base + 13) == y)
    }
  }

  test("polygon with hole converts to WKB MultiPolygon; polyline to MultiLineString (S3)") {
    // outer ring CW (ESRI convention), hole CCW, both closed
    val outer = Array((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0))
    val hole = Array((2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0))
    val wkb = ByteBuffer.wrap(Shapefile.polygonWkb(Seq(outer, hole)))
      .order(ByteOrder.LITTLE_ENDIAN)
    assert(wkb.get(0) == 1 && wkb.getInt(1) == 6) // MultiPolygon
    assert(wkb.getInt(5) == 1)                    // one polygon
    assert(wkb.get(9) == 1 && wkb.getInt(10) == 3) // nested Polygon
    assert(wkb.getInt(14) == 2)                   // two rings: outer + hole
    assert(wkb.getInt(18) == 5)                   // outer ring has 5 points
    assert(wkb.getDouble(22) == 0.0 && wkb.getDouble(30) == 0.0)
    // two CW rings -> two polygons
    val two = ByteBuffer.wrap(Shapefile.polygonWkb(Seq(outer, outer.map(p => (p._1 + 20, p._2)))))
      .order(ByteOrder.LITTLE_ENDIAN)
    assert(two.getInt(5) == 2)

    val line = Array((0.0, 0.0), (1.0, 1.0), (2.0, 0.5))
    val lw = ByteBuffer.wrap(Shapefile.polyLineWkb(Seq(line)))
      .order(ByteOrder.LITTLE_ENDIAN)
    assert(lw.get(0) == 1 && lw.getInt(1) == 5) // MultiLineString
    assert(lw.getInt(5) == 1 && lw.get(9) == 1 && lw.getInt(10) == 2)
    assert(lw.getInt(14) == 3)
    assert(lw.getDouble(18 + 16) == 1.0) // second point x (points start at 18)

    // end-to-end: a .shp containing one polygon record parses to that WKB
    val parts = Seq(outer, hole)
    val contentBytes = 44 + 4 * parts.size + 16 * parts.map(_.length).sum
    val fileLen = 100 + 8 + contentBytes
    val buf = ByteBuffer.allocate(fileLen)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(0, 9994); buf.putInt(24, fileLen / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(32, 1000); buf.putInt(36, 5)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(100, 1); buf.putInt(104, contentBytes / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    var off = 108
    buf.putInt(off, 5); off += 4          // shape type polygon
    off += 32                             // bbox (zeros fine for the parser)
    buf.putInt(off, parts.size); off += 4
    buf.putInt(off, parts.map(_.length).sum); off += 4
    var start = 0
    parts.foreach { p => buf.putInt(off, start); off += 4; start += p.length }
    parts.flatten.foreach { case (x, y) =>
      buf.putDouble(off, x); buf.putDouble(off + 8, y); off += 16
    }
    val dir = graft.core.Scratch.workDir("shp-poly")
    val shp = dir.resolve("poly.shp")
    Files.write(shp, buf.array())
    val row = Shapefile.read(spark, shp.toString).collect().head
    assert(row.getInt(1) == 5)
    assert(row.getAs[Array[Byte]](2).toSeq ==
      Shapefile.polygonWkb(Seq(outer, hole)).toSeq)
  }

  /** Assemble a single-record .shp with the given shape type and LE content. */
  private def singleRecordShp(shapeType: Int, content: Array[Byte]): String = {
    val fileLen = 100 + 8 + content.length
    val buf = ByteBuffer.allocate(fileLen)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(0, 9994); buf.putInt(24, fileLen / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(32, 1000); buf.putInt(36, shapeType)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(100, 1); buf.putInt(104, content.length / 2)
    System.arraycopy(content, 0, buf.array(), 108, content.length)
    val shp = graft.core.Scratch.workDir("shp-zm").resolve("one.shp")
    Files.write(shp, buf.array())
    shp.toString
  }

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  test("Z and M shapefile variants convert to ISO WKB (S3)") {
    // PointZ with measure -> WKB 3001 (ZM), coords in x y z m order
    val pzm = le(36)
    pzm.putInt(11); pzm.putDouble(1.0); pzm.putDouble(2.0)
    pzm.putDouble(3.0); pzm.putDouble(4.0)
    val r1 = Shapefile.parse(singleRecordShp(11, pzm.array())).head
    val w1 = ByteBuffer.wrap(r1.getAs[Array[Byte]](2)).order(ByteOrder.LITTLE_ENDIAN)
    assert(w1.getInt(1) == 3001)
    assert((1 to 4).map(i => w1.getDouble(5 + 8 * (i - 1))) == Seq(1.0, 2.0, 3.0, 4.0))

    // PointZ without the optional measure block -> WKB 1001 (Z)
    val pz = le(28)
    pz.putInt(11); pz.putDouble(1.0); pz.putDouble(2.0); pz.putDouble(3.0)
    val r2 = Shapefile.parse(singleRecordShp(11, pz.array())).head
    assert(ByteBuffer.wrap(r2.getAs[Array[Byte]](2))
      .order(ByteOrder.LITTLE_ENDIAN).getInt(1) == 1001)

    // PointM whose measure is the ESRI no-data sentinel -> plain 2D point
    val pm = le(28)
    pm.putInt(21); pm.putDouble(5.0); pm.putDouble(6.0); pm.putDouble(-1e40)
    val r3 = Shapefile.parse(singleRecordShp(21, pm.array())).head
    val w3 = ByteBuffer.wrap(r3.getAs[Array[Byte]](2)).order(ByteOrder.LITTLE_ENDIAN)
    assert(w3.getInt(1) == 1 && w3.getDouble(5) == 5.0)

    // PolyLineZ, one part, two points, Z block, no M block:
    // MultiLineString Z (1005) with a nested LineString Z (1002)
    val plz = le(44 + 4 + 2 * 16 + 16 + 2 * 8)
    plz.putInt(13); plz.position(36)
    plz.putInt(1); plz.putInt(2) // numParts, numPoints
    plz.putInt(0)                // part 0 start
    plz.putDouble(0.0); plz.putDouble(0.0); plz.putDouble(1.0); plz.putDouble(1.0)
    plz.putDouble(10.0); plz.putDouble(20.0) // z range
    plz.putDouble(10.0); plz.putDouble(20.0) // z values
    val r4 = Shapefile.parse(singleRecordShp(13, plz.array())).head
    val w4 = ByteBuffer.wrap(r4.getAs[Array[Byte]](2)).order(ByteOrder.LITTLE_ENDIAN)
    assert(w4.getInt(1) == 1005 && w4.getInt(5) == 1)
    assert(w4.getInt(10) == 1002 && w4.getInt(14) == 2)
    // first point (0, 0, 10): z rides as the third double
    assert(w4.getDouble(18 + 16) == 10.0)

    // MultiPointZ whose M block is entirely no-data -> MultiPoint Z (1004)
    val mpz = le(40 + 2 * 16 + (16 + 2 * 8) * 2)
    mpz.putInt(18); mpz.position(36)
    mpz.putInt(2)
    mpz.putDouble(1.0); mpz.putDouble(2.0); mpz.putDouble(3.0); mpz.putDouble(4.0)
    mpz.putDouble(7.0); mpz.putDouble(8.0)   // z range
    mpz.putDouble(7.0); mpz.putDouble(8.0)   // z values
    mpz.putDouble(0.0); mpz.putDouble(0.0)   // m range
    mpz.putDouble(-1e40); mpz.putDouble(-1e40) // m values: all no-data
    val r5 = Shapefile.parse(singleRecordShp(18, mpz.array())).head
    val w5 = ByteBuffer.wrap(r5.getAs[Array[Byte]](2)).order(ByteOrder.LITTLE_ENDIAN)
    assert(w5.getInt(1) == 1004 && w5.getInt(5) == 2)
    // nested PointZ: marker(1) + type 1001 + x y z
    assert(w5.getInt(10) == 1001)
    assert(w5.getDouble(14) == 1.0 && w5.getDouble(30) == 7.0)

    // a record with a corrupt numPoints degrades to passthrough, not a crash
    val bad = le(48)
    bad.putInt(13); bad.position(36); bad.putInt(1); bad.putInt(1000000); bad.putInt(0)
    val r6 = Shapefile.parse(singleRecordShp(13, bad.array())).head
    assert(r6.isNullAt(2) && r6.getAs[Array[Byte]](3).length == 48)
  }
}
