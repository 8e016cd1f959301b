package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.Schemas
import graft.dedup.Dedup

/** Property tests (SURVEY.md §5c): schema-merge algebra and dedup
  * idempotence over generated inputs (plain scalacheck generators driven
  * with explicit seeds — scalatestplus bridge is not on the classpath). */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val fieldGen: Gen[StructField] = for {
    name <- Gen.oneOf("a", "b", "c", "d", "e", "f")
    tpe <- Gen.oneOf[DataType](IntegerType, LongType, StringType, DoubleType)
  } yield StructField(name, tpe)

  private val schemaGen: Gen[StructType] =
    Gen.listOfN(4, fieldGen).map(fs => StructType(fs))

  test("mergeDtype: no duplicate names, keeps first occurrence, covers both inputs") {
    for ((a, b) <- samples(schemaGen, 40).zip(samples(schemaGen, 40).reverse)) {
      val merged = Schemas.mergeDtype(a, b)
      val names = merged.fieldNames.toSeq
      assert(names.distinct == names)
      assert((a.fieldNames ++ b.fieldNames).toSet == names.toSet)
      a.headOption.foreach(f => assert(merged(f.name).dataType == f.dataType))
      assert(Schemas.mergeDtype(a, a).fieldNames.toSeq == a.fieldNames.toSeq.distinct)
    }
  }

  test("exactKeepFirst is idempotent and keeps the minimum key per group") {
    import spark.implicits._
    val rowsGen = Gen.listOfN(30, for {
      id <- Gen.chooseNum(0L, 100L)
      text <- Gen.oneOf("t1", "t2", "t3", "t4")
    } yield (id, text))
    for (rows <- samples(rowsGen, 5) if rows.nonEmpty) {
      val df = rows.toDF("doc_id", "text")
      val once = Dedup.exactKeepFirst(df, Seq("text"), col("doc_id"))
      val twice = Dedup.exactKeepFirst(once, Seq("text"), col("doc_id"))
      val o = once.as[(Long, String)].collect().toSet
      assert(twice.as[(Long, String)].collect().toSet == o)
      val expected = rows.groupBy(_._2).toSeq.map { case (t, rs) => (rs.map(_._1).min, t) }.toSet
      assert(o == expected)
    }
  }

  test("fixMojibake inverts byte-level corruption on arbitrary in-domain text") {
    import spark.implicits._
    // in-domain = ASCII plus the 17 repairable chars, in any arrangement —
    // including adjacency patterns the X47 confluence analysis reasons
    // about (repaired chars directly touching other corruptions)
    val alphabet = "’“–—…éèêàäöüñç«»°".toSeq ++
      Seq(' ', 'a', 'z', '0', '.', '\n', '#')
    val textGen = Gen.listOf(Gen.oneOf(alphabet)).map(_.mkString)
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    val cleans = samples(textGen, 60).distinct
    val corrupt = cleans.map(s =>
      new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), cp1252))
    val repaired = corrupt.toDF("t")
      .select(graft.text.Markup.fixMojibake(col("t"))).as[String].collect()
    repaired.zip(cleans).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got == want,
        s"repair diverged on sample $i: ${want.map(_.toInt)} vs ${got.map(_.toInt)}")
    }
  }

  test("versioned Table: history is append-only, contiguous, and time travel is stable") {
    import spark.implicits._
    val t = graft.core.Table(spark,
      graft.core.Scratch.workDir("prop-vt").toString, "pv")
    val batchGen = Gen.listOfN(5, Gen.chooseNum(0, 1000))
    val batches = samples(batchGen, 6)
    val written = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    batches.foreach { b =>
      val v = t.writeVersion(b.toDF("x"))
      written += b
      // invariants after every commit: ids contiguous from 0, latest = last
      assert(t.versions == (0L until written.size.toLong))
      // every historical version still reads back exactly its own content
      written.zipWithIndex.foreach { case (expect, i) =>
        assert(t.readVersion(i.toLong).as[Int].collect().sorted.toSeq ==
          expect.sorted, s"version $i drifted after commit $v")
      }
    }
  }
}
