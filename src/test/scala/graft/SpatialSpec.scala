package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.core._
import graft.sources.GraftArray
import graft.functions.Wkb

/** Spatial predicate pushdown parity (reference P7,
  * ha_mytile.cc:2312–2507 + routing 2825–2830): ST_EQUALS/ST_OVERLAPS
  * recognition, the geometry-COLUMN shape over `_X`/`_Y` dims with
  * PAD_X/PAD_Y metadata, and the file pruning each rewrite buys. */
class SpatialSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_sp").toString + "/arr"

  private def cat(): String = {
    val c = "gsp" + java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
    spark.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse",
      java.nio.file.Files.createTempDirectory("graft_spw").toString)
    c
  }

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02X").mkString

  /** Points (i.toDouble, (i*7 % 1000).toDouble) for i in 0..n — wide
    * spread in x so range clustering gives tight per-file x-MBRs. */
  private def pointArray(n: Int): String = {
    val uri = tmp()
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("x", DoubleType), DimensionSpec("y", DoubleType)),
      Seq(AttributeSpec("id", LongType)), allowsDups = true))
    GraftArray.write(spark, uri, spark.range(0, n).select(
      col("id").cast("double").as("x"),
      (col("id") * 7 % 1000).cast("double").as("y"), col("id")))
    uri
  }

  test("st_overlaps over st_point is recognized and prunes files") {
    val uri = pointArray(100000)
    val frag = GraftArray.store(spark, uri).listFragments().head
    assert(frag.files.size > 1)
    val c = cat()
    spark.read.format("graftarray").option("path", uri).load()
      .createOrReplaceTempView(s"pts_$c")
    val q = spark.sql(
      s"""SELECT id FROM pts_$c
         |WHERE $c.st_overlaps($c.st_point(x, y),
         |  X'${hex(Wkb.box(100.0, 0.0, 120.0, 1000.0))}')""".stripMargin)
    assert(q.count() == 21) // x in [100, 120]
    val files = scannedFiles(q)
    assert(files.size < frag.files.size,
      s"no pruning: ${files.size} of ${frag.files.size} files scanned")
  }

  test("st_equals: degenerate constant hits one point; box constant plans empty") {
    val uri = pointArray(1000)
    val c = cat()
    spark.read.format("graftarray").option("path", uri).load()
      .createOrReplaceTempView(s"pe_$c")
    val one = spark.sql(
      s"""SELECT id FROM pe_$c
         |WHERE $c.st_equals($c.st_point(x, y),
         |  X'${hex(Wkb.point(42.0, (42 * 7 % 1000).toDouble))}')""".stripMargin)
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(42L))
    // a non-degenerate constant can never equal a point's MBR: the
    // unsatisfiable rewrite must plan ZERO partitions
    val none = spark.sql(
      s"""SELECT id FROM pe_$c
         |WHERE $c.st_equals($c.st_point(x, y),
         |  X'${hex(Wkb.box(1.0, 1.0, 2.0, 2.0))}')""".stripMargin)
    assert(none.count() == 0)
    val parts = none.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions }.flatten
    assert(parts.isEmpty, s"expected empty scan, got ${parts.size} partitions")
  }

  test("geometry-column shape: padded MBR rewrite prunes, residual stays exact") {
    val uri = tmp()
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("_X", DoubleType), DimensionSpec("_Y", DoubleType)),
      Seq(AttributeSpec("wkb_geometry", BinaryType),
        AttributeSpec("id", LongType)), allowsDups = true))
    // boxes of half-extent (i%3) centered at (i, i*7%1000): PAD = full
    // max widths (4.0, 4.0)
    val mkBox = udf((x: Double, y: Double, w: Double) =>
      Wkb.box(x - w, y - w, x + w, y + w))
    GraftArray.write(spark, uri, spark.range(0, 100000).select(
      col("id").cast("double").as("_X"),
      (col("id") * 7 % 1000).cast("double").as("_Y"),
      mkBox(col("id").cast("double"),
        (col("id") * 7 % 1000).cast("double"),
        (col("id") % 3).cast("double")).as("wkb_geometry"),
      col("id")))
    GraftArray.putMetadata(spark, uri, Map("PAD_X" -> "4.0",
      "PAD_Y" -> "4.0", "GEOMETRY_ATTRIBUTE_NAME" -> "wkb_geometry"))
    val frag = GraftArray.store(spark, uri).listFragments().head
    assert(frag.files.size > 1)
    val c = cat()
    spark.read.format("graftarray").option("path", uri).load()
      .createOrReplaceTempView(s"geo_$c")
    val box = Wkb.box(500.0, 0.0, 520.0, 1000.0)
    val q = spark.sql(
      s"""SELECT id FROM geo_$c
         |WHERE $c.st_intersects($c.st_geomfromwkb(wkb_geometry),
         |  X'${hex(box)}')""".stripMargin)
    // exact expectation: |_X - [500,520]| within the row's own extent
    val expect = (0L until 100000L).count { i =>
      val w = (i % 3).toDouble
      i - w <= 520.0 && i + w >= 500.0
    }
    assert(q.count() == expect)
    val files = scannedFiles(q)
    assert(files.size < frag.files.size,
      s"no pruning: ${files.size} of ${frag.files.size} files scanned")
    // st_equals through the geometry-column shape prunes the same way
    // but returns only exact-MBR matches (the residual decides)
    val eq = spark.sql(
      s"""SELECT id FROM geo_$c
         |WHERE $c.st_equals($c.st_geomfromwkb(wkb_geometry),
         |  X'${hex(Wkb.box(699.0, 899.0, 701.0, 901.0))}')""".stripMargin)
    // id=700: center (700, 700*7%1000=900), w = 700%3 = 1 →
    // box [699,899]×[701,901]
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(700L))
  }

  test("geometry-column rewrite refuses to fire without pad metadata") {
    // Absent PAD_X/PAD_Y = unknown geometry extents: the rewrite must
    // NOT fire (an assumed 0 pad would prune rows whose geometry
    // intersects while its midpoint lies outside the constant MBR).
    // Row id=9: box [9,11]×[-1,1] with midpoint (10, 0) — midpoint is
    // OUTSIDE the query box [10.5, 20]×[-1, 1]... so put midpoint at
    // 10 and query from 10.5: box still intersects. It must come back.
    val uri = tmp()
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("_X", DoubleType), DimensionSpec("_Y", DoubleType)),
      Seq(AttributeSpec("wkb_geometry", BinaryType),
        AttributeSpec("id", LongType)), allowsDups = true))
    val mkBox = udf((x: Double, y: Double) =>
      Wkb.box(x - 1.0, y - 1.0, x + 1.0, y + 1.0))
    GraftArray.write(spark, uri, spark.range(0, 1000).select(
      col("id").cast("double").as("_X"), lit(0.0).as("_Y"),
      mkBox(col("id").cast("double"), lit(0.0)).as("wkb_geometry"),
      col("id")))
    // deliberately NO putMetadata — pads unknown
    val c = cat()
    spark.read.format("graftarray").option("path", uri).load()
      .createOrReplaceTempView(s"gp_$c")
    val q = spark.sql(
      s"""SELECT id FROM gp_$c
         |WHERE $c.st_overlaps($c.st_geomfromwkb(wkb_geometry),
         |  X'${hex(Wkb.box(10.5, -0.5, 20.0, 0.5))}')""".stripMargin)
    // boxes [id-1, id+1] intersect [10.5, 20] for id in 10..21 — with
    // a (wrong) zero-pad rewrite, id=10 (midpoint 10 < 10.5) and
    // id=21 (midpoint 21 > 20) would be silently dropped
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (10L to 21L))
  }

  test("DELETE with a geometry-column ST_* predicate stays exact (no Approx tombstone)") {
    // the Approx rewrite must be rejected by canDeleteWhere so the
    // delete runs row-level and removes EXACTLY the intersecting rows
    val c = cat()
    val wh = spark.conf.get(s"spark.sql.catalog.$c.warehouse")
    spark.sql(
      s"""CREATE TABLE $c.geodel
         |(_X DOUBLE, _Y DOUBLE, wkb_geometry BINARY, id BIGINT)
         |TBLPROPERTIES('graft.dimensions'='_X,_Y',
         |  'graft.allows_dups'='true')""".stripMargin)
    val uri = s"$wh/geodel"
    val mkBox = udf((x: Double, y: Double) =>
      Wkb.box(x - 1.0, y - 1.0, x + 1.0, y + 1.0))
    GraftArray.write(spark, uri, spark.range(0, 100).select(
      col("id").cast("double").as("_X"), lit(0.0).as("_Y"),
      mkBox(col("id").cast("double"), lit(0.0)).as("wkb_geometry"),
      col("id")))
    GraftArray.putMetadata(spark, uri, Map("PAD_X" -> "2.0", "PAD_Y" -> "2.0"))
    spark.sql(
      s"""DELETE FROM $c.geodel
         |WHERE $c.st_intersects($c.st_geomfromwkb(wkb_geometry),
         |  X'${hex(Wkb.box(50.5, -0.5, 60.0, 0.5))}')""".stripMargin)
    val left = spark.sql(s"SELECT id FROM $c.geodel ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    // boxes [id-1, id+1] intersect [50.5, 60] for id in 50..61 — those
    // and ONLY those must be gone (an Approx tombstone with pad 2
    // would have deleted 48..62; a 0-pad one would keep 50 and 61)
    assert(left == ((0L until 50L) ++ (62L until 100L)))
  }
}
