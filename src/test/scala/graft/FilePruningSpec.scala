package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.sources.GraftArray
import graft.functions.expressions.Hilbert2D

/** Cell-order clustering on write → per-file MBRs → file-level scan
  * pruning (the Spark analog of tile-extent-aligned layout). */
class FilePruningSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_fp").toString + "/arr"

  test("ROW_MAJOR clustering yields file-level pruning within a fragment") {
    val uri = tmp()
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType)))) // cellOrder ROW_MAJOR default
    // one fragment, 100k rows — range clustering spreads k across files
    GraftArray.write(spark, uri, spark.range(0, 100000)
      .select(col("id").as("k"), (col("id") % 97).cast("double").as("v")))
    val frag = GraftArray.store(spark, uri).listFragments().head
    assert(frag.files.size > 1, "need multiple files to test pruning")
    assert(frag.fileStats.nonEmpty)

    val df = spark.read.format("graftarray").option("path", uri).load()
    val q = df.filter(col("k").between(10L, 20L))
    assert(q.count() == 11)
    val files = scannedFiles(q)
    assert(files.size < frag.files.size,
      s"no file pruning: ${files.size} of ${frag.files.size} files scanned")
  }

  test("per-file pruning is latest-wins safe (newer overlapping fragment)") {
    val uri = tmp()
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType))))
    GraftArray.write(spark, uri, spark.range(0, 1000)
      .select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.write(spark, uri, spark.range(500, 600)
      .select(col("id").as("k"), lit(2.0).as("v"))) // overwrites 500–599
    val df = spark.read.format("graftarray").option("path", uri).load()
    val got = df.filter(col("k").between(595L, 605L)).orderBy("k")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == ((595L to 599L).map((_, 2.0)) ++
      (600L to 605L).map((_, 1.0))))
  }

  test("HILBERT cell order clusters and round-trips") {
    val uri = tmp()
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("x", LongType, Some("0"), Some("1023")),
        DimensionSpec("y", LongType, Some("0"), Some("1023"))),
      Seq(AttributeSpec("v", LongType)),
      cellOrder = "HILBERT"))
    val grid = spark.range(0, 1024).select(
      (col("id") % 32).as("x"), (col("id") / 32).as("y"), col("id").as("v"))
    GraftArray.write(spark, uri, grid)
    val back = GraftArray.load(spark, uri)
    assert(back.count() == 1024)
    assert(back.agg(sum("v")).collect()(0).getLong(0) == (0L until 1024).sum)
  }

  test("n-D Hilbert index is a true Hilbert curve (bijective, unit steps)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.HilbertNd
    def idx(coords: Long*) =
      HilbertNd.compute(new GenericArrayData(coords.toArray), 2)
    // 3 dims × 2 bits: all 64 cells must map to a permutation of 0..63
    val cells = for (x <- 0L until 4L; y <- 0L until 4L; z <- 0L until 4L)
      yield (idx(x, y, z), (x, y, z))
    assert(cells.map(_._1).toSet == (0L until 64L).toSet)
    // defining Hilbert property: consecutive indexes are GRID NEIGHBORS
    // (exactly one axis changes, by exactly 1)
    val byIdx = cells.toMap
    for (i <- 0L until 63L) {
      val (x0, y0, z0) = byIdx(i); val (x1, y1, z1) = byIdx(i + 1)
      val d = math.abs(x1 - x0) + math.abs(y1 - y0) + math.abs(z1 - z0)
      assert(d == 1, s"index $i -> ${i + 1} jumps $d steps")
    }
    // 4-D, 2 bits: same properties on 256 cells
    val cells4 = for (a <- 0L until 4L; b <- 0L until 4L;
                      c <- 0L until 4L; d <- 0L until 4L)
      yield (idx(a, b, c, d), Seq(a, b, c, d))
    assert(cells4.map(_._1).toSet == (0L until 256L).toSet)
    val byIdx4 = cells4.toMap
    for (i <- 0L until 255L) {
      val d = byIdx4(i).zip(byIdx4(i + 1)).map(p => math.abs(p._1 - p._2)).sum
      assert(d == 1, s"4-D index $i -> ${i + 1} jumps $d steps")
    }
  }

  test("3-D HILBERT clustering yields per-file MBR pruning") {
    val uri = tmp()
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("x", LongType, Some("0"), Some("63")),
        DimensionSpec("y", LongType, Some("0"), Some("63")),
        DimensionSpec("z", LongType, Some("0"), Some("63"))),
      Seq(AttributeSpec("v", LongType)),
      cellOrder = "HILBERT"))
    // full 64^3 / 4 grid: id → (x, y, z) lattice
    GraftArray.write(spark, uri, spark.range(0, 65536).select(
      (col("id") % 64).as("x"), (col("id") / 64 % 64).as("y"),
      (col("id") / 4096 % 16).as("z"), col("id").as("v")))
    val frag = GraftArray.store(spark, uri).listFragments().head
    assert(frag.files.size > 1, "need multiple files to test pruning")
    val df = spark.read.format("graftarray").option("path", uri).load()
    // small box query: Hilbert locality should confine it to few files
    val q = df.filter(col("x").between(0L, 7L) &&
      col("y").between(0L, 7L) && col("z").between(0L, 7L))
    assert(q.count() ==
      (0L until 65536L).count(i => i % 64 <= 7 && i / 64 % 64 <= 7 &&
        i / 4096 % 16 <= 7))
    val files = scannedFiles(q)
    assert(files.size < frag.files.size,
      s"no 3-D pruning: ${files.size} of ${frag.files.size} files scanned")
  }

  test("Hilbert curve locality: adjacent cells map to nearby indexes") {
    // d(xy) of neighbors differs by exactly 1 along the curve walk
    val seen = collection.mutable.Set[Long]()
    var prev = -1L
    // walk the order-4 curve by inverting: indexes 0..255 must be a
    // permutation (bijectivity sanity)
    for (x <- 0L until 16L; y <- 0L until 16L)
      seen += Hilbert2D.xy2d(x, y, 4)
    assert(seen == (0L until 256L).toSet)
    // origin's curve-neighbor is one of its grid neighbors
    val d00 = Hilbert2D.xy2d(0, 0, 4)
    assert(math.abs(d00 - Hilbert2D.xy2d(0, 1, 4)) == 1 ||
      math.abs(d00 - Hilbert2D.xy2d(1, 0, 4)) == 1)
  }
}
