package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.core._
import graft.sources.GraftArray
import scala.jdk.CollectionConverters._

/** The one fragment writer, seen from its manifests: whichever entry
  * writes the rows, each file's and the fragment's stats are those of
  * the rows the files hold, and a fragment directory holds only the
  * files its manifest lists. */
class FragmentWriteSpec extends SparkSpec with WriteEntries {
  import DecodeDifferentialSpec.{attrs, rows}

  private val schema =
    ArraySchema(ArrayKind.Sparse, Seq(DimensionSpec("k", LongType)), attrs)

  /** A cell in the manifest's storage domain: integral, DATE and
    * TIMESTAMP values as Long, floats as Double, decimals unscaled. */
  private def storage(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (d: DecimalType, b: java.math.BigDecimal) =>
      val u = BigInt(b.setScale(d.scale).unscaledValue)
      if (d.precision <= 18) u.toLong else u
    case (_: ArrayType, s: scala.collection.Seq[_]) => s.toList
    case (BinaryType, b: Array[Byte]) => b.toSeq
    case _ => TypedValue.normalize(dt, v)
  }

  private def lexicographic(a: Seq[Int], b: Seq[Int]): Int =
    scala.math.Ordering.Implicits.seqOrdering[Seq, Int].compare(a, b)

  /** The manifest's value order, written out independently: strings by
    * code point, binaries by unsigned byte, doubles as Double.compare. */
  private val order: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
    case (x: Long, y: Long) => x.compare(y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Boolean, y: Boolean) => x.compare(y)
    case (x: String, y: String) =>
      lexicographic(x.codePoints.toArray.toSeq, y.codePoints.toArray.toSeq)
    case (x: Seq[_], y: Seq[_]) =>
      lexicographic(x.map(v => v.asInstanceOf[Byte] & 0xff),
        y.map(v => v.asInstanceOf[Byte] & 0xff))
  }

  private def show(v: Any): String = v match {
    case b: Seq[_] =>
      java.util.Base64.getEncoder.encodeToString(b.map(_.asInstanceOf[Byte]).toArray)
    case other => other.toString
  }

  private def exact(xs: Seq[BigInt]): Option[Long] =
    Some(xs.sum).filter(_.isValidLong).map(_.toLong)

  /** The stats of one column over `vs` (storage values, nulls included). */
  private def model(dt: DataType, vs: Seq[Any]): ColumnStats = {
    val present = vs.filter(_ != null)
    val nulls = vs.size - present.size
    def extreme(min: Boolean) =
      if (present.isEmpty) None
      else Some(show(if (min) present.min(order) else present.max(order)))
    def bounded = ColumnStats(extreme(min = true), extreme(min = false), nulls, None, None)
    dt match {
      case d: DecimalType if d.precision > 18 =>
        ColumnStats(None, None, nulls, exact(present.map(_.asInstanceOf[BigInt])), None)
      case _: ArrayType => ColumnStats(None, None, nulls, None, None)
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType =>
        bounded.copy(sumLong = exact(present.map(v => BigInt(v.asInstanceOf[Long]))))
      case FloatType | DoubleType =>
        bounded.copy(sumDouble = Some(present.map(_.asInstanceOf[Double]).sum))
      case _ => bounded
    }
  }

  test("manifest stats equal a model of the rows on every write entry") {
    val fields = schema.toStruct.fields.toSeq
    val cases = for {
      n <- Gen.chooseNum(30, 60)
      seed <- Gen.long
    } yield (n, seed)
    val prop = Prop.forAllNoShrink(cases) { case (n, seed) =>
      val input = rows(0 until n, fields, seed)
      val df = spark.createDataFrame(input.asJava, schema.toStruct).repartition(3)
      def cells(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(r =>
        fields.indices.map(i => storage(fields(i).dataType, r.get(i)))).sortBy(_.head.asInstanceOf[Long])
      val wh = java.nio.file.Files.createTempDirectory("graft_stats").toString
      val cat = "gs" + new scala.util.Random(seed).alphanumeric.take(6).mkString.toLowerCase
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      entries.zipWithIndex.foreach { case (entry, e) =>
        val uri = s"$wh/t$e"
        GraftArray.create(spark, uri, schema)
        append(entry, df, s"$cat.t$e", uri)
        val frag = GraftArray.fragments(spark, uri).head
        val byFile = frag.files.map(f => f -> spark.read.parquet(s"$uri/$f").collect().toSeq)
        assert(frag.files.size >= 3, s"$entry: ${frag.files}")
        assert(cells(byFile.flatMap(_._2)) == cells(input), s"$entry: files hold other rows")
        assert(frag.rows == n && frag.fileRows == byFile.map { case (f, rs) => f -> rs.size.toLong }.toMap)
        fields.zipWithIndex.foreach { case (fd, i) =>
          val per = byFile.map { case (f, rs) =>
            f -> model(fd.dataType, rs.map(r => storage(fd.dataType, r.get(i)))) }
          per.foreach { case (f, want) =>
            assert(frag.fileStats(f)(fd.name) == want, s"$entry ${fd.name} file $f") }
          val all = model(fd.dataType, byFile.flatMap(_._2).map(r => storage(fd.dataType, r.get(i))))
          val sums = per.map(_._2)
          val want = all.copy(
            sumLong = if (sums.forall(_.sumLong.isDefined))
              exact(sums.flatMap(_.sumLong).map(BigInt(_))) else None,
            sumDouble = if (sums.forall(_.sumDouble.isDefined))
              Some(sums.flatMap(_.sumDouble).sum) else None)
          assert(frag.stats(fd.name) == want, s"$entry ${fd.name}")
        }
      }
      true
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(3).withInitialSeed(Seed(20261021L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("a writer task without rows leaves no file in the fragment") {
    val wh = java.nio.file.Files.createTempDirectory("graft_empty_task").toString
    spark.conf.set("spark.sql.catalog.gwe", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwe.warehouse", wh)
    spark.sql("CREATE TABLE gwe.t (k BIGINT, v BIGINT) TBLPROPERTIES('graft.dimensions'='k')")
    // 3 rows over 8 shuffle partitions: at least 5 writer tasks get none
    spark.range(0, 3).select(col("id").as("k"), col("id").as("v")).repartition(8)
      .createOrReplaceTempView("few_rows")
    spark.sql("INSERT INTO gwe.t SELECT k, v FROM few_rows")
    val frag = GraftArray.fragments(spark, s"$wh/t").head
    val onDisk = new java.io.File(s"$wh/t/frag_${frag.id}").list()
      .filter(_.endsWith(".parquet")).map(f => s"frag_${frag.id}/$f").toSet
    assert(frag.rows == 3 && frag.files.size <= 3)
    assert(onDisk == frag.files.toSet, s"on disk: $onDisk, manifest: ${frag.files}")
  }
}
