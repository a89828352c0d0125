package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.core._
import graft.sources.GraftArray
import scala.jdk.CollectionConverters._

/** Differential check of the one parquet decode path: generated sparse
  * arrays, every attribute type the fragment writer emits, are written
  * twice — plaintext and encrypted — and read back through the columnar
  * scan (disjoint fragments) and the row reader's latest-wins merge
  * (overlapping fragments). Both copies must read the same rows, and
  * those rows must be the latest-wins view of what was written,
  * including the fill of a column added after the first fragments and a
  * projection of that column alone. */
class DecodeDifferentialSpec extends SparkSpec {

  private val Key = "00112233445566778899aabbccddeeff"

  private val attrs: Seq[AttributeSpec] = Seq(
    AttributeSpec("b", ByteType), AttributeSpec("sh", ShortType),
    AttributeSpec("i", IntegerType), AttributeSpec("l", LongType),
    AttributeSpec("f", FloatType), AttributeSpec("d", DoubleType),
    AttributeSpec("bo", BooleanType), AttributeSpec("s", StringType),
    AttributeSpec("bin", BinaryType), AttributeSpec("dt", DateType),
    AttributeSpec("ts", TimestampType),
    AttributeSpec("dec", DecimalType(9, 2)),
    AttributeSpec("wide", DecimalType(20, 4)),
    AttributeSpec("emb", ArrayType(FloatType)))

  /** The column added after two fragments, with its declared fill (the
    * manifest's string form) and the value a pre-evolution row reads. */
  private val evolved: Seq[(DataType, String, Any)] = Seq(
    (IntegerType, "7", 7), (LongType, "-3", -3L), (DoubleType, "2.5", 2.5),
    (StringType, "fill", "fill"), (BooleanType, "true", true))

  private def value(dt: DataType, r: scala.util.Random): Any =
    if (r.nextInt(5) == 0) null
    else dt match {
      case ByteType => (r.nextInt(256) - 128).toByte
      case ShortType => (r.nextInt(65536) - 32768).toShort
      case IntegerType => r.nextInt()
      case LongType => r.nextLong()
      case FloatType => r.nextFloat() * 100 - 50
      case DoubleType => r.nextGaussian() * 1e6
      case BooleanType => r.nextBoolean()
      case StringType =>
        Seq.fill(r.nextInt(6))(Seq("a", "é", "日", "😀", "z")(r.nextInt(5))).mkString
      case BinaryType => Array.fill(r.nextInt(5))(r.nextInt(256).toByte)
      case DateType => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(r.nextInt(40000).toLong - 10000))
      case TimestampType => java.sql.Timestamp.from(java.time.Instant
        .ofEpochSecond(r.nextInt(2000000000).toLong, r.nextInt(1000000) * 1000L))
      case d: DecimalType => new java.math.BigDecimal(
        java.math.BigInteger.valueOf(r.nextLong() % math.pow(10, d.precision min 18).toLong),
        d.scale)
      case ArrayType(FloatType, _) =>
        Seq.fill(r.nextInt(4))(if (r.nextInt(6) == 0) null else Float.box(r.nextFloat()))
    }

  private def rows(keys: Range, cols: Seq[StructField], seed: Long): Seq[Row] = {
    val r = new scala.util.Random(seed)
    keys.map(k => Row.fromSeq(k.toLong +: cols.tail.map(c => value(c.dataType, r))))
  }

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head

  private def load(uri: String): DataFrame =
    spark.read.format("graftarray").option("path", uri).load()

  /** Writes the same three fragments into a plaintext and an encrypted
    * array: two before `e` is added, one after. Returns both URIs and
    * the latest-wins rows the arrays must read. */
  private def build(n: Int, seed: Long, overlap: Boolean,
      ev: (DataType, String, Any)): (Seq[String], Seq[Row]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_decode").toString
    val base = ArraySchema(ArrayKind.Sparse, Seq(DimensionSpec("k", LongType)), attrs)
    val before = base.toStruct.fields.toSeq
    val after = before :+ StructField("e", ev._1)
    val a = rows(0 until n, before, seed)
    val b = rows(n until 2 * n, before, seed + 1)
    // overlapping: rewrite the top half of the first fragment
    val c = rows(if (overlap) n / 2 until n else 2 * n until 3 * n, after, seed + 2)
    def write(uri: String, rs: Seq[Row], cols: Seq[StructField]): Unit =
      spark.createDataFrame(rs.asJava, StructType(cols)).coalesce(2)
        .write.format("graftarray").option("path", uri).mode("append").save()
    val uris = Seq(false, true).map { enc =>
      val uri = s"$dir/${if (enc) "enc" else "plain"}"
      GraftArray.create(spark, uri, base.copy(encrypted = enc))
      write(uri, a, before)
      write(uri, b, before)
      GraftArray.addColumn(spark, uri,
        AttributeSpec("e", ev._1, fillValue = Some(ev._2)))
      write(uri, c, after)
      uri
    }
    val newest = c.map(r => r.getLong(0) -> r).toMap
    val want = (a ++ b).map(r => Row.fromSeq(r.toSeq :+ ev._3))
      .filterNot(r => newest.contains(r.getLong(0))) ++ c
    (uris, want.sortBy(_.getLong(0)))
  }

  /** Rows with LIST values as plain Seqs and binary as Seqs, so that
    * Row equality compares contents. */
  private def norm(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(_.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.toList
    case v => v
  })

  test("plaintext and encrypted reads agree on the columnar and merge paths") {
    val prevKey = spark.conf.getOption(EncryptionKeys.ConfKey)
    spark.conf.set(EncryptionKeys.ConfKey, Key)
    val cases = for {
      n <- Gen.chooseNum(8, 40)
      seed <- Gen.long
      ev <- Gen.oneOf(evolved)
    } yield (n, seed, ev)
    val prop = Prop.forAllNoShrink(cases) { case (n, seed, ev) =>
      Seq(false, true).forall { overlap =>
        val (uris, want) = build(n, seed, overlap, ev)
        val reads = uris.map { uri =>
          val all = load(uri).orderBy("k")
          val evOnly = load(uri).select("e")
          // disjoint fragments scan columnar; an overlap forces merge
          // partitions, so the whole scan reads row-based
          assert(scanOf(load(uri)).supportsColumnar == !overlap, s"$uri plan")
          (norm(all.collect().toSeq),
            evOnly.collect().toSeq.map(r => Option(r.get(0))).sortBy(_.toString))
        }
        val wantEv = want.map(r => Option(r.get(r.length - 1))).sortBy(_.toString)
        reads.head == reads.last && reads.head._1 == norm(want) &&
          reads.head._2 == wantEv
      }
    }
    try {
      val res = SCTest.check(SCTest.Parameters.default
        .withMinSuccessfulTests(6).withInitialSeed(Seed(20261019L)), prop)
      assert(res.passed, res.status.toString)
    } finally prevKey match {
      case Some(k) => spark.conf.set(EncryptionKeys.ConfKey, k)
      case None => spark.conf.unset(EncryptionKeys.ConfKey)
    }
  }
}
