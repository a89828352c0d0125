package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.core._
import graft.sources.GraftArray
import scala.jdk.CollectionConverters._

/** Differential check of the one partition reader: generated sparse
  * arrays, every attribute type the fragment writer emits, are written
  * twice — plaintext and encrypted — and read back through simple
  * partitions (disjoint fragments) and latest-wins merge partitions
  * (overlapping fragments). Both copies must read the same rows, and
  * those rows must be the latest-wins view of what was written,
  * including the fill of a column added after the first fragments and a
  * projection of that column alone. A second property reads every other
  * partition kind — delete tombstones by predicate and by coordinate,
  * hash ownership, dense fills — against a latest-wins model of the
  * versions written, provenance columns included. Every scan reads
  * columnar. */
class DecodeDifferentialSpec extends SparkSpec {
  import DecodeDifferentialSpec._

  private val Key = "00112233445566778899aabbccddeeff"

  /** The column added after two fragments, with its declared fill (the
    * manifest's string form) and the value a pre-evolution row reads. */
  private val evolved: Seq[(DataType, String, Any)] = Seq(
    (IntegerType, "7", 7), (LongType, "-3", -3L), (DoubleType, "2.5", 2.5),
    (StringType, "fill", "fill"), (BooleanType, "true", true))

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
          // an overlap plans merge partitions; both layouts read columnar
          assert(scanOf(load(uri)).supportsColumnar, s"$uri plan")
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

  /** The versions of a cell not yet masked, oldest first: the model
    * of fragments, tombstones and latest-wins the scans must match. */
  private class Model[K] {
    case class Version(fragId: String, ts: Long, v: Long, s: String)
    val cells = scala.collection.mutable.Map.empty[K, List[Version]]
    def put(k: K, ver: Version): Unit =
      cells(k) = cells.getOrElse(k, Nil) :+ ver
    /** A tombstone masks the matching versions committed before it:
      * every version the model holds. */
    def mask(hit: (K, Version) => Boolean): Unit =
      cells.keys.toSeq.foreach { k =>
        cells(k) = cells(k).filterNot(hit(k, _))
        if (cells(k).isEmpty) cells.remove(k)
      }
    def visible: Map[K, Version] = cells.map { case (k, vs) => k -> vs.last }.toMap
  }

  /** The one fragment `before` lacks: (id, timestamp). */
  private def newest(path: String, before: Set[String]): (String, Long) = {
    val added = GraftArray.fragments(spark, path).filterNot(f => before(f.id))
    assert(added.size == 1, added.map(_.id))
    (added.head.id, added.head.timestamp)
  }
  private def fragIds(path: String): Set[String] =
    GraftArray.fragments(spark, path).map(_.id).toSet

  test("every partition kind reads columnar and latest-wins") {
    import org.apache.spark.sql.functions.col
    import graft.sources.v2.PredicateSupport.Cmp
    val cases = for {
      n <- Gen.chooseNum(12, 40)
      seed <- Gen.long
    } yield (n, seed)
    def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq
    val prop = Prop.forAllNoShrink(cases) { case (n, seed) =>
      val r = new scala.util.Random(seed)
      val wh = java.nio.file.Files.createTempDirectory("graft_kinds").toString
      val cat = "gk" + r.alphanumeric.take(6).mkString
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)

      // sparse: two overlapping writes (slab merge partitions), a
      // DELETE WHERE on a dim range and an attribute-predicate
      // tombstone (both by predicate), a MERGE whose matched deletes
      // are coordinate tombstones, then a write newer than them all
      spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, v BIGINT, s STRING)
        |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
      val path = s"$wh/t"
      val m = new Model[Long]
      def write(keys: Seq[Long]): Unit = {
        val rs = keys.map(k => (k, r.nextInt(100).toLong, s"s${r.nextInt(4)}"))
        val before = fragIds(path)
        GraftArray.write(spark, path, spark.createDataFrame(rs)
          .toDF("k", "v", "s").coalesce(2))
        val (id, ts) = newest(path, before)
        rs.foreach { case (k, v, s) => m.put(k, m.Version(id, ts, v, s)) }
      }
      write((0L until n.toLong).filter(_ => r.nextInt(4) > 0))
      val lo = r.nextInt(n / 2).toLong
      write((lo until lo + n).filter(_ => r.nextInt(4) > 0))
      val dlo = r.nextInt(n).toLong
      spark.sql(s"DELETE FROM $cat.t WHERE k BETWEEN $dlo AND ${dlo + 2}")
      m.mask((k, _) => k >= dlo && k <= dlo + 2)
      val cut = r.nextInt(30).toLong
      GraftArray.commitTombstone(spark, path, Cmp("<", "v", cut))
      m.mask((_, ver) => ver.v < cut)
      val visible = m.visible.keys.toSeq.sorted
      // the first matched key is always deleted
      val src = (r.shuffle(visible).take(4).zipWithIndex
        .map { case (k, i) => (k, i == 0 || r.nextBoolean()) } ++
        Seq((n * 2L, false))).map { case (k, del) => (k, 1000L + k, del) }
      spark.createDataFrame(src).toDF("k", "nv", "del")
        .createOrReplaceTempView(s"${cat}_src")
      val before = fragIds(path)
      spark.sql(s"""MERGE INTO $cat.t t USING ${cat}_src u ON t.k = u.k
        |WHEN MATCHED AND u.del THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = u.nv
        |WHEN NOT MATCHED THEN INSERT (k, v, s) VALUES (u.k, u.nv, 'm')
        |""".stripMargin)
      val (mid, mts) = newest(path, before)
      val seen = m.visible
      src.foreach { case (k, nv, del) =>
        if (del) m.mask((kk, _) => kk == k)
        else m.put(k, m.Version(mid, mts, nv, seen.get(k).map(_.s).getOrElse("m")))
      }
      write(Seq.fill(3)(r.nextInt(n).toLong).distinct)
      assert(GraftArray.fragments(spark, path).exists(_.deleteCoordFiles.nonEmpty))
      val all = load(path).select(col("k"), col("v"), col("s"),
        col("_frag_id"), col("_commit_ts"))
      val keysOnly = load(path).select("k")
      val want = m.visible.toSeq.sortBy(_._1).map { case (k, ver) =>
        Row(k, ver.v, ver.s, ver.fragId, ver.ts) }

      // hash ownership: two string-dim fragments with coincident MBRs
      // (shared first and last name), an attribute tombstone between
      val hpath = s"$wh/h"
      GraftArray.create(spark, hpath, ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("name", StringType)), Seq(AttributeSpec("v", LongType))))
      val hm = new Model[String]
      def hwrite(names: Seq[String]): Unit = {
        val rs = names.map(nm => (nm, r.nextInt(100).toLong))
        val before = fragIds(hpath)
        GraftArray.write(spark, hpath, spark.createDataFrame(rs)
          .toDF("name", "v").coalesce(1))
        val (id, ts) = newest(hpath, before)
        rs.foreach { case (nm, v) => hm.put(nm, hm.Version(id, ts, v, nm)) }
      }
      val names = (0 until n).map(i => f"doc_$i%03d")
      hwrite(names)
      val hcut = r.nextInt(30).toLong
      GraftArray.commitTombstone(spark, hpath, Cmp("<", "v", hcut))
      hm.mask((_, ver) => ver.v < hcut)
      hwrite(names.head +: names.tail.init.filter(_ => r.nextBoolean()) :+ names.last)
      val hall = load(hpath).select(col("name"), col("v"), col("_frag_id"))
      val hwant = hm.visible.toSeq.sortBy(_._1).map { case (k, ver) =>
        Row(k, ver.v, ver.fragId) }

      // dense: written cells, fills between them, one written cell
      // deleted (it reverts to the fill)
      val dpath = s"$wh/d"
      GraftArray.create(spark, dpath, ArraySchema(ArrayKind.Dense,
        Seq(DimensionSpec("r", LongType, Some("0"), Some(s"${2 * n}"), Some(8L))),
        Seq(AttributeSpec("v", LongType, nullable = true, fillValue = Some("-1")))))
      val written = (0L to 2L * n).filter(_ => r.nextInt(3) == 0)
        .map(c => c -> r.nextInt(100).toLong).toMap ++
        Map(1L -> 5L, 2L * n - 1 -> 6L)
      GraftArray.write(spark, dpath, spark.createDataFrame(written.toSeq)
        .toDF("r", "v").coalesce(2))
      val gone = r.shuffle(written.keys.toSeq).head
      GraftArray.commitTombstone(spark, dpath, Cmp("=", "r", gone))
      val dwant = (written.keys.min to written.keys.max).map(c =>
        Row(c, if (c == gone) -1L else written.getOrElse(c, -1L)))

      val dfs = Seq(all, keysOnly, hall, load(dpath))
      val hashParts = scanOf(hall).inputPartitions.collect {
        case p: graft.sources.v2.GraftInputPartition => p }
      assert(dfs.forall(df => scanOf(df).supportsColumnar), "row-based scan")
      assert(hashParts.nonEmpty && hashParts.forall(_.hashMod > 1),
        s"not hash-owned: $hashParts")
      assert(rowsOf(all).sortBy(_.getLong(0)) == want, "sparse rows")
      assert(rowsOf(keysOnly).map(_.getLong(0)).sorted == want.map(_.getLong(0)),
        "sparse keys")
      assert(rowsOf(hall).sortBy(_.getString(0)) == hwant, "hash-owned rows")
      assert(rowsOf(load(dpath)).sortBy(_.getLong(0)) == dwant, "dense cells")
      true
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(4).withInitialSeed(Seed(20261020L)), prop)
    assert(res.passed, res.status.toString)
  }
}

/** The all-types generator: every attribute type the fragment writer
  * emits, and random rows over them with about one null in five. */
object DecodeDifferentialSpec {
  val attrs: Seq[AttributeSpec] = Seq(
    AttributeSpec("b", ByteType), AttributeSpec("sh", ShortType),
    AttributeSpec("i", IntegerType), AttributeSpec("l", LongType),
    AttributeSpec("f", FloatType), AttributeSpec("d", DoubleType),
    AttributeSpec("bo", BooleanType), AttributeSpec("s", StringType),
    AttributeSpec("bin", BinaryType), AttributeSpec("dt", DateType),
    AttributeSpec("ts", TimestampType),
    AttributeSpec("dec", DecimalType(9, 2)),
    AttributeSpec("wide", DecimalType(20, 4)),
    AttributeSpec("emb", ArrayType(FloatType)))

  def value(dt: DataType, r: scala.util.Random): Any =
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

  def rows(keys: Range, cols: Seq[StructField], seed: Long): Seq[Row] = {
    val r = new scala.util.Random(seed)
    keys.map(k => Row.fromSeq(k.toLong +: cols.tail.map(c => value(c.dataType, r))))
  }
}
