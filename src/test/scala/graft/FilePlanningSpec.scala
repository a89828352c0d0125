package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.core._
import graft.sources.GraftArray
import graft.sources.v2.{GraftInputPartition, GraftMicroBatchStream, GraftOffset}
import scala.jdk.CollectionConverters._

/** File-level scan planning and the footer cache. Generated arrays of
  * overlapping multi-file fragments (DecodeDifferentialSpec's value
  * generator) are read with dim ranges, attribute ranges and
  * `ORDER BY k LIMIT n`, and every answer must equal the same query
  * over the latest-wins model put into a local DataFrame. Every planned
  * file must be read by exactly one partition. Footer-cache cases check
  * that keyed reads bypass the cache, that vacuum and drop evict, and
  * that concurrent readers of cached footers read the right rows. */
class FilePlanningSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val attrs = DecodeDifferentialSpec.attrs.filter(a =>
    Set("i", "l", "d", "s").contains(a.name))
  private val schema = ArraySchema(ArrayKind.Sparse,
    Seq(DimensionSpec("k", org.apache.spark.sql.types.LongType)), attrs)
  private val struct = schema.toStruct

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_fplan").toString + "/arr"

  private def load(uri: String): DataFrame =
    spark.read.format("graftarray").option("path", uri).load()

  private def partsOf(df: DataFrame): Seq[GraftInputPartition] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions).collect { case p: GraftInputPartition => p }

  private def visibleFiles(uri: String): Set[String] =
    GraftArray.fragments(spark, uri)
      .flatMap(f => f.files.map(rel => s"$uri/$rel")).toSet

  private def qualified(file: String): String = {
    val p = new Path(file)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** Creates the array and writes one fragment per (keys, files) entry,
    * in order, with generated attribute values; returns the latest-wins
    * model rows. */
  private def build(uri: String, frags: Seq[(Seq[Long], Int)],
      seed: Long): Seq[Row] = {
    GraftArray.create(spark, uri, schema)
    val model = scala.collection.mutable.TreeMap.empty[Long, Row]
    frags.zipWithIndex.foreach { case ((keys, files), i) =>
      val r = new scala.util.Random(seed + i)
      val rows = keys.map(k => Row.fromSeq(
        k +: attrs.map(a => DecodeDifferentialSpec.value(a.dataType, r))))
      GraftArray.write(spark, uri, spark.createDataFrame(rows.asJava, struct),
        partitions = Some(files))
      rows.foreach(row => model(row.getLong(0)) = row)
    }
    model.values.toSeq
  }

  private def byKey(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.getLong(0))

  test("generated overlapping arrays: answers equal the model, each file read once") {
    val cases = for {
      nFrags <- Gen.chooseNum(2, 5)
      seed <- Gen.long
    } yield (nFrags, seed)
    val prop = Prop.forAllNoShrink(cases) { case (nFrags, seed) =>
      val r = new scala.util.Random(seed)
      val frags = (0 until nFrags).map { _ =>
        val lo = r.nextInt(300)
        val keys = (lo until lo + 20 + r.nextInt(150))
          .filter(_ => r.nextInt(4) > 0).map(_.toLong)
        (if (keys.isEmpty) Seq(lo.toLong) else keys, 1 + r.nextInt(4))
      }
      val uri = tmp()
      val want = build(uri, frags, seed)
      val oracle = spark.createDataFrame(want.asJava, struct)
      val (a, dLo, t, n) = (r.nextInt(400).toLong, r.nextGaussian() * 1e6,
        r.nextInt(), 1 + r.nextInt(40))
      val b = a + r.nextInt(150)
      val dHi = dLo + math.abs(r.nextGaussian() * 1e6)
      val unordered: Seq[DataFrame => DataFrame] = Seq(
        identity,
        _.filter(col("k").between(a, b)),
        _.filter(col("d").between(dLo, dHi)),
        _.filter(col("k").between(a, b) && col("i") > t))
      val ordered: Seq[DataFrame => DataFrame] = Seq(
        _.orderBy("k").limit(n),
        _.orderBy(col("k").desc).limit(n))
      val all = visibleFiles(uri)
      (unordered.map((_, false)) ++ ordered.map((_, true))).zipWithIndex.forall {
        case ((q, inOrder), i) =>
          val df = q(load(uri))
          val got = df.collect().toSeq
          val exp = q(oracle).collect().toSeq
          val files = partsOf(df).flatMap(_.files.map(_._1))
          assert(files.size == files.distinct.size,
            s"query $i reads a file twice: ${files.diff(files.distinct)}")
          if (i == 0) assert(files.toSet == all, s"full scan planned ${files.size} of ${all.size}")
          assert((if (inOrder) got else byKey(got)) == (if (inOrder) exp else byKey(exp)),
            s"query $i: ${got.size} rows, model ${exp.size}")
          true
      }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(5).withInitialSeed(Seed(20261020L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("s2 shape: files outside the overlap plan as simple, packed partitions") {
    val uri = tmp()
    // three disjoint fragments of four files, then two overlapping
    // updates inside the third fragment's first half
    val want = build(uri, Seq((0L until 1000L, 4), (1000L until 2000L, 4),
      (2000L until 3000L, 4), (2000L until 2400L, 2), (2200L until 2500L, 2))
      .map { case (ks, n) => (ks.toSeq, n) }, 11L)
    val third = GraftArray.fragments(spark, uri)(2)
    val outside = third.files.filter { rel =>
      val st = third.fileStats(rel)("k")
      st.min.get.toLong >= 2500L || st.max.get.toLong < 2000L
    }
    assert(outside.nonEmpty, third.fileStats.toString)
    val df = load(uri).filter(col("d") > 0.0)
    assert(byKey(df.collect().toSeq) ==
      byKey(want.filter(r => !r.isNullAt(3) && r.getDouble(3) > 0.0)))
    val parts = partsOf(df)
    val files = parts.flatMap(_.files.map(_._1))
    assert(files.size == files.distinct.size && files.toSet == visibleFiles(uri),
      s"${files.size} file entries over ${files.distinct.size} files")
    outside.foreach { rel =>
      assert(parts.exists(p => !p.needDedup && p.files.exists(_._1 == s"$uri/$rel")),
        s"$rel lies outside the overlap but is not in a simple partition")
    }
    assert(parts.count(_.needDedup) == 1, parts.toString)
    assert(parts.size < files.size, s"${parts.size} partitions for ${files.size} files")
  }

  test("a backlog micro-batch packs its files like a batch scan") {
    val uri = tmp()
    build(uri, Seq((0L until 300L, 4), (300L until 600L, 4), (600L until 900L, 4))
      .map { case (ks, n) => (ks.toSeq, n) }, 5L)
    val stream = new GraftMicroBatchStream(spark, uri, schema, struct, Nil)
    val parts = stream.planInputPartitions(GraftOffset(0L), stream.latestOffset())
      .collect { case p: GraftInputPartition => p }
    val files = parts.flatMap(_.files.map(_._1))
    assert(files.size == 12 && files.toSet == visibleFiles(uri))
    assert(parts.size < files.size && parts.forall(!_.needDedup),
      s"${parts.size} partitions for ${files.size} files")
  }

  test("plaintext reads fill the footer cache; vacuum and drop evict") {
    val uri = tmp()
    val want = build(uri, Seq((0L until 200L, 2), (100L until 300L, 2))
      .map { case (ks, n) => (ks.toSeq, n) }, 3L)
    val before = visibleFiles(uri).map(qualified)
    assert(byKey(load(uri).collect().toSeq) == want)
    assert(before.forall(FooterCache.get(_).isDefined), "a plaintext read cached nothing")
    // a cached footer serves the next read
    assert(byKey(load(uri).collect().toSeq) == want)
    GraftArray.consolidate(spark, uri)
    assert(GraftArray.vacuum(spark, uri) == 2)
    assert(before.forall(FooterCache.get(_).isEmpty), "vacuumed files stay cached")
    assert(byKey(load(uri).collect().toSeq) == want)
    val after = visibleFiles(uri).map(qualified)
    assert(after.nonEmpty && after.forall(FooterCache.get(_).isDefined))
    GraftArray.drop(spark, uri)
    assert(after.forall(FooterCache.get(_).isEmpty), "dropped files stay cached")
  }

  test("keyed reads neither use nor fill the footer cache") {
    val key = "000102030405060708090a0b0c0d0e0f"
    val wh = java.nio.file.Files.createTempDirectory("graft_fkey").toString
    val cat = "gfk" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val prevKey = spark.conf.getOption(EncryptionKeys.ConfKey)
    try {
      spark.conf.set(EncryptionKeys.ConfKey, key)
      spark.sql(s"""CREATE TABLE $cat.e (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('graft.dimensions'='k', 'graft.encrypted'='true')""".stripMargin)
      spark.sql(s"INSERT INTO $cat.e VALUES (1, 1.5), (2, 2.5)")
      val frag = GraftArray.fragments(spark, s"$wh/e").head
      val files = frag.files.map(rel => s"$wh/e/$rel")
      val st = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
      // a read without the key (the reader itself: no session path
      // reads an encrypted array keyless) fails on the encrypted footer
      intercept[Exception] {
        graft.sources.v2.GraftPartitionReader.foreachTuple(
          new graft.sources.v2.GraftPartitionReader(
            GraftInputPartition(files.map((_, frag.timestamp)), needDedup = false),
            st, st, spark.sparkContext.hadoopConfiguration))(_ => ())
      }
      def read(): Seq[(Long, Double)] = spark.table(s"$cat.e").orderBy("k")
        .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
      // the keyed read after it still decrypts, twice
      assert(read() == Seq((1L, 1.5), (2L, 2.5)))
      assert(read() == Seq((1L, 1.5), (2L, 2.5)))
      assert(files.map(qualified).forall(FooterCache.get(_).isEmpty),
        "a keyed read filled the footer cache")
      // and a wrong key still fails after a right-key read
      spark.conf.set(EncryptionKeys.ConfKey, "ff" * 16)
      intercept[Exception](read())
    } finally prevKey match {
      case Some(k) => spark.conf.set(EncryptionKeys.ConfKey, k)
      case None => spark.conf.unset(EncryptionKeys.ConfKey)
    }
  }

  test("four concurrent queries over cached footers read the right rows") {
    val uri = tmp()
    val want = build(uri, Seq((0L until 400L, 4), (200L until 500L, 3),
      (600L until 900L, 2)).map { case (ks, n) => (ks.toSeq, n) }, 17L)
    assert(byKey(load(uri).collect().toSeq) == want) // fills the cache
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = (0 until 4).map(_ => pool.submit(
        () => byKey(load(uri).collect().toSeq)))
      runs.foreach(f => assert(f.get() == want))
    } finally pool.shutdown()
  }
}
