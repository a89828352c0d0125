package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.crypto.{DecryptionPropertiesFactory, FileDecryptionProperties}
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.{PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.sources.GraftArray
import graft.sources.v2._
import scala.jdk.CollectionConverters._

/** A parquet decryption factory that decrypts nothing (null means
  * plaintext) and records every file it was asked about: set as
  * `parquet.crypto.factory.class`, it shows which files were opened
  * with read options built from the task's Hadoop configuration. */
class CountingDecryptionFactory extends DecryptionPropertiesFactory {
  override def getFileDecryptionProperties(conf: Configuration,
      path: Path): FileDecryptionProperties = {
    CountingDecryptionFactory.seen.add(CountingDecryptionFactory.key(path))
    null
  }
}

object CountingDecryptionFactory {
  val seen: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  /** `frag_<id>/<part file>`: unique within an array, whatever the
    * scheme or qualification of the full path. */
  def key(p: Path): String = s"${p.getParent.getName}/${p.getName}"
}

/** The scan's readers open fragment files with the task's Hadoop
  * configuration: reader and writer factories carry a broadcast handle
  * instead of the conf, the conf reaches parquet's read options on
  * simple and merge partitions alike, and the per-file requested schema set on the shared task
  * conf never leaks from one file into the next. */
class TaskConfReadSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_taskconf").toString + "/arr"

  private val sch = ArraySchema(ArrayKind.Sparse,
    Seq(DimensionSpec("k", LongType)),
    Seq(AttributeSpec("v", LongType), AttributeSpec("x", DoubleType),
      AttributeSpec("tag", StringType)))

  private def rows(lo: Long, hi: Long, bump: Long = 0L): DataFrame =
    spark.range(lo, hi, 1, 2).select(col("id").as("k"),
      (col("id") + bump).as("v"), (col("id") * 0.5).as("x"),
      concat(lit("t"), col("id") % 3).as("tag"))

  /** s1-like: three disjoint fragments of two files each (columnar). */
  private def s1Like(): String = {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    Seq(0L, 1000L, 2000L).foreach(lo => GraftArray.write(spark, uri, rows(lo, lo + 500)))
    uri
  }

  /** s2-like: s1-like plus an overlapping update fragment (merge). */
  private def s2Like(): String = {
    val uri = s1Like()
    GraftArray.write(spark, uri, rows(1200, 1400, bump = 1000L))
    uri
  }

  /** The scan node of the physical plan before adaptive execution
    * wraps it. */
  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }.head

  private def files(uri: String): Seq[(String, Long)] =
    GraftArray.fragments(spark, uri).sortBy(_.timestamp)
      .flatMap(f => f.files.map(rel => (s"$uri/$rel", f.timestamp)))

  private def drain[T](r: PartitionReader[T])(each: T => Unit): Unit =
    try while (r.next()) each(r.get()) finally r.close()

  test("reader and writer factories carry a conf handle, not the conf") {
    val uri = s1Like()
    val ser = SparkEnv.get.closureSerializer.newInstance()
    def size(o: AnyRef): Int = ser.serialize(o).limit()
    val df = spark.read.format("graftarray").option("path", uri).load()
    val physical = new PhysicalWriteInfo { def numPartitions(): Int = 1 }
    val factories = Seq(
      "GraftReaderFactory" -> scanOf(df).readerFactory,
      "GraftDataWriterFactory" -> new GraftBatchWrite(spark, uri, sch,
        df.schema).createBatchWriterFactory(physical),
      "GraftDeltaWriterFactory" -> new GraftDeltaBatchWrite(spark, uri, sch,
        df.schema).createBatchWriterFactory(physical))
    // the session Hadoop conf alone serializes to tens of KB
    val confBytes = size(new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration))
    assert(confBytes > 16384, s"conf serialized to only $confBytes B")
    val sizes = factories.map { case (name, f) => name -> size(f) }
    info(s"serialized: $sizes (conf alone: $confBytes B)")
    assert(sizes.forall(_._2 < 8192), s"$sizes (conf alone: $confBytes B)")
  }

  test("one conf broadcast serves factories until a conf entry changes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val first = HadoopConfBroadcast(spark)
    assert(HadoopConfBroadcast(spark) eq first)
    var changed: AnyRef = null
    try {
      conf.set("graft.test.taskconf", "1")
      changed = HadoopConfBroadcast(spark)
      assert(changed ne first)
      assert(HadoopConfBroadcast(spark) eq changed)
    } finally conf.unset("graft.test.taskconf")
    assert(HadoopConfBroadcast(spark) ne changed, "stale after unset")
  }

  test("the task conf reaches parquet read options on both readers") {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = DecryptionPropertiesFactory.CRYPTO_FACTORY_CLASS_PROPERTY_NAME
    val cases = Seq("simple" -> s1Like(), "merge" -> s2Like())
    try {
      conf.set(key, classOf[CountingDecryptionFactory].getName)
      cases.foreach { case (name, uri) =>
        CountingDecryptionFactory.seen.clear()
        // an aggregate statistics cannot answer, so every file is read
        val q = spark.read.format("graftarray").option("path", uri).load()
          .agg(sum(col("v") * 2))
        assert(scanOf(q).supportsColumnar, s"$name plan")
        assert(q.head().getLong(0) > 0)
        val want = files(uri).map(f => CountingDecryptionFactory.key(new Path(f._1)))
        val missed = want.filterNot(CountingDecryptionFactory.seen.contains)
        assert(want.size >= 6 && missed.isEmpty,
          s"$name scan opened ${missed.size} of ${want.size} files " +
            s"without the task conf: $missed")
      }
    } finally conf.unset(key)
  }

  test("one task reads files of different schemas: no stale requested schema") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri, rows(0, 200)) // two pre-alter files
    GraftArray.addColumn(spark, uri, AttributeSpec("s", StringType))
    GraftArray.addColumn(spark, uri,
      AttributeSpec("w", LongType, fillValue = Some("7")))
    // overlaps the pre-alter fragment on [100, 200); explicit NULL w
    // on every tenth key stays null (the fill is for absent columns)
    GraftArray.write(spark, uri, rows(100, 300, bump = 1000L)
      .withColumn("s", lit("p"))
      .withColumn("w", when(col("k") % 10 === 0, lit(null).cast(LongType))
        .otherwise(lit(5L))))
    val all = files(uri)
    assert(all.size == 4)
    val (pre, post) = all.partition(_._2 == all.head._2)
    type Row4 = (Long, Long, String, java.lang.Long)
    def want(k: Long): Row4 =
      if (k < 100) (k, k, null, Long.box(7L))
      else (k, k + 1000, "p", if (k % 10 == 0) null else Long.box(5L))
    def read(f: PartitionReaderFactory, p: GraftInputPartition): Seq[Row4] = {
      val out = Seq.newBuilder[Row4]
      def row(r: org.apache.spark.sql.catalyst.InternalRow): Row4 = (
        r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getUTF8String(2).toString,
        if (r.isNullAt(3)) null else Long.box(r.getLong(3)))
      drain(f.createColumnarReader(p)) { b =>
        b.rowIterator().asScala.foreach(r => out += row(r)) }
      out.result().sortBy(r => (r._1, r._2))
    }
    val df = spark.read.format("graftarray").option("path", uri).load()
      .select("k", "v", "s", "w")

    // merge partition over all four files
    val mergeFactory = scanOf(df).readerFactory
    val merged = read(mergeFactory, GraftInputPartition(all, needDedup = true))
    assert(merged == (0L until 300L).map(want))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2), if (r.isNullAt(3)) null else Long.box(r.getLong(3))))
      .sortBy(_._1).toSeq == (0L until 300L).map(want))

    // simple partition, files interleaved post/pre/post/pre so a leak in
    // either direction would show; no merge, so both versions of
    // [100, 200) come out
    val interleaved = Seq(post(0), pre(0), post(1), pre(1))
    val colFactory = new GraftReaderFactory(df.schema, sch.dimStruct, Nil,
      HadoopConfBroadcast(spark), evoFills = Map("w" -> 7L))
    val cols = read(colFactory, GraftInputPartition(interleaved, needDedup = false))
    val wantCols = ((0L until 200L).map(k => (k, k, null, Long.box(7L))) ++
      (100L until 300L).map(want)).sortBy(r => (r._1, r._2))
    assert(cols == wantCols)

    // projection-less count(*) through a simple partition: footer
    // row counts only, whatever the last file's requested schema was
    val countFactory = new GraftReaderFactory(new StructType(), sch.dimStruct,
      Nil, HadoopConfBroadcast(spark))
    var n = 0L
    drain(countFactory.createColumnarReader(
      GraftInputPartition(interleaved, needDedup = false)))(b => n += b.numRows())
    assert(n == 400L)
    assert(spark.read.format("graftarray").option("path", uri).load()
      .filter(col("x") >= 0.0).count() == 300L)
  }
}
