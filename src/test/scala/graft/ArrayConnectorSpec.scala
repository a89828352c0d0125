package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.sources.GraftArray

/** End-to-end array-format connector behavior: DDL → fragment writes →
  * scans with pushdown → time travel → latest-wins → metadata →
  * schema evolution → SQL catalog surface. Mirrors the reference's MTR
  * coverage (pushdown_ranges, open_at, duplicates, metadata,
  * schema_evolution, aggregates). */
class ArrayConnectorSpec extends SparkSpec with WriteEntries {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_arr").toString + "/arr"

  private val schema2d = ArraySchema(
    kind = ArrayKind.Sparse,
    dims = Seq(
      DimensionSpec("rows", LongType, Some("0"), Some("1000"), Some(100L)),
      DimensionSpec("cols", LongType, Some("0"), Some("1000"), Some(100L))),
    attrs = Seq(
      AttributeSpec("a", LongType, nullable = true, fillValue = Some("0")),
      AttributeSpec("s", StringType)))

  test("create → write → load round-trip with exact rows") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    val df = Seq((1L, 1L, 10L, "x"), (2L, 4L, 20L, "y"), (5L, 5L, 30L, "z"))
      .toDF("rows", "cols", "a", "s")
    GraftArray.write(spark, uri, df)
    val got = GraftArray.load(spark, uri).orderBy("rows", "cols")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq((1L, 1L, 10L, "x"), (2L, 4L, 20L, "y"), (5L, 5L, 30L, "z")))
  }

  test("DSv2 read path: filter pushdown prunes fragments and rows") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    // two disjoint fragments: rows 0–99 and rows 500–599
    GraftArray.write(spark, uri,
      spark.range(0, 100).select(col("id").as("rows"), col("id").as("cols"),
        (col("id") * 2).as("a"), concat(lit("v"), col("id")).as("s")))
    GraftArray.write(spark, uri,
      spark.range(500, 600).select(col("id").as("rows"), col("id").as("cols"),
        (col("id") * 2).as("a"), concat(lit("v"), col("id")).as("s")))

    val df = spark.read.format("graftarray").option("path", uri).load()
    // dim range hits only fragment 2
    val q = df.filter(col("rows") >= 550L && col("rows") < 560L)
    assert(q.count() == 10)
    val parts = q.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions
    val fragDirs = parts.flatMap {
      case p: graft.sources.v2.GraftInputPartition =>
        p.files.map(_._1.split("/frag_")(1).split("/")(0))
    }.distinct
    assert(fragDirs.size == 1,
      s"expected all partitions from 1 fragment, got dirs $fragDirs")
    // attr predicate evaluated in-reader
    assert(df.filter(col("a") === 1100L).count() == 1)
    // IN-list over dims
    assert(df.filter(col("rows").isin(0L, 501L, 999L)).count() == 2)
    // empty-range → empty scan without reading
    assert(df.filter(col("rows") > 100L && col("rows") < 90L).count() == 0)
  }

  test("latest-wins dedup across overlapping fragments") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    val v1 = Seq((1L, 1L, 10L, "old"), (2L, 2L, 20L, "old")).toDF("rows", "cols", "a", "s")
    val v2 = Seq((1L, 1L, 11L, "new")).toDF("rows", "cols", "a", "s")
    GraftArray.write(spark, uri, v1)
    GraftArray.write(spark, uri, v2)
    // GraftArray.load
    val got = GraftArray.load(spark, uri).orderBy("rows")
      .select("rows", "a", "s").as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 11L, "new"), (2L, 20L, "old")))
    // DSv2 path agrees
    val got2 = spark.read.format("graftarray").option("path", uri).load()
      .orderBy("rows").select("rows", "a", "s").as[(Long, Long, String)]
      .collect().toSeq
    assert(got2 == got)
  }

  test("time travel: asOf sees only earlier fragments; epoch 0 sees none") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    val t1 = GraftArray.write(spark, uri,
      Seq((1L, 1L, 1L, "one")).toDF("rows", "cols", "a", "s"))
    GraftArray.write(spark, uri,
      Seq((2L, 2L, 2L, "two")).toDF("rows", "cols", "a", "s"))
    assert(GraftArray.load(spark, uri).count() == 2)
    assert(GraftArray.load(spark, uri, asOf = Some(t1)).count() == 1)
    assert(GraftArray.load(spark, uri, asOf = Some(0L)).count() == 0) // open_at.test
    val viaOption = spark.read.format("graftarray").option("path", uri)
      .option("asOfTimestamp", t1.toString).load()
    assert(viaOption.count() == 1)
  }

  test("window reads: [since, asOf] sees only in-window fragments") {
    // TileDB timestamp_start/timestamp_end semantics: the window is an
    // incremental view — pre-window versions do not exist, latest-wins
    // resolves among in-window fragments only
    val uri = tmp()
    val sch = graft.core.ArraySchema(graft.core.ArrayKind.Sparse,
      Seq(graft.core.DimensionSpec("k", org.apache.spark.sql.types.LongType)),
      Seq(graft.core.AttributeSpec("v", org.apache.spark.sql.types.LongType)))
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri,
      spark.range(0, 10).select(col("id").as("k"), lit(1L).as("v")))
    val t2 = GraftArray.write(spark, uri,
      spark.range(5, 15).select(col("id").as("k"), lit(2L).as("v")))
    val t3 = GraftArray.write(spark, uri,
      spark.range(0, 3).select(col("id").as("k"), lit(3L).as("v")))
    // full view: latest-wins over all three
    assert(GraftArray.load(spark, uri).count() == 15)
    // window [t2, t2]: only fragment 2 — keys 5–14, all v=2; the f1
    // version of keys 5–9 does NOT shadow or resurface
    val w22 = GraftArray.load(spark, uri, asOf = Some(t2), since = Some(t2))
    assert(w22.orderBy("k").as[(Long, Long)].collect().toSeq ==
      (5L until 15L).map((_, 2L)))
    // window [t2, t3]: f2 + f3; latest-wins within the window
    val w23 = spark.read.format("graftarray").option("path", uri)
      .option("sinceTimestamp", t2.toString)
      .option("asOfTimestamp", t3.toString).load()
    assert(w23.orderBy("k").as[(Long, Long)].collect().toSeq ==
      ((0L until 3L).map((_, 3L)) ++ (5L until 15L).map((_, 2L))))
    // since-only: everything committed at/after t3
    assert(GraftArray.load(spark, uri, since = Some(t3))
      .orderBy("k").as[(Long, Long)].collect().toSeq ==
      (0L until 3L).map((_, 3L)))
    // window views are read-only through DSv2 (require in WriteBuilder)
    // and empty windows scan empty
    assert(GraftArray.load(spark, uri, asOf = Some(t2 - 1),
      since = Some(t2)).count() == 0)
  }

  test("catalog sugar t@ts1..ts2 opens a window view") {
    val wh = java.nio.file.Files.createTempDirectory("graft_whw").toString
    val cat = "gw" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"""CREATE TABLE $cat.w (k BIGINT, v BIGINT)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.w VALUES (1, 1)")
    spark.sql(s"INSERT INTO $cat.w VALUES (2, 2)")
    val frags = GraftArray.store(spark, s"$wh/w").listFragments()
    val Seq(ta, tb) = frags.map(_.timestamp)
    spark.sql(s"INSERT INTO $cat.w VALUES (3, 3)")
    assert(spark.table(s"$cat.w").count() == 3)
    assert(spark.sql(s"SELECT * FROM $cat.`w@$ta..$tb`")
      .as[(Long, Long)].collect().toSeq.sorted == Seq((1L, 1L), (2L, 2L)))
    assert(spark.sql(s"SELECT * FROM $cat.`w@$tb..`")
      .as[(Long, Long)].collect().toSeq.sorted == Seq((2L, 2L), (3L, 3L)))
    // malformed window suffixes fail with a clear message — including
    // the extra-separator case ('1..2..3'), which must not escape as
    // a bare MatchError
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    for (badSuffix <- Seq(s"x..$tb", s"$ta..$tb..$tb")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.`w@$badSuffix`").collect()
      }
      assert(msgs(e).exists(_.contains("window")),
        s"@$badSuffix: ${msgs(e).mkString(" | ")}")
    }
  }

  test("null dimension rejected on write") {
    val wh = java.nio.file.Files.createTempDirectory("graft_nd").toString
    spark.conf.set("spark.sql.catalog.gnd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gnd.warehouse", wh)
    val uri = s"$wh/t"
    GraftArray.create(spark, uri, schema2d)
    GraftArray.write(spark, uri, Seq((1L, 1L, 1L, "x")).toDF("rows", "cols", "a", "s"))
    val bad = Seq((Some(2L), Option.empty[Long], Some(1L), Some("x")))
      .toDF("rows", "cols", "a", "s")
    // SQL INSERT may stop first at Spark's own not-null check on the
    // non-nullable dimension column
    assertRejected(bad, "gnd.t", uri)(m =>
      m.contains("null value in dimension cols") ||
        m.contains("NOT_NULL_ASSERT_VIOLATION"))
    assert(spark.table("gnd.t").count() == 1)
  }

  test("catalog errors: missing table, INSERT arity, bad @ suffix") {
    val wh = java.nio.file.Files.createTempDirectory("graft_whe").toString
    spark.conf.set("spark.sql.catalog.ge", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ge.warehouse", wh)
    spark.sql(
      """CREATE TABLE ge.arr (rows BIGINT, cols BIGINT, a BIGINT, s STRING)
        |TBLPROPERTIES('graft.dimensions'='rows,cols')""".stripMargin)
    spark.sql("INSERT INTO ge.arr VALUES (1, 1, 10, 'x')")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM ge.nope").collect()
    }
    assert(missing.getCondition == "TABLE_OR_VIEW_NOT_FOUND", missing.getMessage)
    val arity = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("INSERT INTO ge.arr VALUES (1, 2, 3)").collect()
    }
    assert(arity.getCondition.startsWith("INSERT_COLUMN_ARITY_MISMATCH"),
      arity.getMessage)
    val suffix = intercept[Exception] {
      spark.sql("SELECT * FROM ge.`arr@notatimestamp`").collect()
    }
    assert(msgs(suffix).exists(_.contains("bad identifier suffix '@notatimestamp'")),
      msgs(suffix).mkString(" | "))
    // no failed statement committed anything
    assert(GraftArray.fragments(spark, s"$wh/arr").size == 1)
  }

  test("DROP TABLE evicts the array's manifest-cache entries") {
    import scala.jdk.CollectionConverters._
    val wh = java.nio.file.Files.createTempDirectory("graft_whd").toString
    spark.conf.set("spark.sql.catalog.gd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gd.warehouse", wh)
    spark.sql("CREATE TABLE gd.t (k BIGINT, v BIGINT) TBLPROPERTIES('graft.dimensions'='k')")
    spark.sql("INSERT INTO gd.t VALUES (1, 1)")
    spark.sql("INSERT INTO gd.t VALUES (2, 2)")
    assert(spark.table("gd.t").count() == 2)
    val root = new org.apache.hadoop.fs.Path(s"$wh/t")
    val prefix = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(root).toString + "/"
    def cached: Int = FragmentStore.manifestCache.keySet.asScala
      .count(_.startsWith(prefix))
    assert(cached == 2) // the read cached both manifests
    spark.sql("DROP TABLE gd.t")
    assert(cached == 0)
  }

  test("metadata put/load and @metadata semantics") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    GraftArray.putMetadata(spark, uri, Map("owner" -> "graft", "v" -> "1"))
    GraftArray.putMetadata(spark, uri, Map("v" -> "2"))
    val kv = GraftArray.metadata(spark, uri).as[(String, String)].collect().toMap
    assert(kv == Map("owner" -> "graft", "v" -> "2")) // last write wins per key
  }

  test("schema evolution: add column reads fill value on old fragments") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    GraftArray.write(spark, uri,
      Seq((1L, 1L, 1L, "x")).toDF("rows", "cols", "a", "s"))
    GraftArray.addColumn(spark, uri,
      AttributeSpec("extra", LongType, nullable = true, fillValue = Some("42")))
    // old fragment lacks 'extra' → fill value
    val r1 = GraftArray.load(spark, uri).select("rows", "extra")
      .as[(Long, Long)].collect().toSeq
    assert(r1 == Seq((1L, 42L)))
    // new fragment carries it
    GraftArray.write(spark, uri,
      Seq((2L, 2L, 2L, "y", 7L)).toDF("rows", "cols", "a", "s", "extra"))
    val r2 = GraftArray.load(spark, uri).orderBy("rows").select("extra")
      .as[Long].collect().toSeq
    assert(r2 == Seq(42L, 7L))
    // drop it again
    GraftArray.dropColumn(spark, uri, "extra")
    assert(!GraftArray.load(spark, uri).columns.contains("extra"))
  }

  /** One typed fill: the attribute's type, its manifest fill string,
    * the value that string means, and a value a later write stores. */
  private case class FillCase(dt: DataType, fill: String, means: Any,
      written: Any)

  private val fillCases = Seq(
    FillCase(LongType, "42", 42L, 7L),
    FillCase(DoubleType, "1.5", 1.5, 2.5),
    FillCase(StringType, "fill", "fill", "w"),
    FillCase(BooleanType, "true", true, false),
    // binary fills are base64
    FillCase(BinaryType, "AQID", Seq[Byte](1, 2, 3), Array[Byte](9)),
    // manifest decimals are unscaled longs at the column's scale
    FillCase(DecimalType(9, 2), "12345", BigDecimal("123.45"),
      new java.math.BigDecimal("6.78")),
    // dates are epoch days, timestamps epoch microseconds
    FillCase(DateType, "19000", java.time.LocalDate.parse("2022-01-08"),
      java.sql.Date.valueOf("2000-01-01")),
    FillCase(TimestampType, "1700000000000000",
      java.time.Instant.parse("2023-11-14T22:13:20Z"),
      java.sql.Timestamp.from(java.time.Instant.parse("2001-01-01T00:00:00Z"))))

  /** A collected cell in a comparable form. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: java.math.BigDecimal => BigDecimal(d)
    case d: java.sql.Date => d.toLocalDate
    case t: java.sql.Timestamp => t.toInstant
    case other => other
  }

  test("evolution fill: explicit NULLs survive; load and DSv2 agree") {
    import scala.jdk.CollectionConverters._
    def read(uri: String) =
      spark.read.format("graftarray").option("path", uri).load()
    def columnar(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b }.head.supportsColumnar
    def cells(df: org.apache.spark.sql.DataFrame): Seq[(Long, Any)] =
      df.orderBy("k").select("k", "x").collect()
        .map(r => (r.getLong(0), norm(r.get(1)))).toSeq
    val failed = fillCases.flatMap { c =>
      scala.util.Try {
        val w = norm(c.written)
        def put(uri: String, rows: (Long, Any)*): Unit =
          GraftArray.write(spark, uri, spark.createDataFrame(
            rows.map { case (k, x) => org.apache.spark.sql.Row(k, k, x) }.asJava,
            StructType(Seq(StructField("k", LongType),
              StructField("a", LongType), StructField("x", c.dt)))))
        // sparse: a pre-evolution fragment reads the fill; a post-
        // evolution fragment's explicit NULL stays null
        val uri = tmp()
        GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
          Seq(DimensionSpec("k", LongType)), Seq(AttributeSpec("a", LongType))))
        GraftArray.write(spark, uri, Seq((1L, 1L), (5L, 5L)).toDF("k", "a"))
        GraftArray.addColumn(spark, uri,
          AttributeSpec("x", c.dt, fillValue = Some(c.fill)))
        put(uri, 10L -> c.written, 11L -> null)
        assert(columnar(read(uri)), "disjoint fragments scan columnar")
        assert(cells(read(uri)) ==
          Seq(1L -> c.means, 5L -> c.means, 10L -> w, 11L -> null),
          "columnar scan")
        // a write inside the pre-evolution fragment's MBR forces a merge
        put(uri, 3L -> c.written)
        val merged = Seq(1L -> c.means, 3L -> w, 5L -> c.means, 10L -> w,
          11L -> null)
        assert(columnar(read(uri)), "overlapping fragments merge columnar")
        assert(cells(read(uri)) == merged, "merge scan")
        assert(cells(GraftArray.load(spark, uri)) == merged, "GraftArray.load")
        GraftArray.consolidate(spark, uri)
        GraftArray.vacuum(spark, uri)
        assert(GraftArray.fragments(spark, uri).size == 1)
        assert(cells(read(uri)) == merged, "after consolidate + vacuum")
        // dense: unwritten cells inside the written cells' bounding box
        // read the declared fill
        val dense = tmp()
        GraftArray.create(spark, dense, ArraySchema(ArrayKind.Dense,
          Seq(DimensionSpec("k", LongType, Some("0"), Some("3"), Some(4L))),
          Seq(AttributeSpec("a", LongType),
            AttributeSpec("x", c.dt, fillValue = Some(c.fill)))))
        put(dense, 0L -> c.written, 3L -> null)
        assert(columnar(read(dense)), "fill partitions scan columnar")
        assert(cells(read(dense)) ==
          Seq(0L -> w, 1L -> c.means, 2L -> c.means, 3L -> null),
          "dense fill partition")
      }.failed.toOption.map(e => s"${c.dt.simpleString}: ${e.getMessage}")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("IN list with a NULL literal plans without NPE, right rows") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    GraftArray.write(spark, uri,
      Seq((1L, 1L, 1L, "x"), (5L, 5L, 5L, "y"))
        .toDF("rows", "cols", "a", "s"))
    val df = spark.read.format("graftarray").option("path", uri).load()
      .filter(col("rows").isin(5L, null))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("SQL catalog: CREATE/INSERT/SELECT + @ts + @metadata sugar") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    spark.conf.set("spark.sql.catalog.g", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g.warehouse", wh)
    spark.sql(
      """CREATE TABLE g.t1 (rows BIGINT, cols BIGINT, a BIGINT, s STRING)
        |TBLPROPERTIES('graft.dimensions'='rows,cols')""".stripMargin)
    spark.sql("INSERT INTO g.t1 VALUES (1, 1, 10, 'x'), (2, 4, 20, 'y')")
    assert(spark.sql("SELECT sum(a) FROM g.t1").as[Long].head() == 30L)
    // second fragment + time travel via @ts
    val ts1 = GraftArray.store(spark, s"$wh/t1").listFragments().last.timestamp
    spark.sql("INSERT INTO g.t1 VALUES (3, 3, 30, 'z')")
    assert(spark.table("g.t1").count() == 3)
    assert(spark.sql(s"SELECT * FROM g.`t1@$ts1`").count() == 2)
    // metadata virtual table
    GraftArray.putMetadata(spark, s"$wh/t1", Map("k" -> "v"))
    val meta = spark.sql("SELECT * FROM g.`t1@metadata`")
      .as[(String, String)].collect().toMap
    assert(meta == Map("k" -> "v"))
    // ALTER ADD/DROP COLUMN
    spark.sql("ALTER TABLE g.t1 ADD COLUMN extra BIGINT")
    assert(spark.table("g.t1").columns.contains("extra"))
    spark.sql("ALTER TABLE g.t1 DROP COLUMN extra")
    assert(!spark.table("g.t1").columns.contains("extra"))
    spark.sql("DROP TABLE g.t1")
    assert(!GraftArray.exists(spark, s"$wh/t1"))
  }

  test("INSERT INTO ... SELECT through the SQL catalog [t/insert_into_select]") {
    val wh = java.nio.file.Files.createTempDirectory("graft_iis").toString
    spark.conf.set("spark.sql.catalog.g2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g2.warehouse", wh)
    spark.sql(
      """CREATE TABLE g2.src (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql("INSERT INTO g2.src VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    spark.sql(
      """CREATE TABLE g2.dst (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql("INSERT INTO g2.dst SELECT k, v * 2 FROM g2.src WHERE k >= 2")
    val got = spark.sql("SELECT * FROM g2.dst ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 5.0), (3L, 7.0)))
  }

  test("allowsDups keeps duplicate coordinates [t/duplicates]") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d.copy(allowsDups = true))
    val df = Seq((1L, 1L, 10L, "a"), (1L, 1L, 20L, "b")).toDF("rows", "cols", "a", "s")
    GraftArray.write(spark, uri, df)
    GraftArray.write(spark, uri, df)
    // 4 rows survive: dups allowed within and across fragments
    assert(GraftArray.load(spark, uri).count() == 4)
    assert(spark.read.format("graftarray").option("path", uri).load()
      .count() == 4)
  }

  test("aggregate pushdown answers from fragment stats (no data scan)") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    GraftArray.write(spark, uri,
      spark.range(0, 100).select(col("id").as("rows"), col("id").as("cols"),
        (col("id") * 3).as("a"), lit("s").as("s")))
    GraftArray.write(spark, uri,
      spark.range(200, 300).select(col("id").as("rows"), col("id").as("cols"),
        (col("id") * 3).as("a"), lit("s").as("s")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    val agg = df.agg(count(lit(1)).as("cnt"), sum(col("a")).as("sm"),
      min(col("rows")).as("mn"), max(col("rows")).as("mx"),
      avg(col("a")).as("av"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("GraftAggScan"), plan.take(1500))
    val r = agg.collect()(0)
    assert(r.getLong(0) == 200)
    assert(r.getLong(1) == (0 until 100).map(_ * 3L).sum +
      (200 until 300).map(_ * 3L).sum)
    assert(r.getLong(2) == 0L && r.getLong(3) == 299L)
    // string MIN/MAX under the 32-byte guard is also stats-only
    val sAgg = df.agg(min(col("s")).as("smn"), max(col("s")).as("smx"))
    assert(sAgg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      sAgg.queryExecution.executedPlan.toString.take(1500))
    assert(sAgg.as[(String, String)].head() == (("s", "s")))
    // grouped aggregation falls back to a real scan, still correct
    val grouped = df.groupBy((col("rows") >= 200L).as("hi"))
      .agg(count(lit(1)).as("n")).orderBy("hi")
      .as[(Boolean, Long)].collect().toSeq
    assert(grouped == Seq((false, 100L), (true, 100L)))
  }

  test("aggregate pushdown under pushed dim ranges (whole-file coverage)") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    // one file per fragment → file MBRs are [0,99] and [200,299]
    GraftArray.write(spark, uri, spark.range(0, 100).coalesce(1)
      .select(col("id").as("rows"), col("id").as("cols"),
        (col("id") * 3).as("a"), lit("s").as("s")))
    GraftArray.write(spark, uri, spark.range(200, 300).coalesce(1)
      .select(col("id").as("rows"), col("id").as("cols"),
        (col("id") * 3).as("a"), lit("s").as("s")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    // range covering one whole file: stats answer, zero data I/O
    val agg = df.filter(col("rows") >= 150L && col("rows") <= 350L)
      .agg(count(lit(1)).as("cnt"), sum(col("a")).as("sm"),
        min(col("rows")).as("mn"), max(col("rows")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      agg.queryExecution.executedPlan.toString.take(1500))
    val r = agg.collect()(0)
    assert(r.getLong(0) == 100)
    assert(r.getLong(1) == (200 until 300).map(_ * 3L).sum)
    assert(r.getLong(2) == 200L && r.getLong(3) == 299L)
    // plain COUNT(*) under the range (the most common shape)
    val cnt = df.filter(col("rows") >= 150L)
    assert(cnt.count() == 100)
    // range cutting INTO a file: falls back to a real scan, stays exact
    val partial = df.filter(col("rows") >= 250L)
      .agg(count(lit(1)).as("cnt"), sum(col("a")).as("sm"))
    assert(!partial.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    val pr = partial.collect()(0)
    assert(pr.getLong(0) == 50 && pr.getLong(1) == (250 until 300).map(_ * 3L).sum)
    // a consumed predicate must still filter NON-aggregate reads
    // exactly (columnar path relies on the containment proof)
    assert(df.filter(col("rows") >= 150L && col("rows") <= 350L)
      .select("rows").as[Long].collect().toSeq.sorted ==
      (200L until 300L))
    // attr predicates are never consumed → no stats aggregate
    val attrAgg = df.filter(col("a") >= 600L).agg(count(lit(1)))
    assert(!attrAgg.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(attrAgg.collect()(0).getLong(0) == 100)

    // PARTIALLY-selected fragment: the DSv2 writer records per-file
    // sums in-stream, so a range covering only some files of one
    // fragment still answers SUM from the per-file stats
    val wh = java.nio.file.Files.createTempDirectory("graft_aur").toString
    spark.conf.set("spark.sql.catalog.gaur", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gaur.warehouse", wh)
    spark.sql("CREATE TABLE gaur.t (k BIGINT, a BIGINT) " +
      "TBLPROPERTIES('graft.dimensions'='k')")
    // 2 tasks → 2 files, [0,499] and [500,999], one fragment
    spark.range(0, 1000).coalesce(2)
      .select(col("id").as("k"), (col("id") * 3).as("a"))
      .writeTo("gaur.t").append()
    val t = spark.table("gaur.t")
    val half = t.filter(col("k") >= 500L)
      .agg(count(lit(1)).as("cnt"), sum(col("a")).as("sm"),
        min(col("k")).as("mn"), max(col("k")).as("mx"))
    assert(half.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      half.queryExecution.executedPlan.toString.take(1500))
    val hr = half.collect()(0)
    assert(hr.getLong(0) == 500)
    assert(hr.getLong(1) == (500 until 1000).map(_ * 3L).sum)
    assert(hr.getLong(2) == 500L && hr.getLong(3) == 999L)
  }

  test("decimal attributes round-trip losslessly (divergence from ref)") {
    val uri = tmp()
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("price", DecimalType(12, 4)))))
    val df = spark.sql(
      """SELECT * FROM VALUES
        |(1L, CAST(12345.6789 AS DECIMAL(12,4))),
        |(2L, CAST(-0.0001 AS DECIMAL(12,4))),
        |(3L, CAST(NULL AS DECIMAL(12,4))) t(k, price)""".stripMargin)
    GraftArray.write(spark, uri, df)
    // API path (Spark parquet reader)
    val viaApi = GraftArray.load(spark, uri).orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getDecimal(1)).map(_.toString)))
    assert(viaApi.toSeq == Seq((1L, Some("12345.6789")),
      (2L, Some("-0.0001")), (3L, None)))
    // DSv2 path (our Group reader) + DSv2 write of decimals via SQL
    val wh = java.nio.file.Files.createTempDirectory("graft_dec").toString
    spark.conf.set("spark.sql.catalog.gd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gd.warehouse", wh)
    spark.sql(
      """CREATE TABLE gd.d (k BIGINT, price DECIMAL(12,4))
        |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql("INSERT INTO gd.d VALUES (7, 99.9999), (8, NULL)")
    val got = spark.sql("SELECT k, price FROM gd.d ORDER BY k")
      .collect().map(r => (r.getLong(0), Option(r.getDecimal(1)).map(_.toString)))
    assert(got.toSeq == Seq((7L, Some("99.9999")), (8L, None)))
    // decimal MIN/MAX/SUM are answered from manifest stats (unscaled
    // longs), zero data I/O; AVG falls back and stays exact
    val agg = spark.sql("SELECT sum(price) AS s, min(price) AS mn, " +
      "max(price) AS mx FROM gd.d")
    assert(agg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      agg.queryExecution.executedPlan.toString.take(1500))
    val r = agg.collect()(0)
    assert(r.getDecimal(0).toString == "99.9999" &&
      r.getDecimal(1).toString == "99.9999" &&
      r.getDecimal(2).toString == "99.9999")
    assert(spark.sql("SELECT avg(price) FROM gd.d").collect()(0)
      .getDecimal(0).toString.startsWith("99.9999"))
  }

  test("subset registration over an existing array (S14)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_sub").toString
    spark.conf.set("spark.sql.catalog.gs", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gs.warehouse", wh)
    spark.sql(
      """CREATE TABLE gs.base (k BIGINT, a DOUBLE, b STRING)
        |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql("INSERT INTO gs.base VALUES (1, 1.5, 'x'), (2, 2.5, 'y')")
    // requires the explicit opt-in
    val e0 = intercept[Exception] {
      spark.sql(
        """CREATE TABLE gs.noflag (k BIGINT, a DOUBLE)
          |TBLPROPERTIES('graft.subset_of'='base')""".stripMargin)
    }
    assert(e0.getMessage.contains("allow_subset") ||
      Option(e0.getCause).exists(_.getMessage.contains("allow_subset")))
    // subset sees only its columns, reads the array's data
    spark.sql(
      """CREATE TABLE gs.sub (k BIGINT, a DOUBLE)
        |TBLPROPERTIES('graft.subset_of'='base',
        |  'graft.allow_subset'='true')""".stripMargin)
    assert(spark.table("gs.sub").columns.toSeq == Seq("k", "a"))
    assert(spark.sql("SELECT sum(a) FROM gs.sub").as[Double].head() == 4.0)
    // SHOW TABLES lists the subset too — listing and resolution agree
    assert(spark.sql("SHOW TABLES IN gs").select("tableName")
      .as[String].collect().toSet == Set("base", "sub"))
    // writes through the base surface in the subset immediately
    spark.sql("INSERT INTO gs.base VALUES (3, 3.5, 'z')")
    assert(spark.table("gs.sub").count() == 3)
    // subset is read-only (capability-gated: Spark refuses the append)
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO gs.sub VALUES (9, 9.0)").collect()
    }
    assert(e1.getMessage.contains("does not support append") ||
      e1.getMessage.contains("read-only"))
    // unknown column / missing dim rejected
    val e2 = intercept[Exception] {
      spark.sql(
        """CREATE TABLE gs.bad (k BIGINT, nope DOUBLE)
          |TBLPROPERTIES('graft.subset_of'='base',
          |  'graft.allow_subset'='true')""".stripMargin)
    }
    assert(e2 != null)
    val e3 = intercept[Exception] {
      spark.sql(
        """CREATE TABLE gs.nodim (a DOUBLE)
          |TBLPROPERTIES('graft.subset_of'='base',
          |  'graft.allow_subset'='true')""".stripMargin)
    }
    assert(e3.getMessage.contains("dimension") ||
      Option(e3.getCause).exists(_.getMessage.contains("dimension")))
    // dropping the subset never touches the base array
    spark.sql("DROP TABLE gs.sub")
    assert(!spark.catalog.tableExists("gs.sub"))
    assert(spark.table("gs.base").count() == 3)
  }

  test("subset tables keep registered column order and fail on dropped columns") {
    val wh = java.nio.file.Files.createTempDirectory("graft_sub2").toString
    val cat = "gso" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(
      s"""CREATE TABLE $cat.base (k BIGINT, a DOUBLE, b STRING, c BIGINT)
         |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.base VALUES (1, 1.5, 'x', 10)")
    // registered order (c before a) is the surfaced order, not the
    // array's attr order (a, b, c)
    spark.sql(
      s"""CREATE TABLE $cat.sub (k BIGINT, c BIGINT, a DOUBLE)
         |TBLPROPERTIES('graft.subset_of'='base',
         |  'graft.allow_subset'='true')""".stripMargin)
    assert(spark.table(s"$cat.sub").columns.toSeq == Seq("k", "c", "a"))
    assert(spark.sql(s"SELECT * FROM $cat.sub").as[(Long, Long, Double)]
      .collect().toSeq == Seq((1L, 10L, 1.5)))
    // dropping a registered column from the TARGET breaks the subset
    // loudly — it must not silently vanish from the subset's schema
    graft.sources.GraftArray.dropColumn(spark, s"$wh/base", "c")
    val e = intercept[Exception] { spark.table(s"$cat.sub").collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("no longer") && m.contains("c")),
      msgs(e).mkString(" | "))
    // unregistered columns are unaffected
    assert(spark.table(s"$cat.base").columns.toSeq == Seq("k", "a", "b"))
  }

  test("enum attributes: DDL, discovery, write guard on both paths") {
    val wh = java.nio.file.Files.createTempDirectory("graft_enum").toString
    // a catalog of its own: Spark keeps the first instance per name, so
    // reusing another test's name would keep that test's warehouse
    spark.conf.set("spark.sql.catalog.genum", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.genum.warehouse", wh)
    spark.sql(
      """CREATE TABLE genum.e (k BIGINT, status STRING)
        |TBLPROPERTIES('graft.dimensions'='k',
        |  'graft.enum.status'='F,O,P')""".stripMargin)
    // discovery surfaces the enumeration on the read schema
    val meta = spark.table("genum.e").schema.fields
      .find(_.name == "status").get.metadata
    assert(meta.getStringArray("graft.enum_values").toSeq == Seq("F", "O", "P"))
    // in-domain writes pass (DSv2 path)
    spark.sql("INSERT INTO genum.e VALUES (1, 'F'), (2, 'O')")
    // out-of-domain values are rejected on every write entry
    assertRejected(Seq((3L, "X")).toDF("k", "status"), "genum.e", s"$wh/e")(
      _.contains("value not in enum status: X"))
    // predicate over the enum attr is accepted and correct (reference
    // bails on pushing enum conditions, ha_mytile.cc:2557–2562)
    assert(spark.table("genum.e").filter(col("status") === "F").count() == 1)
    assert(spark.table("genum.e").count() == 2) // failed inserts left nothing
  }

  test("decimal precision extremes round-trip through the DSv2 writer") {
    // Spark's standard layout stores p<=9 as INT32, 10..18 as INT64,
    // >18 as fixed-len bytes — all three must round-trip and keep
    // working stats where defined
    val wh = java.nio.file.Files.createTempDirectory("graft_dprec").toString
    spark.conf.set("spark.sql.catalog.gp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gp.warehouse", wh)
    spark.sql(
      """CREATE TABLE gp.d (k BIGINT, small DECIMAL(8,2), wide DECIMAL(25,3))
        |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql("INSERT INTO gp.d VALUES " +
      "(1, 123456.78, 1234567890123456789012.345), " +
      "(2, -0.01, -0.001), (3, NULL, NULL)")
    val got = spark.table("gp.d").orderBy("k").collect().map(r =>
      (r.getLong(0), Option(r.getDecimal(1)).map(_.toString),
        Option(r.getDecimal(2)).map(_.toString)))
    assert(got.toSeq == Seq(
      (1L, Some("123456.78"), Some("1234567890123456789012.345")),
      (2L, Some("-0.01"), Some("-0.001")),
      (3L, None, None)))
    // small-precision decimal stats still answer MIN/MAX/SUM
    val agg = spark.sql(
      "SELECT sum(small) AS s, min(small) AS mn, max(small) AS mx FROM gp.d")
    assert(agg.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    val r = agg.collect()(0)
    assert(r.getDecimal(0).toString == "123456.77")
    assert(r.getDecimal(1).toString == "-0.01" &&
      r.getDecimal(2).toString == "123456.78")
  }

  test("decimal SUM overflow drops the stat and falls back to a real scan") {
    // unscaled sums that exceed Long.MaxValue must NOT wrap: Spark's
    // sum(decimal(18,0)) widens to decimal(28,0), so a wrapped stats
    // answer would silently diverge. Both overflow sites are covered:
    // (a) within one writer task, (b) across fragments.
    val wh = java.nio.file.Files.createTempDirectory("graft_ovf").toString
    spark.conf.set("spark.sql.catalog.go", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.go.warehouse", wh)
    spark.sql(
      """CREATE TABLE go.ovf (k BIGINT, v DECIMAL(18,0))
        |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    // (a) 11 × 9e17 = 9.9e18 > Long.MaxValue inside a single task
    spark.sql("INSERT INTO go.ovf SELECT id, CAST(900000000000000000 AS " +
      "DECIMAL(18,0)) FROM range(0, 11)").collect()
    val agg = spark.sql("SELECT sum(v) AS s FROM go.ovf")
    assert(!agg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "overflowed stat must not answer from GraftAggScan")
    assert(agg.collect()(0).getDecimal(0).toBigInteger.toString
      == "9900000000000000000")
    // (b) per-fragment sums fine, cross-fragment addition overflows
    spark.sql(
      """CREATE TABLE go.ovf2 (k BIGINT, v DECIMAL(18,0))
        |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql("INSERT INTO go.ovf2 SELECT id, CAST(900000000000000000 AS " +
      "DECIMAL(18,0)) FROM range(0, 6)").collect()
    spark.sql("INSERT INTO go.ovf2 SELECT id, CAST(900000000000000000 AS " +
      "DECIMAL(18,0)) FROM range(100, 106)").collect()
    val agg2 = spark.sql("SELECT sum(v) AS s FROM go.ovf2")
    assert(!agg2.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(agg2.collect()(0).getDecimal(0).toBigInteger.toString
      == "10800000000000000000")
    // non-overflowing sums still take the stats path
    val agg3 = spark.sql("SELECT sum(k) AS s FROM go.ovf")
    assert(agg3.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(agg3.as[Long].head() == 55L)
  }

  test("SUM over zero non-null values answers NULL from stats") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    GraftArray.write(spark, uri,
      Seq((1L, 1L, Option.empty[Long], "x"), (2L, 2L, Option.empty[Long], "y"))
        .toDF("rows", "cols", "a", "s"))
    val df = spark.read.format("graftarray").option("path", uri).load()
    val agg = df.agg(sum(col("a")).as("s"))
    assert(agg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      agg.queryExecution.executedPlan.toString.take(1500))
    assert(agg.collect()(0).isNullAt(0))
  }

  test("pushdown ≡ post-filter (property over random predicates)") {
    val uri = tmp()
    GraftArray.create(spark, uri, schema2d)
    // two disjoint fragments (merge-free) so the attribute-stats file
    // pruning path participates in the property
    for (r <- Seq((0L, 500L), (500L, 1000L)))
      GraftArray.write(spark, uri,
        spark.range(r._1, r._2).select(col("id").as("rows"),
          (col("id") % 7).as("cols"), (col("id") % 13).as("a"),
          concat(lit("s"), col("id") % 3).as("s")))
    val arr = spark.read.format("graftarray").option("path", uri).load()
    val base = arr.collect().toSeq // unfiltered truth
    import org.apache.spark.sql.Row
    val refDf = spark.createDataFrame(
      spark.sparkContext.parallelize(base), arr.schema)
    val predicates = Seq(
      col("rows").between(10L, 200L) && col("a") > 5L,
      col("cols") === 3L || col("a") <= 2L,
      col("s") === "s1" && col("rows") < 100L,
      !(col("a") === 4L) && col("rows").isin(1L, 5L, 400L, 499L),
      col("s").isNotNull && col("cols") =!= 2L,
      // attr-range shapes (file skipping by attr min/max stats)
      col("a").between(3L, 9L),
      col("a") > 11L && col("s") === "s0",
      col("a") <= 0L || col("rows") >= 990L)
    predicates.foreach { p =>
      val got = arr.filter(p).orderBy("rows").collect().toSeq
      val want = refDf.filter(p).orderBy("rows").collect().toSeq
      assert(got == want, s"pushdown mismatch for $p")
    }
  }

  test("EXPLAIN shows the files planned and the partitions per kind (arr1)") {
    val df = SparkEntry.queries("arr1_roundtrip_filter")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val m = """GraftScan\(files (\d+) of (\d+), partitions simple=(\d+) merge=0 slab=0 hash=0 fill=0\)"""
      .r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    val Seq(planned, visible, simple) = m.get.subgroups.map(_.toInt)
    assert(planned >= 1 && planned <= visible && simple >= 1, m.get.matched)
    // perfbench's PlanStats keys stats-only aggregates on this text
    assert(!plan.contains("stats-only"))
  }
}
