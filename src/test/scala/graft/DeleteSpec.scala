package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.sources.GraftArray
import graft.sources.v2.PredicateSupport

/** DELETE FROM via delete-condition tombstones (the storage model's
  * delete queries; additive — the reference plugin is INSERT-only):
  * a tombstone masks matching cells of strictly earlier fragments,
  * composes with time travel / latest-wins / dense fill / consolidation,
  * and the stats-only aggregate path correctly disables itself. */
class DeleteSpec extends SparkSpec {
  import spark.implicits._

  private def mkCat(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_del").toString
    val cat = "gd" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("DELETE masks earlier rows; later re-inserts survive") {
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    val preDelete = GraftArray.fragments(spark, s"$wh/t").map(_.timestamp).max
    spark.sql(s"DELETE FROM $cat.t WHERE k < 3")
    assert(spark.table(s"$cat.t").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((3L, 3.0)))
    // the tombstone is manifest-only: no data files
    val tomb = GraftArray.fragments(spark, s"$wh/t")
      .filter(_.deletePred.isDefined)
    assert(tomb.size == 1 && tomb.head.files.isEmpty && tomb.head.rows == 0)
    // time travel below the tombstone still sees the rows
    assert(spark.sql(s"SELECT * FROM $cat.`t@$preDelete`").count() == 3)
    // re-insert AFTER the delete: new versions are untouched by it
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10.0)")
    assert(spark.table(s"$cat.t").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 10.0), (3L, 3.0)))
    // stats-only aggregates disable themselves (stats count masked
    // rows) and the fallback scan is correct
    val agg = spark.table(s"$cat.t").agg(count(lit(1)).as("n"),
      round(sum("v"), 2).as("s"))
    assert(!agg.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(agg.as[(Long, Double)].head() == ((2L, 13.0)))
    // consolidation applies the delete physically; vacuum reclaims;
    // the stats fast path returns
    assert(GraftArray.consolidate(spark, s"$wh/t").isDefined)
    assert(GraftArray.vacuum(spark, s"$wh/t") == 3) // 2 data + tombstone
    val left = GraftArray.fragments(spark, s"$wh/t")
    assert(left.size == 1 && left.head.deletePred.isEmpty &&
      left.head.rows == 2)
    assert(spark.table(s"$cat.t").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 10.0), (3L, 3.0)))
    val agg2 = spark.table(s"$cat.t").agg(count(lit(1)).as("n"))
    assert(agg2.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(agg2.as[Long].head() == 2L)
  }

  test("unconditional DELETE empties the table; later writes visible") {
    val (cat, _) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.u (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.u VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"DELETE FROM $cat.u")
    assert(spark.table(s"$cat.u").count() == 0)
    spark.sql(s"INSERT INTO $cat.u VALUES (5, 5.0)")
    assert(spark.table(s"$cat.u").as[(Long, Double)].collect().toSeq ==
      Seq((5L, 5.0)))
  }

  test("deleted dense cells revert to fill values") {
    val uri = java.nio.file.Files.createTempDirectory("graft_deld")
      .toString + "/arr"
    val dsch = ArraySchema(ArrayKind.Dense,
      Seq(DimensionSpec("r", LongType, Some("0"), Some("4"), Some(5L))),
      Seq(AttributeSpec("v", LongType, nullable = true, fillValue = Some("-1"))))
    GraftArray.create(spark, uri, dsch)
    GraftArray.write(spark, uri,
      Seq((0L, 10L), (2L, 20L), (4L, 40L)).toDF("r", "v"))
    GraftArray.commitTombstone(spark, uri,
      PredicateSupport.Cmp("=", "v", 20L))
    val rows = spark.read.format("graftarray").option("path", uri).load()
      .orderBy("r").as[(Long, Long)].collect().toSeq
    // r=2 was deleted → reverts to the fill value, domain count intact
    assert(rows == Seq((0L, 10L), (1L, -1L), (2L, -1L), (3L, -1L), (4L, 40L)))
  }

  test("latest-wins merge with interleaved delete keeps newer versions") {
    // v@t1, delete@t2 matching the t1 version, rewrite@t3: the t1
    // version is masked, the t3 version wins — per-version masking,
    // not per-coordinate
    val uri = java.nio.file.Files.createTempDirectory("graft_dlw")
      .toString + "/arr"
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType))))
    GraftArray.write(spark, uri, spark.range(0, 10).coalesce(1)
      .select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.commitTombstone(spark, uri,
      PredicateSupport.Cmp("=", "v", 1.0))
    GraftArray.write(spark, uri, spark.range(0, 5).coalesce(1)
      .select(col("id").as("k"), lit(1.0).as("v"))) // same VALUE, newer
    val got = spark.read.format("graftarray").option("path", uri).load()
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == (0L until 5L).map((_, 1.0)),
      s"post-delete re-writes must survive: $got")
    // convenience loader routes through the masking readers too
    assert(GraftArray.load(spark, uri).count() == 5)
  }

  test("windowed consolidation never absorbs tombstones") {
    // tombstone also masks PRE-window fragments; absorbing it into a
    // windowed merge would unmask them
    val uri = java.nio.file.Files.createTempDirectory("graft_dwin")
      .toString + "/arr"
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType))))
    GraftArray.write(spark, uri, // pre-window, will be masked
      Seq((1L, 666.0)).toDF("k", "v"))
    val t2 = GraftArray.write(spark, uri, Seq((2L, 2.0)).toDF("k", "v"))
    GraftArray.commitTombstone(spark, uri,
      PredicateSupport.Cmp("=", "v", 666.0))
    GraftArray.write(spark, uri, Seq((3L, 3.0)).toDF("k", "v"))
    val before = spark.read.format("graftarray").option("path", uri).load()
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(before == Seq((2L, 2.0), (3L, 3.0)))
    // consolidate the window starting at t2 (covers tombstone + later)
    assert(GraftArray.consolidate(spark, uri, since = Some(t2)).isDefined)
    // tombstone NOT absorbed: still visible, k=1 stays masked
    assert(GraftArray.fragments(spark, uri).exists(_.deletePred.isDefined))
    assert(spark.read.format("graftarray").option("path", uri).load()
      .orderBy("k").as[(Long, Double)].collect().toSeq == before)
  }

  test("metadata-path gates route attribute/NOT deletes to row-level") {
    // attribute and NOT predicates fail canDeleteWhere (the metadata
    // path cannot give exact SQL semantics for them) — they execute
    // via the row-level rewrite instead (UpdateMergeSpec). The
    // storage-model API below keeps the raw per-version semantics:
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.g (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.g VALUES (1, 10.0)")
    spark.sql(s"INSERT INTO $cat.g VALUES (1, 20.0)") // upsert
    // the per-version delete condition masks the visible v=20 version
    // and the older v=10 version RESURFACES (delete-condition
    // behavior, deliberately not offered as SQL DELETE)
    GraftArray.commitTombstone(spark, s"$wh/g",
      PredicateSupport.Cmp("=", "v", 20.0))
    assert(spark.table(s"$cat.g").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0)))
    // unknown columns rejected at commit, not silently no-op'd
    val e3 = intercept[IllegalArgumentException] {
      GraftArray.commitTombstone(spark, s"$wh/g",
        PredicateSupport.Cmp("=", "nope", 1L))
    }
    assert(e3.getMessage.contains("unknown"))
  }

  test("full consolidation reclaims tombstone-only arrays") {
    val uri = java.nio.file.Files.createTempDirectory("graft_dto")
      .toString + "/arr"
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType))))
    GraftArray.write(spark, uri, Seq((1L, 1.0)).toDF("k", "v"))
    spark.read.format("graftarray").option("path", uri).load() // warm
    GraftArray.commitTombstone(spark, uri, PredicateSupport.TrueP)
    assert(spark.read.format("graftarray").option("path", uri).load()
      .count() == 0)
    // data fragment + tombstone consolidate into one empty fragment
    assert(GraftArray.consolidate(spark, uri).isDefined)
    assert(GraftArray.vacuum(spark, uri) == 2)
    val left = GraftArray.fragments(spark, uri)
    assert(left.size == 1 && left.head.deletePred.isEmpty
      && left.head.rows == 0, left)
    assert(spark.read.format("graftarray").option("path", uri).load()
      .count() == 0)
    // and the array is still writable afterwards
    GraftArray.write(spark, uri, Seq((9L, 9.0)).toDF("k", "v"))
    assert(spark.read.format("graftarray").option("path", uri).load()
      .count() == 1)
  }

  test("streaming source masks deleted rows not yet consumed") {
    val uri = java.nio.file.Files.createTempDirectory("graft_dstr")
      .toString + "/arr"
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType))))
    GraftArray.write(spark, uri,
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v"))
    GraftArray.commitTombstone(spark, uri,
      PredicateSupport.Cmp("<", "k", 3L))
    val name = "graft_dstr_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = spark.readStream.format("graftarray").option("path", uri)
      .load().writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // the backlog delivers post-delete: k<3 never reaches the sink
      assert(spark.table(name).orderBy("k").as[(Long, Double)]
        .collect().toSeq == Seq((3L, 3.0)))
      // the masking partition reads columnar
      val scans = q.asInstanceOf[org.apache.spark.sql.execution.streaming
        .runtime.StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        .collect { case s: org.apache.spark.sql.execution.datasources.v2
          .MicroBatchScanExec => s }
      assert(scans.nonEmpty && scans.forall(_.supportsColumnar))
    } finally q.stop()
  }

  test("encrypted DELETE avoids plaintext tombstones (row-level path)") {
    // the metadata path would persist the predicate in plaintext, so
    // canDeleteWhere refuses encrypted arrays — Spark then routes the
    // DELETE through the row-level rewrite, whose deleted coordinates
    // live inside ENCRYPTED parquet: the delete works, nothing leaks
    val (cat, wh) = mkCat()
    spark.conf.set(graft.core.EncryptionKeys.ConfKey,
      "000102030405060708090a0b0c0d0e0f")
    spark.sql(s"""CREATE TABLE $cat.e (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k',
      |  'graft.encrypted'='true')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.e VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"DELETE FROM $cat.e WHERE v = 1.0")
    assert(spark.table(s"$cat.e").as[(Long, Double)].collect().toSeq ==
      Seq((2L, 2.0)))
    // no predicate tombstone in any manifest; coord files are PARE
    val frags = GraftArray.fragments(spark, s"$wh/e")
    assert(frags.forall(_.deletePred.isEmpty))
    val del = frags.flatMap(_.deleteCoordFiles)
    assert(del.nonEmpty)
    val pq = new java.io.File(s"$wh/e/${del.head}")
    val in = new java.io.RandomAccessFile(pq, "r")
    val tail = new Array[Byte](4)
    in.seek(pq.length() - 4); in.readFully(tail); in.close()
    assert(new String(tail, "US-ASCII") == "PARE", new String(tail))
    // the RAW plaintext-tombstone API still refuses encrypted arrays
    val e2 = intercept[IllegalArgumentException] {
      GraftArray.commitTombstone(spark, s"$wh/e",
        PredicateSupport.Cmp("=", "v", 2.0))
    }
    assert(e2.getMessage.contains("plaintext"))
  }

  test("tombstone predicates round-trip through PredJson") {
    import PredicateSupport._
    val preds: Seq[Pred] = Seq(
      TrueP,
      Cmp(">", "a", 5L), Cmp("<=", "b", 2.5), Cmp("=", "s", "x:y,z"),
      Cmp("<>", "p", BigDecimal("123.45")),
      InSet("c", Set[Any](1L, 2L, 3L)),
      StartsWith("s", "pre"), IsNull("n", isNull = true),
      AndP(OrP(Cmp("=", "a", 1L), NotP(IsNull("b", isNull = false))),
        InSet("s", Set[Any]("u", "v"))))
    preds.foreach { p =>
      val rt = graft.sources.v2.PredJson.fromJson(
        graft.sources.v2.PredJson.toJson(p))
      assert(rt == p, s"round-trip mismatch: $p vs $rt")
    }
  }
}
