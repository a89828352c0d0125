package graft

import org.apache.spark.sql.functions._
import graft.sources.GraftArray

/** Row-level UPDATE / MERGE / attribute DELETE via the delta rewrite
  * (SupportsDelta): updates are upserts (new versions shadow old),
  * deletes are coordinate files riding the same fragment manifest —
  * one atomic commit per statement, composing with time travel,
  * latest-wins, consolidation and encryption. */
class UpdateMergeSpec extends SparkSpec {
  import spark.implicits._

  private def mkCat(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_rl").toString
    val cat = "gr" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("UPDATE writes new versions; history intact under time travel") {
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, v DOUBLE, s STRING)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.t VALUES (1, 1.0, 'a'), (2, 2.0, 'b'), (3, 3.0, 'c')")
    val pre = GraftArray.fragments(spark, s"$wh/t").map(_.timestamp).max
    spark.sql(s"UPDATE $cat.t SET v = v * 10 WHERE s <> 'b'")
    assert(spark.table(s"$cat.t").orderBy("k")
      .as[(Long, Double, String)].collect().toSeq ==
      Seq((1L, 10.0, "a"), (2L, 2.0, "b"), (3L, 30.0, "c")))
    // the update is ONE new fragment of new versions — no tombstones
    val frags = GraftArray.fragments(spark, s"$wh/t")
    assert(frags.size == 2)
    val upd = frags.maxBy(_.timestamp)
    assert(upd.rows == 2 && upd.deleteCoordFiles.isEmpty &&
      upd.origin.contains("rowlevel"))
    // pre-update snapshot unchanged
    assert(spark.sql(s"SELECT * FROM $cat.`t@$pre`")
      .orderBy("k").as[(Long, Double, String)].collect().toSeq ==
      Seq((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "c")))
  }

  test("MERGE: matched update + matched delete + not-matched insert, atomically") {
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.m (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.m VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    Seq((1L, 100.0), (3L, -1.0), (9L, 9.0)).toDF("k", "nv")
      .createOrReplaceTempView("src")
    spark.sql(
      s"""MERGE INTO $cat.m t USING src ON t.k = src.k
         |WHEN MATCHED AND src.nv < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = src.nv
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.nv)
         |""".stripMargin)
    assert(spark.table(s"$cat.m").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 100.0), (2L, 2.0), (9L, 9.0)))
    // the whole MERGE is ONE fragment: updated+inserted versions as
    // data files, the deleted coordinate as a del file — atomic
    val frags = GraftArray.fragments(spark, s"$wh/m")
    assert(frags.size == 2)
    val m = frags.maxBy(_.timestamp)
    assert(m.rows == 2 && m.deleteCoordFiles.nonEmpty)
    // deleted coordinate masked for the merge scan AND the stream
    assert(spark.table(s"$cat.m").filter(col("k") === 3L).count() == 0)
    // full consolidation reclaims the coordinate delete physically
    assert(GraftArray.consolidate(spark, s"$wh/m").isDefined)
    assert(GraftArray.vacuum(spark, s"$wh/m") == 2)
    val left = GraftArray.fragments(spark, s"$wh/m")
    assert(left.size == 1 && left.head.deleteCoordFiles.isEmpty &&
      left.head.rows == 3)
    assert(spark.table(s"$cat.m").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 100.0), (2L, 2.0), (9L, 9.0)))
  }

  test("MERGE with NOT MATCHED BY SOURCE updates and deletes") {
    val (cat, _) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.s (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.s VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    Seq((2L, 20.0)).toDF("k", "nv").createOrReplaceTempView("src_nmbs")
    spark.sql(
      s"""MERGE INTO $cat.s t USING src_nmbs u ON t.k = u.k
         |WHEN MATCHED THEN UPDATE SET v = u.nv
         |WHEN NOT MATCHED BY SOURCE AND t.k = 3 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -v
         |""".stripMargin)
    assert(spark.table(s"$cat.s").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, -1.0), (2L, 20.0)))
  }

  test("manifestRowsExact: tombstones force the count() fallback (t21 idf N)") {
    val (cat, _) = mkCat()
    def tabOf(name: String): graft.sources.v2.GraftTable =
      spark.table(s"$cat.$name").queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.asInstanceOf[graft.sources.v2.GraftTable]
      }.get
    def mk(name: String): Unit = {
      spark.sql(s"""CREATE TABLE $cat.$name (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
      spark.sql(s"INSERT INTO $cat.$name VALUES (1, 1.0), (2, 2.0)")
      spark.sql(s"INSERT INTO $cat.$name VALUES (3, 3.0), (4, 4.0)")
    }
    mk("xm")
    // disjoint fragments, no tombstones: the manifests answer exactly
    assert(tabOf("xm").manifestRowsExact.contains(4L))
    assert(operators.Dedup.corpusRows(
      spark.table(s"$cat.xm"), exact = true) == 4L)
    // metadata DELETE → deletePred tombstone: rows are masked in the
    // scan INDEPENDENTLY of fragment disjointness, so the manifest sum
    // would overcount (a published idf N would be wrong on the v18
    // GDPR-erasure shape) — exact mode must fall back to count()
    spark.sql(s"DELETE FROM $cat.xm WHERE k >= 4")
    assert(tabOf("xm").manifestRowsExact.isEmpty,
      "deletePred tombstone must force the count() fallback")
    assert(operators.Dedup.corpusRows(
      spark.table(s"$cat.xm"), exact = true) == 3L)
    // row-level DELETE (attr pred) → delete-coordinate files: same rule
    mk("xr")
    spark.sql(s"DELETE FROM $cat.xr WHERE v = 4.0")
    assert(tabOf("xr").manifestRowsExact.isEmpty,
      "delete-coordinate files must force the count() fallback")
    assert(operators.Dedup.corpusRows(
      spark.table(s"$cat.xr"), exact = true) == 3L)
  }

  test("attribute-predicate DELETE executes row-level with SQL semantics") {
    // the metadata path refuses attribute predicates (per-version
    // masking could resurrect older versions); the row-level rewrite
    // deletes by COORDINATE, which masks every older version too —
    // exact SQL row deletion
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.d (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.d VALUES (1, 10.0)")
    spark.sql(s"INSERT INTO $cat.d VALUES (1, 20.0), (2, 2.0)") // upsert
    spark.sql(s"DELETE FROM $cat.d WHERE v = 20.0")
    // no resurrect of the old (1, 10.0) version
    assert(spark.table(s"$cat.d").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((2L, 2.0)))
    // NULL-safe: NOT IN with NULLs keeps NULL rows (Spark evaluates
    // the condition; only matching coordinates reach the delta writer)
    spark.sql(s"""CREATE TABLE $cat.n (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.n VALUES (1, 1.0), (2, CAST(NULL AS DOUBLE)), (3, 3.0)")
    spark.sql(s"DELETE FROM $cat.n WHERE v NOT IN (1.0)")
    assert(spark.table(s"$cat.n").orderBy("k").as[(Long, Option[Double])]
      .collect().toSeq == Seq((1L, Some(1.0)), (2L, None)))
  }

  test("DELETE and UPDATE with subquery conditions run row-level") {
    val (cat, _) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.sq (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.sq VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    Seq(1L, 3L).toDF("kk").createOrReplaceTempView("sq_keys")
    // a subquery condition cannot be pushed to the metadata path —
    // Spark rewrites through the row-level (SupportsDelta) plan
    spark.sql(s"DELETE FROM $cat.sq WHERE k IN (SELECT kk FROM sq_keys)")
    assert(spark.table(s"$cat.sq").as[(Long, Double)].collect().toSeq ==
      Seq((2L, 2.0)))
    spark.sql(s"INSERT INTO $cat.sq VALUES (5, 5.0)")
    spark.sql(s"UPDATE $cat.sq SET v = 0 " +
      s"WHERE k NOT IN (SELECT kk FROM sq_keys)")
    assert(spark.table(s"$cat.sq").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((2L, 0.0), (5L, 0.0)))
  }

  test("UPDATE after ADD COLUMN writes full-width versions") {
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.ev (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.ev VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"ALTER TABLE $cat.ev ADD COLUMN s STRING")
    // pre-evolution rows surface s=NULL; the UPDATE rewrites matching
    // rows at the evolved width
    spark.sql(s"UPDATE $cat.ev SET s = 'x' WHERE k = 1")
    assert(spark.table(s"$cat.ev").orderBy("k")
      .as[(Long, Double, Option[String])].collect().toSeq ==
      Seq((1L, 1.0, Some("x")), (2L, 2.0, None)))
    // and MERGE keys still resolve post-evolution
    Seq((2L, "y")).toDF("k", "ns").createOrReplaceTempView("ev_src")
    spark.sql(s"""MERGE INTO $cat.ev t USING ev_src u ON t.k = u.k
      |WHEN MATCHED THEN UPDATE SET s = u.ns""".stripMargin)
    assert(spark.table(s"$cat.ev").orderBy("k")
      .as[(Long, Double, Option[String])].collect().toSeq ==
      Seq((1L, 1.0, Some("x")), (2L, 2.0, Some("y"))))
    assert(GraftArray.fragments(spark, s"$wh/ev").size == 3)
  }

  test("concurrent appends both commit (no lost fragments)") {
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.cc (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = (0 until 4).map { i =>
      Future {
        Seq((i.toLong * 100, i.toDouble)).toDF("k", "v")
          .writeTo(s"$cat.cc").append()
      }
    }
    Await.result(Future.sequence(writes), 2.minutes)
    assert(GraftArray.fragments(spark, s"$wh/cc").size == 4)
    assert(spark.table(s"$cat.cc").count() == 4)
  }

  test("coordinate deletes match on decimal and timestamp dims") {
    // coordinate-tombstone keys must live in the same storage domain
    // as decoded rows for every dim type — decimal scale and µs
    // timestamps are where representations could silently diverge
    val (cat, _) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.dt (
      |  price DECIMAL(10,2), at TIMESTAMP, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='price,at')""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.dt VALUES
      |(1.50, TIMESTAMP'2024-01-01 00:00:00', 1.0),
      |(2.25, TIMESTAMP'2024-06-15 12:30:45.123456', 2.0),
      |(3.00, TIMESTAMP'2024-12-31 23:59:59', 3.0)""".stripMargin)
    spark.sql(s"DELETE FROM $cat.dt WHERE v = 2.0") // row-level path
    assert(spark.table(s"$cat.dt").orderBy("price")
      .select(col("price").cast("string"), col("v"))
      .as[(String, Double)].collect().toSeq ==
      Seq(("1.50", 1.0), ("3.00", 3.0)))
    // and an upsert of a deleted coordinate resurfaces (newer version)
    spark.sql(s"""INSERT INTO $cat.dt VALUES
      |(2.25, TIMESTAMP'2024-06-15 12:30:45.123456', 22.0)""".stripMargin)
    assert(spark.table(s"$cat.dt").count() == 3)
  }

  test("delta writer attempts never collide on file paths (retry/speculation)") {
    // Two attempts of the SAME partition (retry or speculation) must
    // write attempt-distinct data AND del files — the driver commits
    // one winner, the loser aborts, and neither can clobber the other
    // mid-write (ParquetWriter opens in CREATE mode).
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.sp (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    val uri = s"$wh/sp"
    val schema = GraftArray.store(spark, uri).loadSchema()
    val rowSchema = spark.table(s"$cat.sp").schema
    val conf = spark.sparkContext.hadoopConfiguration
    import org.apache.spark.sql.catalyst.InternalRow
    val files = Seq(1L, 2L).flatMap { attempt =>
      val w = new graft.sources.v2.GraftDeltaWriter(
        uri, "fragspec", 0, schema, rowSchema, conf, None, taskId = attempt)
      w.insert(InternalRow(7L, 7.5))
      w.delete(null, InternalRow(9L))
      val msg = w.commit()
        .asInstanceOf[graft.sources.v2.GraftDeltaCommitMessage]
      w.close()
      Seq(msg.data.file, msg.coords.file)
    }
    assert(files.distinct.size == 4, s"attempt file collision: $files")
    assert(files.count(_.contains("-t1.")) == 2 &&
      files.count(_.contains("-t2.")) == 2)
  }

  test("row-level operations on encrypted arrays round-trip") {
    val (cat, _) = mkCat()
    spark.conf.set(graft.core.EncryptionKeys.ConfKey,
      "000102030405060708090a0b0c0d0e0f")
    spark.sql(s"""CREATE TABLE $cat.e (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k',
      |  'graft.encrypted'='true')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.e VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"UPDATE $cat.e SET v = 9.0 WHERE k = 1")
    spark.sql(s"DELETE FROM $cat.e WHERE v = 2.0") // row-level (attr pred)
    assert(spark.table(s"$cat.e").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 9.0)))
  }
}
