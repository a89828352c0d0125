package graft

import org.apache.spark.sql.functions._
import graft.core.EncryptionKeys
import graft.sources.GraftArray

/** `CALL cat.rollback('t', ts)` — point-in-time restore as a NEW
  * commit. Contracts: post-rollback reads equal the `ts` view, the bad
  * period stays time-travelable until vacuum (history-for-space, like
  * consolidation), a ts with nothing newer is a no-op, and the
  * encrypted branch restores through the re-encrypting DSv2 writer. */
class RollbackSpec extends SparkSpec {

  private def mkCat(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_rlb").toString
    val cat = "gl" +
      scala.util.Random.alphanumeric.take(4).mkString.toLowerCase
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("CALL rollback restores; the bad instant stays travelable") {
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    val good = spark.range(0, 100)
      .select(col("id").as("k"), col("id").cast("double").as("v"))
    val ts1 = GraftArray.write(spark, s"$wh/t", good)
    val ts2 = GraftArray.write(spark, s"$wh/t",
      good.filter(col("k") < 50).withColumn("v", col("v") * -1.0 - 1.0))
    val restored = spark.sql(s"CALL $cat.rollback('t', $ts1)").collect()
    assert(!restored.head.isNullAt(0))
    // current read = the good content
    assert(spark.table(s"$cat.t").filter(col("v") < 0).count() == 0)
    assert(spark.table(s"$cat.t").count() == 100)
    // one restore fragment, its files sized from the restored data,
    // not from the scan's partitions
    assert(GraftArray.fragments(spark, s"$wh/t").map(_.files.size) == Seq(1))
    // the bad instant is still reachable by time travel
    val bad = spark.read.format("graftarray").option("path", s"$wh/t")
      .option("asOfTimestamp", ts2.toString).load()
    assert(bad.filter(col("v") < 0).count() == 50)
    // nothing newer than the restore fragment's own ts → no-op
    val again = spark.sql(
      s"CALL $cat.rollback('t', ${restored.head.getLong(0)})").collect()
    assert(again.head.isNullAt(0), "rollback past the head must no-op")
  }

  test("destructive procedures refuse NULL args instead of unboxing 0") {
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.tn (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k', 'graft.buckets'='2',
      |  'graft.allows_dups'='true')""".stripMargin)
    GraftArray.write(spark, s"$wh/tn", spark.range(0, 10)
      .select(col("id").as("k"), col("id").cast("double").as("v")))
    // CALL rollback('t', NULL) must error, not restore to ts=0
    val e1 = intercept[Exception] {
      spark.sql(s"CALL $cat.rollback('tn', CAST(NULL AS BIGINT))").collect()
    }
    assert(e1.getMessage.contains("NULL") ||
      e1.getMessage.toLowerCase.contains("null"), e1.getMessage)
    assert(spark.table(s"$cat.tn").count() == 10, "table was emptied!")
    // CALL rebucket('t', NULL) must error, not remove bucketing
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.rebucket('tn', CAST(NULL AS INT))").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("null"), e2.getMessage)
    assert(GraftArray.store(spark, s"$wh/tn").loadSchema()
      .buckets.contains(2), "bucketing was silently removed!")
  }

  test("rollback to before the first fragment empties the table") {
    val (cat, wh) = mkCat()
    spark.sql(s"""CREATE TABLE $cat.t0 (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    val ts1 = GraftArray.write(spark, s"$wh/t0", spark.range(0, 10)
      .select(col("id").as("k"), col("id").cast("double").as("v")))
    spark.sql(s"CALL $cat.rollback('t0', ${ts1 - 1})")
    assert(spark.table(s"$cat.t0").count() == 0)
  }

  test("encrypted arrays restore through the re-encrypting DSv2 writer") {
    val (cat, wh) = mkCat()
    spark.conf.set(EncryptionKeys.ConfKey,
      "000102030405060708090a0b0c0d0e0f")
    spark.sql(s"""CREATE TABLE $cat.e (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k',
      |  'graft.encrypted'='true')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.e VALUES (1, 1.0), (2, 2.0)")
    val ts1 = GraftArray.store(spark, s"$wh/e")
      .listFragments(None).map(_.timestamp).max
    spark.sql(s"INSERT INTO $cat.e VALUES (1, -99.0)")
    val restored = spark.sql(s"CALL $cat.rollback('e', $ts1)").collect()
    assert(!restored.head.isNullAt(0))
    val rows = spark.table(s"$cat.e").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 1.0), (2L, 2.0)), s"got $rows")
  }
}
