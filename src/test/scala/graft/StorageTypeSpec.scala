package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.functions.StorageFunctions._
import graft.sources.GraftArray

/** Guards + conversions for the declared storage-type surface
  * (SURVEY §1.2; reference type mapping mytile.cc:14–264, unsigned
  * domains mytile.cc:184–211, epoch conversions mytile.cc:475–548).
  * The reference's data_types.test writes one table per SQL type; here
  * the same semantics are proven as: write-side domain rejection,
  * boundary-value round-trips, and exact µs-edge truncation. */
class StorageTypeSpec extends SparkSpec with WriteEntries {
  import spark.implicits._

  private def freshWh(): String =
    java.nio.file.Files.createTempDirectory("graft_st").toString

  private def catalog(name: String): String = {
    val wh = freshWh()
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    name
  }

  private def wh(catalog: String): String =
    spark.conf.get(s"spark.sql.catalog.$catalog.warehouse")

  test("unsigned/TIME domain guards reject out-of-range writes") {
    val c = catalog("stg")
    spark.sql(
      s"""CREATE TABLE $c.g (k BIGINT, u8 SMALLINT, u16 INT, tsec BIGINT)
         |TBLPROPERTIES('graft.dimensions'='k',
         |  'graft.type.u8'='UINT8', 'graft.type.u16'='UINT16',
         |  'graft.type.tsec'='TIME_SEC')""".stripMargin)
    // in-domain boundary values are accepted
    spark.sql(s"INSERT INTO $c.g VALUES (1, 255S, 65535, 86399999999)")
    assert(spark.table(s"$c.g").count() == 1)
    // rejected on every write entry, committing nothing:
    def bad(u8: Short, u16: Int, tsec: Long, domain: String): Unit =
      assertRejected(Seq((2L, u8, u16, tsec)).toDF("k", "u8", "u16", "tsec"),
        s"$c.g", s"${wh(c)}/g")(_.contains(s"value out of $domain domain"))
    // u8: 256 is representable in SMALLINT but outside UINT8
    bad(256, 0, 0L, "UINT8")
    // u16: 70000 representable in INT but outside UINT16
    bad(0, 70000, 0L, "UINT16")
    // negative values are equally out of unsigned domain
    bad(-1, 0, 0L, "UINT8")
    // TIME_*: the µs-of-day surface is guarded to one day
    bad(0, 0, 86400000000L, "TIME_SEC")
    // failed inserts left no partial fragments behind
    assert(spark.table(s"$c.g").count() == 1)
  }

  test("UINT64 boundary values round-trip as Decimal(20,0)") {
    val c = catalog("stu")
    spark.sql(
      s"""CREATE TABLE $c.u (k BIGINT, u64 DECIMAL(20,0))
         |TBLPROPERTIES('graft.dimensions'='k', 'graft.type.u64'='UINT64')""".stripMargin)
    spark.sql(s"INSERT INTO $c.u VALUES " +
      "(1, 0), (2, 9223372036854775807), (3, 18446744073709551615)")
    val got = spark.table(s"$c.u").orderBy("k")
      .select(col("u64").cast("string")).as[String].collect().toSeq
    assert(got == Seq("0", "9223372036854775807", "18446744073709551615"))
    // 2^64 itself is out of domain
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $c.u VALUES (4, 18446744073709551616)").collect()
    }
    assert(e.getMessage.contains("UINT64") ||
      Option(e.getCause).exists(_.getMessage.contains("UINT64")))
    // unsigned column type declarations must agree with the Spark type
    val bad = intercept[IllegalArgumentException] {
      AttributeSpec("x", IntegerType, storageType = Some("UINT64"))
    }
    assert(bad.getMessage.contains("UINT64"))
  }

  test("DATETIME_NS and TIME_* convert exactly at the µs edge") {
    // 2024-era ns epoch (~1.7e18) exceeds double's 53-bit mantissa —
    // these conversions must be integer-exact, truncating toward zero
    val ns = 1704067200123456789L
    val got = spark.range(1)
      .select(
        unix_micros(datetimeToTimestamp(lit(ns), "DATETIME_NS")).as("us"),
        unix_micros(datetimeToTimestamp(lit(ns / 1000L * 1000L),
          "DATETIME_NS")).as("us_exact"),
        timestampToDatetime(timestamp_micros(lit(1704067200123456L)),
          "DATETIME_NS").as("back"))
      .as[(Long, Long, Long)].head()
    assert(got._1 == 1704067200123456L) // 789 ns truncated
    assert(got._2 == 1704067200123456L)
    assert(got._3 == 1704067200123456000L) // µs → ns widens ×1000
    // coarse units multiply up losslessly
    val sec = spark.range(1)
      .select(
        unix_micros(datetimeToTimestamp(lit(1704067200L), "DATETIME_SEC"))
          .as("us"),
        timestampToDatetime(timestamp_micros(lit(1704067200999999L)),
          "DATETIME_SEC").as("back"))
      .as[(Long, Long)].head()
    assert(sec._1 == 1704067200000000L)
    assert(sec._2 == 1704067200L) // sub-second truncated on write edge
    // TIME units: count → µs-of-day → count round-trip
    val t = spark.range(1)
      .select(
        timeToMicros(lit(86399L), "TIME_SEC").as("us"),
        microsToTime(timeToMicros(lit(86399L), "TIME_SEC"), "TIME_SEC")
          .as("rt"),
        timeToMicros(lit(123456789L), "TIME_NS").as("ns_us"),
        microsToTime(lit(123456L), "TIME_NS").as("us_ns"))
      .as[(Long, Long, Long, Long)].head()
    assert(t._1 == 86399000000L && t._2 == 86399L)
    assert(t._3 == 123456L) // ns-of-day truncates to µs storage
    assert(t._4 == 123456000L)
  }

  test("charset string types round-trip through their interchange bytes") {
    // UTF-16/32 and UCS-2/4 surface as StringType and charset-convert
    // at the interchange edge [mytile.cc:218–224, 896–923]. Mixed
    // repertoire: ASCII, Latin accent, CJK (BMP), emoji (supplementary)
    val s0 = "abc é漢 😀"
    for (st <- Seq("STRING_UTF16", "STRING_UTF32", "STRING_UCS4")) {
      val rt = spark.range(1).select(
        storageBytesToString(
          stringToStorageBytes(lit(s0), st), st).as("s"))
        .as[String].head()
      assert(rt == s0, s"$st round-trip broke: $rt")
    }
    // the byte representations are genuinely the declared charsets
    val (u16, u32) = spark.range(1).select(
      octet_length(stringToStorageBytes(lit("aé漢"), "STRING_UTF16")),
      octet_length(stringToStorageBytes(lit("aé漢"), "STRING_UTF32")))
      .as[(Int, Int)].head()
    assert(u16 == 6, s"UTF-16LE octets: $u16") // 3 BMP chars × 2 bytes
    assert(u32 == 12, s"UTF-32 octets: $u32")  // 3 chars × 4 bytes
    // UCS-2 shares UTF-16's encoding for its (BMP-only) repertoire
    val sameAsU16 = spark.range(1).select(
      stringToStorageBytes(lit("aé漢"), "STRING_UCS2") ===
        stringToStorageBytes(lit("aé漢"), "STRING_UTF16"))
      .as[Boolean].head()
    assert(sameAsU16)
  }

  test("charset-limited repertoires reject unrepresentable writes") {
    val c = catalog("stc")
    spark.sql(
      s"""CREATE TABLE $c.s (k BIGINT, a STRING, u2 STRING, u16 STRING)
         |TBLPROPERTIES('graft.dimensions'='k',
         |  'graft.type.a'='STRING_ASCII', 'graft.type.u2'='STRING_UCS2',
         |  'graft.type.u16'='STRING_UTF16')""".stripMargin)
    // in-repertoire rows are accepted: ASCII in a, BMP in u2, any in u16
    spark.sql(s"INSERT INTO $c.s VALUES " +
      "(1, 'plain', 'é漢', 'é漢 😀')")
    assert(spark.table(s"$c.s").count() == 1)
    // rejected on every write entry, committing nothing:
    def bad(a: String, u2: String, repertoire: String): Unit =
      assertRejected(Seq((2L, a, u2, "x")).toDF("k", "a", "u2", "u16"),
        s"$c.s", s"${wh(c)}/s")(_.contains(s"value outside $repertoire repertoire"))
    // non-ASCII into STRING_ASCII
    bad("café", "x", "STRING_ASCII")
    // supplementary-plane character into UCS-2 (BMP-only)
    bad("x", "😀", "STRING_UCS2")
    // failed inserts left no partial fragments behind
    assert(spark.table(s"$c.s").count() == 1)
    // the declared charset surfaces in column metadata like every
    // other storage type
    val md = spark.table(s"$c.s").schema.fields
      .map(f => f.name -> f.metadata).toMap
    assert(md("u16").getString("graft.storage_type") == "STRING_UTF16")
  }

  test("declared storage types surface in read-side column metadata") {
    val c = catalog("stm")
    spark.sql(
      s"""CREATE TABLE $c.m (k BIGINT, u32 BIGINT, dns BIGINT)
         |TBLPROPERTIES('graft.dimensions'='k',
         |  'graft.type.u32'='UINT32', 'graft.type.dns'='DATETIME_NS')""".stripMargin)
    val fields = spark.table(s"$c.m").schema.fields
      .map(f => f.name -> f.metadata).toMap
    assert(fields("u32").getString("graft.storage_type") == "UINT32")
    assert(fields("dns").getString("graft.storage_type") == "DATETIME_NS")
    assert(!fields("k").contains("graft.storage_type"))
    // a reader can recover the declared semantics generically: apply
    // the read-edge conversion driven only by the metadata
    spark.sql(s"INSERT INTO $c.m VALUES (1, 7, 1704067200123456789)")
    val dnsType = fields("dns").getString("graft.storage_type")
    val got = spark.table(s"$c.m")
      .select(unix_micros(datetimeToTimestamp(col("dns"), dnsType)).as("us"))
      .as[Long].head()
    assert(got == 1704067200123456L)
  }
}
