package graft

import org.apache.spark.sql.functions._
import graft.core.EncryptionKeys
import graft.sources.GraftArray

/** Parquet modular encryption for graft arrays (reference
  * `encryption_key` AES-GCM — ha_mytile.cc:75, 3440–3472;
  * t/encryption.test): right key round-trips, wrong key fails,
  * plaintext readers fail, and the key appears nowhere on disk. */
class EncryptionSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "000102030405060708090a0b0c0d0e0f"
  private val WrongKey = "ffffffffffffffffffffffffffffffff"

  private def mkTable(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_encspec").toString
    val cat = "genc" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set(EncryptionKeys.ConfKey, Key)
    spark.sql(
      s"""CREATE TABLE $cat.e (k BIGINT, v DOUBLE, s STRING)
         |TBLPROPERTIES('graft.dimensions'='k',
         |  'graft.encrypted'='true')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.e VALUES (1, 1.5, 'alpha'), (2, 2.5, 'beta')")
    (cat, wh)
  }

  test("right key round-trips; wrong key and no key fail") {
    val (cat, _) = mkTable()
    val got = spark.table(s"$cat.e").orderBy("k")
      .as[(Long, Double, String)].collect().toSeq
    assert(got == Seq((1L, 1.5, "alpha"), (2L, 2.5, "beta")))
    // decryption rides the vectorized reader: the scan is columnar
    val scan = spark.table(s"$cat.e").queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scan.supportsColumnar, "an encrypted scan should be columnar")
    // wrong key → decryption failure at read time
    spark.conf.set(EncryptionKeys.ConfKey, WrongKey)
    val e1 = intercept[Exception] {
      spark.table(s"$cat.e").collect()
    }
    assert(e1 != null)
    // no key → clear error before any I/O
    spark.conf.unset(EncryptionKeys.ConfKey)
    val e2 = intercept[Exception] { spark.table(s"$cat.e").collect() }
    assert(e2.getMessage.contains(EncryptionKeys.ConfKey) ||
      Option(e2.getCause).exists(_.getMessage.contains(EncryptionKeys.ConfKey)))
    spark.conf.set(EncryptionKeys.ConfKey, Key) // restore
  }

  test("files are ciphertext: plaintext parquet readers fail") {
    val (_, wh) = mkTable()
    val frag = new java.io.File(s"$wh/e").listFiles()
      .filter(_.getName.startsWith("frag_")).head
    val pq = frag.listFiles().filter(_.getName.endsWith(".parquet")).head
    // magic bytes are PARE (encrypted footer), not PAR1
    val in = new java.io.RandomAccessFile(pq, "r")
    val tail = new Array[Byte](4)
    in.seek(pq.length() - 4); in.readFully(tail); in.close()
    assert(new String(tail, "US-ASCII") == "PARE", new String(tail))
    // Spark's plaintext parquet source cannot read it
    val e = intercept[Exception] {
      spark.read.parquet(pq.getAbsolutePath).collect()
    }
    assert(e != null)
  }

  test("key is never persisted; convenience paths reject encrypted arrays") {
    val (_, wh) = mkTable()
    // scan every non-parquet byte under the table dir for the key hex
    val dir = new java.io.File(s"$wh/e")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val textFiles = walk(dir).filterNot(_.getName.endsWith(".parquet"))
    assert(textFiles.nonEmpty)
    textFiles.foreach { f =>
      val content = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(!content.toLowerCase.contains(Key),
        s"key leaked into ${f.getName}")
    }
    // manifest carries only the flag
    assert(GraftArray.store(spark, s"$wh/e").loadSchema().encrypted)
    // convenience paths refuse (DSv2-only surface, documented)
    val e1 = intercept[IllegalArgumentException] {
      GraftArray.load(spark, s"$wh/e")
    }
    assert(e1.getMessage.contains("DSv2"))
    val e2 = intercept[IllegalArgumentException] {
      GraftArray.write(spark, s"$wh/e", Seq((9L, 9.0, "z")).toDF("k", "v", "s"))
    }
    assert(e2.getMessage.contains("DSv2"))
  }

  test("manifests of encrypted arrays carry no attribute stats") {
    // attribute min/max/sums in plaintext manifests would leak actual
    // data values (string extremes, numeric sums) around the AES-GCM
    // file encryption — only dimension MBRs (the pruning index) persist
    val (cat, wh) = mkTable()
    val frags = GraftArray.store(spark, s"$wh/e").listFragments()
    assert(frags.nonEmpty)
    frags.foreach { f =>
      assert(f.stats.keySet == Set("k"), s"leaked attr stats: ${f.stats.keySet}")
      f.fileStats.values.foreach(st =>
        assert(st.keySet.subsetOf(Set("k")), s"leaked file stats: $st"))
    }
    // raw manifest text contains no attribute values
    val fragJsons = new java.io.File(s"$wh/e/_fragments").listFiles().toSeq
    fragJsons.foreach { j =>
      val content = new String(
        java.nio.file.Files.readAllBytes(j.toPath), "UTF-8")
      assert(!content.contains("alpha") && !content.contains("beta"),
        s"attr values leaked into ${j.getName}")
    }
    // without attr stats, aggregates cannot use the stats-only fast
    // path — they decrypt and scan, and stay correct
    val agg = spark.table(s"$cat.e").agg(
      sum("v").as("sv"), min("s").as("mn"), count(lit(1)).as("n"))
    assert(!agg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "encrypted aggregate must not answer from stats")
    val r = agg.collect().head
    assert(r.getDouble(0) == 4.0 && r.getString(1) == "alpha" &&
      r.getLong(2) == 2L)
  }
}
