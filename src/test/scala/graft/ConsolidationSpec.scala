package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.sources.GraftArray

/** A `vanish:`-scheme local filesystem whose `listStatus` deletes one
  * armed file right after listing it, once — the window in which a
  * concurrent vacuum removes a manifest that a lister has just named. */
class VanishingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "vanish"
  override def getUri: java.net.URI = java.net.URI.create("vanish:///")
  override def listStatus(
      f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val listed = super.listStatus(f)
    val name = VanishingFs.armed.get()
    listed.find(_.getPath.getName == name)
      .filter(_ => VanishingFs.armed.compareAndSet(name, null))
      .foreach(st => delete(st.getPath, false))
    listed
  }
}

object VanishingFs {
  /** Name of the file the next listing that contains it deletes. */
  val armed = new java.util.concurrent.atomic.AtomicReference[String]()
}

/** Fragment consolidation + vacuum (the reference's OPTIMIZE TABLE hook
  * [HA_CONCURRENT_OPTIMIZE, ha_mytile.cc:2948]; the storage model's
  * consolidate/vacuum pair): merging preserves query results and time
  * travel, the manifest commit is the atomic switch-over, and vacuum
  * reclaims superseded fragments in a crash-safe order. */
class ConsolidationSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_cons").toString + "/arr"

  private val sch = ArraySchema(ArrayKind.Sparse,
    Seq(DimensionSpec("k", LongType)),
    Seq(AttributeSpec("v", DoubleType)))

  private def read(uri: String) =
    spark.read.format("graftarray").option("path", uri).load()

  test("consolidate merges fragments latest-wins; results unchanged") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    // 5 fragments: base + 4 upsert waves over overlapping key ranges
    GraftArray.write(spark, uri,
      spark.range(0, 1000).select(col("id").as("k"), lit(0.0).as("v")))
    for (wave <- 1 to 4)
      GraftArray.write(spark, uri,
        spark.range(wave * 100L, wave * 100L + 300L)
          .select(col("id").as("k"), lit(wave.toDouble).as("v")))
    val before = read(uri).orderBy("k").as[(Long, Double)].collect().toSeq
    val beforeFrags = GraftArray.fragments(spark, uri)
    assert(beforeFrags.size == 5)
    val maxTs = beforeFrags.map(_.timestamp).max

    val ts = GraftArray.consolidate(spark, uri)
    assert(ts.contains(maxTs), "consolidated fragment commits at max ts")
    // one visible fragment; six manifests on disk until vacuum
    val after = GraftArray.fragments(spark, uri)
    assert(after.size == 1 && after.head.replaces.size == 5)
    assert(GraftArray.store(spark, uri).listFragmentsRaw().size == 6)
    // identical content through both read paths
    assert(read(uri).orderBy("k").as[(Long, Double)].collect().toSeq == before)
    assert(GraftArray.load(spark, uri).orderBy("k")
      .as[(Long, Double)].collect().toSeq == before)
    // stats-only aggregate pushdown works on the consolidated fragment
    val agg = read(uri).agg(count(lit(1)).as("n"), sum("v").as("s"))
    assert(agg.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(agg.as[(Long, Double)].head() ==
      ((before.size.toLong, before.map(_._2).sum)))
    // time travel BEFORE the consolidation timestamp sees the originals
    val firstTs = beforeFrags.head.timestamp
    assert(GraftArray.load(spark, uri, asOf = Some(firstTs))
      .as[(Long, Double)].collect().forall(_._2 == 0.0))
    // a write AFTER consolidation wins over the consolidated content
    GraftArray.write(spark, uri,
      Seq((0L, 99.0)).toDF("k", "v"))
    assert(read(uri).filter(col("k") === 0L)
      .select("v").as[Double].head() == 99.0)
  }

  /** A stream-ingest-shaped array: a base fragment of `base` rows and
    * `batches` fragments of `batch` rows, a fifth of each batch
    * rewriting existing keys, keys ascending with gaps (seeded). */
  private def ingestShaped(uri: String, base: Int, batches: Int,
      batch: Int, cellOrder: String = "ROW_MAJOR"): Unit = {
    val rnd = new java.util.SplittableRandom(3)
    val keys = scala.collection.mutable.ArrayBuffer[Long]()
    def fresh(): Long = {
      keys += keys.lastOption.getOrElse(0L) + 1 + rnd.nextInt(3); keys.last }
    def cell(k: Long) = (k, rnd.nextLong(1000000L), rnd.nextInt(100000) / 8.0)
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", LongType), AttributeSpec("w", DoubleType)),
      cellOrder = cellOrder))
    GraftArray.write(spark, uri,
      Seq.fill(base)(cell(fresh())).toDF("k", "v", "w"))
    for (_ <- 1 to batches) {
      val old = Iterator.continually(keys(rnd.nextInt(keys.size)))
        .distinct.take(batch / 5).toSeq
      val rows = old ++ Seq.fill(batch - old.size)(fresh())
      GraftArray.write(spark, uri, rows.map(cell).toDF("k", "v", "w"))
    }
  }

  test("consolidating a stream-ingest-shaped array writes one file") {
    // UNORDERED writes without a range shuffle: the count still comes
    // from the merged size, not from the scan's partitions
    for (order <- Seq("ROW_MAJOR", "UNORDERED")) {
      val uri = tmp()
      ingestShaped(uri, base = 2000, batches = 4, batch = 200, order)
      val before =
        read(uri).orderBy("k").as[(Long, Long, Double)].collect().toSeq
      assert(GraftArray.consolidate(spark, uri).isDefined)
      GraftArray.vacuum(spark, uri)
      // files per visible fragment
      assert(GraftArray.fragments(spark, uri).map(_.files.size) == Seq(1),
        order)
      assert(read(uri).orderBy("k").as[(Long, Long, Double)].collect().toSeq ==
        before, order)
    }
  }

  test("a larger consolidation stays within spark.sql.shuffle.partitions files") {
    val uri = tmp()
    ingestShaped(uri, base = 40000, batches = 4, batch = 5000)
    val before = read(uri).orderBy("k").as[(Long, Long, Double)].collect().toSeq
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.getOption(key)
    // ~1.4 MB of merged cells over 64 KB per file asks for more files
    // than there are shuffle partitions
    spark.conf.set(key, "64k")
    try assert(GraftArray.consolidate(spark, uri).isDefined)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val files = GraftArray.fragments(spark, uri).head.files
    assert(files.size > 1 && files.size <= cap, s"${files.size} files, cap $cap")
    assert(read(uri).orderBy("k").as[(Long, Long, Double)].collect().toSeq == before)
  }

  test("vacuum reclaims superseded fragments; nested consolidation safe") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    for (i <- 0 until 3)
      GraftArray.write(spark, uri, spark.range(i * 10L, i * 10L + 20L)
        .select(col("id").as("k"), lit(i.toDouble).as("v")))
    assert(GraftArray.consolidate(spark, uri).isDefined)
    // second generation on top of the first consolidated fragment
    GraftArray.write(spark, uri, spark.range(100, 120)
      .select(col("id").as("k"), lit(9.0).as("v")))
    assert(GraftArray.consolidate(spark, uri).isDefined)
    val expected = read(uri).orderBy("k").as[(Long, Double)].collect().toSeq
    val raw = GraftArray.store(spark, uri).listFragmentsRaw()
    assert(raw.size == 6) // 3 + gen1 + wave + gen2
    val removed = GraftArray.vacuum(spark, uri)
    assert(removed == 5, s"expected 5 removed, got $removed")
    val left = GraftArray.store(spark, uri).listFragmentsRaw()
    assert(left.size == 1 && left.head.replaces.nonEmpty)
    // data directories of removed fragments are gone
    val dirs = new java.io.File(uri).listFiles()
      .filter(_.getName.startsWith("frag_")).map(_.getName).toSeq
    assert(dirs == Seq(s"frag_${left.head.id}"), dirs.mkString(","))
    assert(read(uri).orderBy("k").as[(Long, Double)].collect().toSeq
      == expected)
    // vacuum is idempotent
    assert(GraftArray.vacuum(spark, uri) == 0)
    // fewer than two fragments → consolidation is a no-op
    assert(GraftArray.consolidate(spark, uri).isEmpty)
  }

  test("vacuum evicts every removed manifest from the manifest cache") {
    import scala.jdk.CollectionConverters._
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    for (i <- 0 until 3)
      GraftArray.write(spark, uri, spark.range(i * 10L, i * 10L + 20L)
        .select(col("id").as("k"), lit(i.toDouble).as("v")))
    assert(GraftArray.consolidate(spark, uri).isDefined)
    val store = GraftArray.store(spark, uri)
    assert(store.listFragmentsRaw().size == 4) // caches all four
    assert(GraftArray.vacuum(spark, uri) == 3)
    val root = new org.apache.hadoop.fs.Path(uri)
    val prefix = store.fileSystem.makeQualified(root).toString + "/"
    val cached = FragmentStore.manifestCache.keySet.asScala
      .filter(_.startsWith(prefix)).toSeq
    val live = store.listFragmentsRaw()
    assert(live.size == 1)
    assert(cached.size == 1 && cached.head.contains(live.head.id),
      cached.mkString(","))
  }

  test("a manifest vanishing between list and read is re-listed, not fatal") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.vanish.impl", classOf[VanishingFs].getName)
    // 3 originals take the sequential read, 10 the parallel cold load
    for (n <- Seq(3, 10)) {
      val uri = "vanish:" + tmp()
      GraftArray.create(spark, uri, sch)
      for (i <- 0 until n)
        GraftArray.write(spark, uri, spark.range(i * 10L, i * 10L + 20L)
          .select(col("id").as("k"), lit(i.toDouble).as("v")))
      assert(GraftArray.consolidate(spark, uri).isDefined)
      val store = GraftArray.store(spark, uri)
      val all = store.listFragmentsRaw()
      val merged = all.filter(_.replaces.nonEmpty)
      val victim = all.filter(_.replaces.isEmpty).head
      // what a vacuum deletes: a replaced manifest, already superseded
      // by the committed consolidated one; start cold so the listing
      // has to read the victim
      val prefix = store.fileSystem
        .makeQualified(new org.apache.hadoop.fs.Path(uri)).toString + "/"
      FragmentStore.manifestCache.keySet.removeIf(_.startsWith(prefix))
      VanishingFs.armed.set(
        f"${victim.timestamp}%020d_${victim.id}.json")
      val vis = store.listFragments()
      assert(VanishingFs.armed.get() == null, "the listing never fired")
      assert(vis.map(_.id) == merged.map(_.id), s"n=$n")
      val raw = store.listFragmentsRaw().map(_.id)
      assert(raw.size == n && !raw.contains(victim.id), s"n=$n: $raw")
      assert(read(uri).count() == (n - 1) * 10L + 20L)
    }
  }

  test("windowed consolidation collapses only in-window fragments") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri, spark.range(0, 10)
      .select(col("id").as("k"), lit(1.0).as("v")))
    val t2 = GraftArray.write(spark, uri, spark.range(0, 10)
      .select(col("id").as("k"), lit(2.0).as("v")))
    val t3 = GraftArray.write(spark, uri, spark.range(5, 15)
      .select(col("id").as("k"), lit(3.0).as("v")))
    GraftArray.write(spark, uri, spark.range(0, 3)
      .select(col("id").as("k"), lit(4.0).as("v")))
    val before = read(uri).orderBy("k").as[(Long, Double)].collect().toSeq
    // consolidate the middle window [t2, t3] only
    assert(GraftArray.consolidate(spark, uri,
      since = Some(t2), asOf = Some(t3)).contains(t3))
    val frags = GraftArray.fragments(spark, uri)
    assert(frags.size == 3, frags.map(_.id)) // f1, consolidated(f2,f3), f4
    // full-view results unchanged: f4 still wins over the window's
    // winner, f1 still loses to it
    assert(read(uri).orderBy("k").as[(Long, Double)].collect().toSeq
      == before)
  }

  test("consolidation preserves dense fill and allowsDups semantics") {
    // dense: only WRITTEN cells are consolidated (fills stay virtual)
    val dUri = tmp()
    val dsch = ArraySchema(ArrayKind.Dense,
      Seq(DimensionSpec("r", LongType, Some("0"), Some("9"), Some(10L))),
      Seq(AttributeSpec("v", LongType, nullable = true, fillValue = Some("-1"))))
    GraftArray.create(spark, dUri, dsch)
    GraftArray.write(spark, dUri, Seq((0L, 10L), (3L, 30L)).toDF("r", "v"))
    GraftArray.write(spark, dUri, Seq((3L, 33L), (7L, 70L)).toDF("r", "v"))
    val before = read(dUri).orderBy("r").as[(Long, Long)].collect().toSeq
    assert(GraftArray.consolidate(spark, dUri).isDefined)
    GraftArray.vacuum(spark, dUri)
    val frag = GraftArray.fragments(spark, dUri)
    assert(frag.size == 1 && frag.head.rows == 3) // written cells only
    assert(read(dUri).orderBy("r").as[(Long, Long)].collect().toSeq == before)
    // fills still materialize in-scan over the non-empty domain [0, 7]
    // (bounding box of written cells — unchanged by consolidation)
    assert(read(dUri).count() == 8)

    // allowsDups: duplicate coordinates survive consolidation verbatim
    val aUri = tmp()
    GraftArray.create(spark, aUri,
      sch.copy(allowsDups = true))
    GraftArray.write(spark, aUri, Seq((1L, 1.0), (1L, 2.0)).toDF("k", "v"))
    GraftArray.write(spark, aUri, Seq((1L, 3.0)).toDF("k", "v"))
    assert(GraftArray.consolidate(spark, aUri).isDefined)
    GraftArray.vacuum(spark, aUri)
    assert(read(aUri).orderBy("v").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (1L, 2.0), (1L, 3.0)))
  }

  test("encrypted arrays consolidate through the DSv2 path") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ce").toString
    val cat = "gce" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set(graft.core.EncryptionKeys.ConfKey,
      "000102030405060708090a0b0c0d0e0f")
    spark.sql(s"""CREATE TABLE $cat.e (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k', 'graft.encrypted'='true')"""
      .stripMargin)
    spark.sql(s"INSERT INTO $cat.e VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"INSERT INTO $cat.e VALUES (2, 20.0), (3, 3.0)")
    val uri = s"$wh/e"
    assert(GraftArray.consolidate(spark, uri).isDefined)
    assert(GraftArray.vacuum(spark, uri) == 2)
    val frags = GraftArray.fragments(spark, uri)
    assert(frags.size == 1)
    // consolidated fragment is still ciphertext with dim-only stats
    assert(frags.head.stats.keySet == Set("k"))
    val pq = new java.io.File(uri).listFiles()
      .filter(_.getName.startsWith("frag_")).head.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val in = new java.io.RandomAccessFile(pq, "r")
    val tail = new Array[Byte](4)
    in.seek(pq.length() - 4); in.readFully(tail); in.close()
    assert(new String(tail, "US-ASCII") == "PARE")
    // merged content readable with the key
    assert(spark.table(s"$cat.e").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    // CALL procedure reaches the same path
    spark.sql(s"INSERT INTO $cat.e VALUES (4, 4.0)")
    assert(!spark.sql(s"CALL $cat.consolidate('e')").collect().head.isNullAt(0))
    assert(GraftArray.fragments(spark, uri).size == 1)
    assert(spark.table(s"$cat.e").count() == 4)

    // encrypted DENSE arrays: fills stay virtual through the raw-cells
    // read — consolidation persists WRITTEN cells only
    spark.sql(s"""CREATE TABLE $cat.ed (r BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='r', 'graft.dense'='true',
      |  'graft.lower.r'='0', 'graft.upper.r'='9',
      |  'graft.fill.v'='-1.0', 'graft.encrypted'='true')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.ed VALUES (0, 0.5), (3, 3.5)")
    spark.sql(s"INSERT INTO $cat.ed VALUES (3, 33.5), (7, 7.5)")
    val edBefore = spark.table(s"$cat.ed").orderBy("r")
      .as[(Long, Double)].collect().toSeq
    assert(!spark.sql(s"CALL $cat.consolidate('ed')").collect().head.isNullAt(0))
    assert(spark.sql(s"CALL $cat.vacuum('ed')").collect().head.getInt(0) == 2)
    val edFrag = GraftArray.fragments(spark, s"$wh/ed")
    assert(edFrag.size == 1 && edFrag.head.rows == 3,
      s"expected 3 written cells, got ${edFrag.head.rows}")
    assert(spark.table(s"$cat.ed").orderBy("r")
      .as[(Long, Double)].collect().toSeq == edBefore)
  }

  test("a user write carrying graft.internal.replaces cannot hide a live fragment") {
    // history hooks (commit timestamp, superseded fragments) are
    // arguments of consolidation's and rollback's own writes, never
    // write options, so an append carrying these keys supersedes nothing
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri, Seq((1L, 1.0)).toDF("k", "v"))
    val victim = GraftArray.fragments(spark, uri).head.id
    Seq((2L, 2.0)).toDF("k", "v")
      .write.format("graftarray").option("path", uri)
      .option("graft.internal.replaces", victim)
      .option("graft.internal.commit_ts", "1")
      .mode("append").save()
    val frags = GraftArray.fragments(spark, uri)
    assert(frags.size == 2 && frags.map(_.id).contains(victim))
    assert(frags.forall(f => f.replaces.isEmpty && f.timestamp > 1L))
    assert(GraftArray.vacuum(spark, uri) == 0)
    assert(read(uri).orderBy("k").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (2L, 2.0)))
  }

  test("CALL cat.consolidate / cat.vacuum procedures") {
    val wh = java.nio.file.Files.createTempDirectory("graft_proc").toString
    val cat = "gp" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"INSERT INTO $cat.t VALUES (2, 20.0), (3, 3.0)")
    assert(GraftArray.fragments(spark, s"$wh/t").size == 2)
    val ts = spark.sql(s"CALL $cat.consolidate('t')").collect()
    assert(ts.length == 1 && !ts.head.isNullAt(0))
    assert(GraftArray.fragments(spark, s"$wh/t").size == 1)
    assert(spark.table(s"$cat.t").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    val n = spark.sql(s"CALL $cat.vacuum('t')").collect()
    assert(n.head.getInt(0) == 2)
    // consolidating a single fragment returns NULL
    assert(spark.sql(s"CALL $cat.consolidate('t')").collect().head.isNullAt(0))
    // discovery surface: SHOW PROCEDURES lists both, DESCRIBE resolves
    val shown = spark.sql(s"SHOW PROCEDURES IN $cat").collect()
      .map(_.toSeq.map(String.valueOf).mkString(" ")).mkString("\n")
    assert(shown.contains("consolidate") && shown.contains("vacuum"), shown)
    val desc = spark.sql(s"DESCRIBE PROCEDURE $cat.vacuum").collect()
      .map(_.toSeq.mkString(" ")).mkString("\n")
    assert(desc.contains("vacuum"), desc)
  }

  test("delete_fragments: shadowed versions resurface, travel forgets") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    def w(df: org.apache.spark.sql.DataFrame) = GraftArray.write(spark, uri, df)
    w(spark.range(0, 100).select(col("id").as("k"), lit(1.0).as("v")))
    w(spark.range(0, 50).select(col("id").as("k"), lit(2.0).as("v"))) // bad
    w(spark.range(0, 10).select(col("id").as("k"), lit(3.0).as("v")))
    val bad = GraftArray.fragments(spark, uri).sortBy(_.timestamp).apply(1)
    assert(GraftArray.deleteFragments(spark, uri,
      bad.timestamp, bad.timestamp) == 1)
    val got = read(uri).groupBy("v").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // wave-2's 2.0s are GONE; keys 10..49 resurface at wave-1's 1.0
    assert(got == Map(1.0 -> 90L, 3.0 -> 10L), got.toString)
    // time travel INTO the deleted window no longer sees its writes
    val atBad = spark.read.format("graftarray").option("path", uri)
      .option("asOfTimestamp", bad.timestamp.toString).load()
      .agg(max("v")).head().getDouble(0)
    assert(atBad == 1.0, s"deleted wave still visible at its ts: $atBad")
  }

  test("delete_fragments refuses a consolidated frag with vacuumed sources") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri,
      spark.range(0, 50).select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.write(spark, uri,
      spark.range(50, 90).select(col("id").as("k"), lit(2.0).as("v")))
    val consTs = GraftArray.consolidate(spark, uri).get
    GraftArray.vacuum(spark, uri)
    // the consolidated fragment carries BOTH waves; its originals are
    // vacuumed — deleting "the window" would destroy pre-window data
    val e = intercept[IllegalArgumentException](
      GraftArray.deleteFragments(spark, uri, consTs, consTs))
    assert(e.getMessage.contains("already-vacuumed"), e.getMessage)
    assert(read(uri).count() == 90)
    // before vacuum the same deletion is LEGAL. The consolidated
    // fragment commits AT its newest original's timestamp, so the
    // window catches both (consolidated + wave-2 original) — wave 1
    // resurfaces, post-order keeping every crash point readable
    val uri2 = tmp()
    GraftArray.create(spark, uri2, sch)
    GraftArray.write(spark, uri2,
      spark.range(0, 50).select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.write(spark, uri2,
      spark.range(0, 50).select(col("id").as("k"), lit(2.0).as("v")))
    val ts2 = GraftArray.consolidate(spark, uri2).get
    assert(GraftArray.deleteFragments(spark, uri2, ts2, ts2) == 2)
    val left = read(uri2).agg(max("v"), count(lit(1))).head()
    assert((left.getDouble(0), left.getLong(1)) == (1.0, 50L))
  }

  test("delete_fragments on a superseded victim leaves the read unchanged") {
    // the documented caveat: a later full consolidation BAKED the bad
    // wave into its commit, so deleting the original is pure history
    // cleanup — the visible read keeps the bad values, and removing
    // them now needs the consolidated fragment's own window instead
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri,
      spark.range(0, 50).select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.write(spark, uri,
      spark.range(0, 20).select(col("id").as("k"), lit(9.0).as("v"))) // bad
    val badTs = GraftArray.fragments(spark, uri).sortBy(_.timestamp)
      .last.timestamp
    // a third wave AFTER the bad one, so the consolidation (which
    // commits at the newest merged timestamp) lands outside the window
    GraftArray.write(spark, uri,
      spark.range(40, 60).select(col("id").as("k"), lit(3.0).as("v")))
    GraftArray.consolidate(spark, uri) // bakes the bad wave in
    assert(GraftArray.deleteFragments(spark, uri, badTs, badTs) == 1)
    // count says "removed", the read says the bad values remain
    assert(read(uri).filter(col("v") === 9.0).count() == 20,
      "superseded victim's content must survive inside the consolidation")
  }

  test("CALL cat.delete_fragments procedure with NULL-bound guard") {
    val wh = java.nio.file.Files.createTempDirectory("graft_delf").toString
    val cat = "gd" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 1.0)")
    spark.sql(s"INSERT INTO $cat.t VALUES (2, 2.0)")
    val ts = GraftArray.fragments(spark, s"$wh/t")
      .sortBy(_.timestamp).last.timestamp
    val r = spark.sql(s"CALL $cat.delete_fragments('t', $ts, $ts)")
      .collect().head
    assert(r.getInt(0) == 1)
    assert(spark.table(s"$cat.t").count() == 1)
    val e = intercept[Exception](
      spark.sql(s"CALL $cat.delete_fragments('t', NULL, $ts)").collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("ts_start")), msgs(e).mkString("|"))
  }

  test("compact_small merges only adjacent small runs; big untouched") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    def write(lo: Long, hi: Long) = GraftArray.write(spark, uri,
      spark.range(lo, hi).select(col("id").as("k"), lit(1.0).as("v")))
    // timeline: small small small BIG small small
    write(0, 10); write(10, 20); write(20, 30)
    write(1000, 3000)
    write(40, 50); write(50, 60)
    val bigId = GraftArray.fragments(spark, uri).find(_.rows > 100).get.id
    val (runs, absorbed) = GraftArray.consolidateSmall(spark, uri, 100L)
    assert((runs, absorbed) == (2, 5), s"($runs, $absorbed)")
    GraftArray.vacuum(spark, uri)
    val after = GraftArray.fragments(spark, uri)
    // 3 fragments: [smalls 1-3], BIG, [smalls 5-6]
    assert(after.size == 3, after.map(f => (f.id, f.rows)).toString)
    // the big fragment was never rewritten — same id survives
    assert(after.exists(_.id == bigId), "big fragment was rewritten")
    assert(read(uri).count() == 2050)
    // idempotent: merged runs are now single fragments above no run
    assert(GraftArray.consolidateSmall(spark, uri, 100L) == (0, 0))
  }

  test("compact_small skips runs broken by a tombstone fragment") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    def write(lo: Long, hi: Long) = GraftArray.write(spark, uri,
      spark.range(lo, hi).select(col("id").as("k"), lit(1.0).as("v")))
    write(0, 10); write(10, 20)
    // delete-condition tombstone splits the timeline
    GraftArray.commitTombstone(spark, uri,
      graft.sources.v2.PredicateSupport.AndP(
        graft.sources.v2.PredicateSupport.Cmp(">=", "k", 5L),
        graft.sources.v2.PredicateSupport.Cmp("<", "k", 8L)))
    write(20, 30); write(30, 40)
    val (runs, absorbed) = GraftArray.consolidateSmall(spark, uri, 100L)
    // two runs on each side of the tombstone, never across it
    assert((runs, absorbed) == (2, 4), s"($runs, $absorbed)")
    assert(read(uri).count() == 37)
  }

  test("CALL cat.compact_small procedure") {
    val wh = java.nio.file.Files.createTempDirectory("graft_csml").toString
    val cat = "gc" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 1.0)")
    spark.sql(s"INSERT INTO $cat.t VALUES (2, 2.0)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 9.0 FROM range(100, 2000)")
    val r = spark.sql(s"CALL $cat.compact_small('t', 10)").collect().head
    assert((r.getInt(0), r.getInt(1)) == (1, 2), r.toString)
    spark.sql(s"CALL $cat.vacuum('t')")
    assert(GraftArray.fragments(spark, s"$wh/t").size == 2)
    assert(spark.table(s"$cat.t").count() == 1902)
    // NULL max_rows must be rejected, not unboxed to 0
    val e = intercept[Exception](
      spark.sql(s"CALL $cat.compact_small('t', NULL)").collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("max_rows")), msgs(e).mkString("|"))
  }
}
