package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.sources.GraftArray

/** Concurrency proof for the commit protocol (round-10 verdict ask #4).
  * Each artifact commits atomically (write-tmp-then-rename,
  * FragmentStore.write); these tests prove the COMPOSITION:
  *  - two simultaneous writers appending fragments lose nothing
  *    (unique ts+id manifest names, strictly-increasing now()),
  *  - a reader racing a consolidate switch-over sees one of the two
  *    snapshots, never a torn mix (the manifest rename IS the switch;
  *    `replaces` hides originals in the same listing that reveals the
  *    consolidated fragment),
  *  - a vacuum racing current / pinned time-travel reads cannot
  *    disturb them (current listings exclude victims the whole time),
  *  - every intermediate state of vacuum's post-order deletion is a
  *    readable timeline (the crash-point argument documented at
  *    GraftArray.vacuum).
  * Threads over one local JVM stand in for concurrent drivers: the
  * protocol under test is the FILESYSTEM one (list/rename/delete), the
  * same calls an object-store deployment issues. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_conc").toString + "/arr"

  private val sch = ArraySchema(ArrayKind.Sparse,
    Seq(DimensionSpec("k", LongType)),
    Seq(AttributeSpec("v", DoubleType)))

  private def read(uri: String) =
    spark.read.format("graftarray").option("path", uri).load()

  test("two simultaneous writers: no lost fragment, union content") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    val writers = 4
    val wavesPer = 5
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          for (i <- 0 until wavesPer) {
            // disjoint 100-key ranges per (writer, wave): content loss
            // or duplication is then visible in a plain count
            val lo = (w * wavesPer + i) * 100L
            GraftArray.write(spark, uri,
              spark.range(lo, lo + 100)
                .select(col("id").as("k"), lit(w.toDouble).as("v")))
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    val frags = GraftArray.fragments(spark, uri)
    assert(frags.size == writers * wavesPer,
      s"lost fragments: ${frags.size} of ${writers * wavesPer}")
    // strictly-increasing commit timestamps — no two commits collide
    val ts = frags.map(_.timestamp)
    assert(ts.distinct.size == ts.size, "colliding commit timestamps")
    assert(read(uri).count() == writers * wavesPer * 100L)
    // every writer's every wave is present in full
    val byV = read(uri).groupBy("v").count()
      .as[(Double, Long)].collect().toMap
    assert((0 until writers).forall(w =>
      byV(w.toDouble) == wavesPer * 100L), s"per-writer counts: $byV")
  }

  test("reader racing consolidate: every read is one snapshot") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    // overlapping upsert waves — latest-wins makes a torn listing
    // (originals partially hidden) produce a WRONG sum, not just a
    // wrong count, so the invariant is content-sensitive
    for (wave <- 0 until 6)
      GraftArray.write(spark, uri,
        spark.range(wave * 50L, wave * 50L + 200L)
          .select(col("id").as("k"), lit(wave.toDouble).as("v")))
    val expected = read(uri).agg(count(lit(1)), sum("v"))
      .as[(Long, Double)].head()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      // a throwing read is a protocol violation too — collect it,
      // don't let it kill the thread and pass the test vacuously
      while (!stop.get()) {
        try {
          val got = read(uri).agg(count(lit(1)), sum("v"))
            .as[(Long, Double)].head()
          if (got != expected) bad.add(got.toString)
        } catch { case t: Throwable => bad.add(s"threw: $t"); stop.set(true) }
      }
    })
    reader.start()
    try {
      Thread.sleep(150) // let reads overlap the pre-consolidation state
      assert(GraftArray.consolidate(spark, uri).isDefined)
      Thread.sleep(300) // and the post-switch state
    } finally { stop.set(true); reader.join() }
    assert(bad.isEmpty, s"torn snapshots: ${bad.toArray.mkString(", ")}")
    assert(GraftArray.fragments(spark, uri).size == 1)
  }

  test("writer racing consolidate: mid-merge commits survive") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    for (wave <- 0 until 4)
      GraftArray.write(spark, uri,
        spark.range(wave * 100L, wave * 100L + 100L)
          .select(col("id").as("k"), lit(wave.toDouble).as("v")))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // a writer appending NEW keys while consolidate merges the old
    // waves: the merge's `replaces` list is fixed at its listing, so a
    // fragment committed mid-merge must stay visible afterwards —
    // neither absorbed nor hidden
    val writer = new Thread(() => {
      try {
        for (i <- 0 until 6)
          GraftArray.write(spark, uri,
            spark.range(1000L + i * 10, 1000L + i * 10 + 10)
              .select(col("id").as("k"), lit(90.0 + i).as("v")))
      } catch { case t: Throwable => errs.add(t) }
    })
    writer.start()
    val consolidated =
      try GraftArray.consolidate(spark, uri)
      finally writer.join()
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    assert(consolidated.isDefined)
    // every row of every wave AND every mid-merge commit is present
    assert(read(uri).count() == 4 * 100L + 6 * 10L)
    assert(read(uri).filter(col("k") >= 1000L).count() == 60L)
    // the consolidated fragment replaced only fragments it listed;
    // mid-merge commits remain as their own fragments
    val frags = GraftArray.fragments(spark, uri)
    val merged = frags.filter(_.replaces.nonEmpty)
    assert(merged.size == 1)
    val survivors = frags.filterNot(_.replaces.nonEmpty)
    assert(survivors.size + merged.head.replaces.size >= 6 + 4 - 6,
      s"fragments: ${frags.size}")
    // and a second consolidation folds the stragglers in too
    GraftArray.consolidate(spark, uri)
    assert(read(uri).count() == 460L)
  }

  test("vacuum racing current + pinned time-travel reads") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    for (wave <- 0 until 5)
      GraftArray.write(spark, uri,
        spark.range(wave * 50L, wave * 50L + 200L)
          .select(col("id").as("k"), lit(wave.toDouble).as("v")))
    val firstTs = GraftArray.fragments(spark, uri).head.timestamp
    val consTs = GraftArray.consolidate(spark, uri).get
    // pre-vacuum: time travel before the consolidation commit still
    // sees the originals (history preserved until reclaimed)
    assert(GraftArray.load(spark, uri, asOf = Some(firstTs))
      .select("v").as[Double].collect().forall(_ == 0.0))
    val expected = read(uri).agg(count(lit(1)), sum("v"))
      .as[(Long, Double)].head()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      // exceptions are violations too (a vacuumed victim's files
      // vanishing under a current read would throw here, not mismatch)
      while (!stop.get()) {
        try {
          // current read and a read pinned AT the consolidation commit:
          // both resolve to the consolidated fragment only, so vacuum
          // (which touches victims only) must never disturb them
          val cur = read(uri).agg(count(lit(1)), sum("v"))
            .as[(Long, Double)].head()
          if (cur != expected) bad.add(s"current: $cur")
          val pinned = GraftArray.load(spark, uri, asOf = Some(consTs))
            .agg(count(lit(1)), sum("v")).as[(Long, Double)].head()
          if (pinned != expected) bad.add(s"pinned: $pinned")
        } catch { case t: Throwable => bad.add(s"threw: $t"); stop.set(true) }
      }
    })
    reader.start()
    val removed =
      try { Thread.sleep(100); GraftArray.vacuum(spark, uri) }
      finally { stop.set(true); reader.join() }
    assert(removed == 5, s"vacuumed $removed of 5")
    assert(bad.isEmpty, s"disturbed reads: ${bad.toArray.mkString(", ")}")
    // the documented history-for-space trade: pre-consolidation
    // instants are no longer reachable (consolidated commit is later)
    assert(GraftArray.load(spark, uri, asOf = Some(firstTs)).count() == 0L)
  }

  test("vacuum crash-points: every post-order prefix stays readable") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    // nested consolidation: 3 waves → gen1, another wave → gen2, so
    // the victim set contains an INTERMEDIATE consolidated fragment
    // that itself replaces victims
    for (wave <- 0 until 3)
      GraftArray.write(spark, uri,
        spark.range(wave * 50L, wave * 50L + 150L)
          .select(col("id").as("k"), lit(wave.toDouble).as("v")))
    assert(GraftArray.consolidate(spark, uri).isDefined)
    GraftArray.write(spark, uri,
      spark.range(500, 600).select(col("id").as("k"), lit(9.0).as("v")))
    assert(GraftArray.consolidate(spark, uri).isDefined)
    val expected = read(uri).orderBy("k").as[(Long, Double)].collect().toSeq
    val st = GraftArray.store(spark, uri)
    val all = st.listFragmentsRaw()
    val replaced = all.flatMap(_.replaces).toSet
    val victims = all.filter(f => replaced.contains(f.id))
    assert(victims.size == 5) // 3 waves + gen1 + the extra wave
    // replicate vacuum's deletion order (post-order: a victim's own
    // victims die first) and assert a full, correct read AFTER EVERY
    // SINGLE deletion — each prefix is a state a crash could leave
    val byId = victims.map(f => f.id -> f).toMap
    val order = scala.collection.mutable.ArrayBuffer.empty[FragmentMeta]
    val seen = scala.collection.mutable.Set.empty[String]
    def walk(f: FragmentMeta): Unit = if (seen.add(f.id)) {
      f.replaces.flatMap(byId.get).foreach(walk)
      order += f
    }
    victims.foreach(walk)
    // the intermediate consolidated victim must come after everything
    // it replaces — the property the readability argument rests on
    val pos = order.zipWithIndex.map { case (f, i) => f.id -> i }.toMap
    order.foreach(f => f.replaces.flatMap(pos.get)
      .foreach(p => assert(p < pos(f.id), "post-order violated")))
    order.foreach { f =>
      st.removeFragment(f)
      val got = read(uri).orderBy("k").as[(Long, Double)].collect().toSeq
      assert(got == expected, s"unreadable after removing ${f.id}")
    }
    assert(st.listFragmentsRaw().size == 1)
  }

  test("DELETE tombstone racing a same-range append: last-commit-wins, never a mix") {
    import graft.sources.v2.PredicateSupport.Cmp
    // the streaming-ingest + GDPR-delete race, side 1: a tombstone
    // masks matching rows of every EARLIER fragment only, so the
    // committed ORDER decides visibility. Pin both orders
    // deterministically first — the states the race must land on:
    for (appendFirst <- Seq(true, false)) {
      val uri = tmp()
      GraftArray.create(spark, uri, sch)
      GraftArray.write(spark, uri, spark.range(0, 200)
        .select(col("id").as("k"), lit(0.0).as("v")))
      def append(): Unit = GraftArray.write(spark, uri,
        spark.range(100, 200).select(col("id").as("k"), lit(1.0).as("v")))
      def del(): Long =
        GraftArray.commitTombstone(spark, uri, Cmp(">=", "k", 100L))
      if (appendFirst) { append(); del() } else { del(); append() }
      val hi = read(uri).filter(col("k") >= 100)
      if (appendFirst) assert(hi.count() == 0L,
        "delete committed last must mask base AND append")
      else {
        val vs = hi.select("v").as[Double].collect().toSeq
        assert(vs.size == 100 && vs.forall(_ == 1.0),
          "append committed after the delete must be fully visible")
      }
      assert(read(uri).filter(col("k") < 100).count() == 100L)
    }
    // the RACE: visibility must equal what the recorded commit order
    // predicts — all-or-nothing, never a partially-masked append
    for (round <- 0 until 3) {
      val uri = tmp()
      GraftArray.create(spark, uri, sch)
      GraftArray.write(spark, uri, spark.range(0, 200)
        .select(col("id").as("k"), lit(0.0).as("v")))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val delTs = new java.util.concurrent.atomic.AtomicLong(-1L)
      val t1 = new Thread(() => {
        try GraftArray.write(spark, uri, spark.range(100, 200)
          .select(col("id").as("k"), lit(1.0).as("v")))
        catch { case t: Throwable => errs.add(t) }
      })
      val t2 = new Thread(() => {
        try delTs.set(
          GraftArray.commitTombstone(spark, uri, Cmp(">=", "k", 100L)))
        catch { case t: Throwable => errs.add(t) }
      })
      t1.start(); t2.start(); t1.join(); t2.join()
      assert(errs.isEmpty, s"round $round: ${Option(errs.peek())}")
      val writeTs = GraftArray.fragments(spark, uri)
        .filter(_.deletePred.isEmpty).map(_.timestamp).max
      val vs = read(uri).filter(col("k") >= 100)
        .select("v").as[Double].collect().toSeq
      if (writeTs > delTs.get())
        assert(vs.size == 100 && vs.forall(_ == 1.0),
          s"round $round: append after delete must be fully visible, " +
            s"got ${vs.size}")
      else
        assert(vs.isEmpty,
          s"round $round: append before delete must be fully masked, " +
            s"got ${vs.size}")
      assert(read(uri).filter(col("k") < 100).count() == 100L)
    }
  }

  test("MERGE racing compact_small: no resurrection of deleted rows") {
    // the streaming-ingest + GDPR-delete race, side 2: a row-level
    // MERGE (update versions + delete-coordinate files in ONE atomic
    // fragment) concurrent with small-fragment compaction rewriting
    // the ingest trail. A deleted row must never reappear through the
    // rewrite — neither logically (the compacted fragment commits AT
    // the newest merged ts, which stays BELOW the merge commit, so the
    // coordinate mask keeps applying) nor physically after
    // consolidate+vacuum reclaim the masked versions.
    val wh = java.nio.file.Files.createTempDirectory("graft_race").toString
    val cat = "gc" + scala.util.Random.alphanumeric.take(4).mkString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, v DOUBLE)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)
    val uri = s"$wh/t"
    // a streaming-style trail of 6 small ingest fragments
    for (w <- 0 until 6)
      spark.sql(s"INSERT INTO $cat.t SELECT id AS k, $w.0 AS v " +
        s"FROM range(${w * 50}, ${w * 50 + 50})")
    spark.range(0, 300).filter(col("id") % 10 === 3 || col("id") % 10 === 7)
      .select(col("id").as("k"), (col("id") % 10 === 3).as("del"))
      .createOrReplaceTempView("merge_src")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val merger = new Thread(() => {
      try spark.sql(
        s"""MERGE INTO $cat.t t USING merge_src s ON t.k = s.k
           |WHEN MATCHED AND s.del THEN DELETE
           |WHEN MATCHED THEN UPDATE SET v = 99.0""".stripMargin)
      catch { case t: Throwable => errs.add(t) }
    })
    val compactor = new Thread(() => {
      try for (_ <- 0 until 4)
        GraftArray.consolidateSmall(spark, uri, maxRows = 100L)
      catch { case t: Throwable => errs.add(t) }
    })
    merger.start(); compactor.start(); merger.join(); compactor.join()
    assert(errs.isEmpty, s"racing statement failed: ${Option(errs.peek())}")
    def check(tag: String): Unit = {
      val rows = spark.table(s"$cat.t")
        .as[(Long, Double)].collect().toMap
      val dead = (0L until 300L).filter(_ % 10 == 3)
      assert(dead.forall(!rows.contains(_)),
        s"$tag: deleted row resurrected: ${dead.filter(rows.contains)}")
      val upd = (0L until 300L).filter(_ % 10 == 7)
      assert(upd.forall(k => rows(k) == 99.0),
        s"$tag: lost update: ${upd.filterNot(k => rows.get(k).contains(99.0))}")
      val rest = (0L until 300L).filterNot(k => k % 10 == 3 || k % 10 == 7)
      assert(rest.forall(k => rows(k) == (k / 50).toDouble),
        s"$tag: ingest row corrupted")
      assert(rows.size == 270, s"$tag: ${rows.size} rows")
    }
    check("post-race")
    // physical reclaim composes: masked versions vacuumed, still no
    // resurrection
    assert(GraftArray.consolidate(spark, uri).isDefined)
    GraftArray.vacuum(spark, uri)
    check("post-consolidate+vacuum")
  }

  test("ALTER COLUMN racing an in-flight append: late commit reconciles") {
    // Deterministic straddle first — the state the race lands on: an
    // append that bound the PRE-alter schema (GraftArray.write fixes
    // its column set at start) COMMITS AFTER the alter's schema version.
    // Reconciliation is per-fragment STATS-keyed, not timestamp-keyed,
    // so the straddling fragment must read exactly like a pre-alter
    // one: evolved column = fill. The straddle state is constructed
    // exactly (schema version back-dated between two commits) rather
    // than luckily.
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri, spark.range(0, 100)
      .select(col("id").as("k"), lit(0.0).as("v"))) // plain pre-alter
    GraftArray.write(spark, uri, spark.range(100, 200)
      .select(col("id").as("k"), lit(0.0).as("v"))) // the straddler
    val st = new FragmentStore(uri, spark.sparkContext.hadoopConfiguration)
    val frags = GraftArray.fragments(spark, uri).sortBy(_.timestamp)
    val altTs = frags.last.timestamp - 1
    assert(frags.head.timestamp < altTs, "need distinct commit instants")
    st.evolveSchema(st.loadSchema().copy(attrs = st.loadSchema().attrs :+
      AttributeSpec("w", LongType, fillValue = Some("7"))), altTs)
    val cur = read(uri)
    assert(cur.columns.toSeq == Seq("k", "v", "w"))
    assert(cur.count() == 200)
    assert(cur.filter(col("w") === 7L).count() == 200,
      "fragment committed AFTER the alter but bound to the old schema " +
        "must reconcile to the fill like a pre-alter fragment")
    // post-alter append with the refreshed shape
    GraftArray.write(spark, uri, spark.range(200, 300)
      .select(col("id").as("k"), lit(1.0).as("v"), lit(5L).as("w")))
    assert(read(uri).filter(col("w") === 5L).count() == 100)
    // time travel below the alter shows the pre-alter schema
    assert(spark.read.format("graftarray").option("path", uri)
      .option("asOfTimestamp", altTs - 1).load()
      .columns.toSeq == Seq("k", "v"))
    // DROP straddle: an append CARRYING the dropped column commits
    // after the drop's schema version — post-drop reads simply never
    // request the column; time travel below the drop still shows it
    GraftArray.write(spark, uri, spark.range(300, 400)
      .select(col("id").as("k"), lit(2.0).as("v"), lit(9L).as("w")))
    val dropTs =
      GraftArray.fragments(spark, uri).map(_.timestamp).max - 1
    st.evolveSchema(st.loadSchema().copy(
      attrs = st.loadSchema().attrs.filterNot(_.name == "v")), dropTs)
    val afterDrop = read(uri)
    assert(afterDrop.columns.toSeq == Seq("k", "w"))
    assert(afterDrop.count() == 400)
    assert(afterDrop.filter(col("k") >= 300 && col("w") === 9L)
      .count() == 100, "straddling drop-carrier rows must stay readable")
    assert(spark.read.format("graftarray").option("path", uri)
      .option("asOfTimestamp", dropTs - 1).load()
      .columns.toSeq == Seq("k", "v", "w"))

    // the live RACE: a writer loop vs one ALTER ADD. A writer that
    // bound the old shape either commits (reconciled by fill — the
    // straddle above) or fails GraftArray.write's column check and
    // retries with the refreshed shape; nothing in between, nothing
    // lost, under ANY interleaving.
    for (round <- 0 until 2) {
      val uri2 = tmp()
      GraftArray.create(spark, uri2, sch)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val writer = new Thread(() => {
        try {
          for (w <- 0 until 6) {
            val lo = w * 100L
            val oldDf = spark.range(lo, lo + 100)
              .select(col("id").as("k"), lit(0.0).as("v"))
            try GraftArray.write(spark, uri2, oldDf)
            catch {
              case _: IllegalArgumentException =>
                // schema moved underneath: the DEFINED failure mode —
                // refresh the shape and retry (no partial commit
                // happened: validation precedes any data write)
                GraftArray.write(spark, uri2,
                  oldDf.withColumn("w", lit(5L)))
            }
          }
        } catch { case t: Throwable => errs.add(t) }
      })
      val alterer = new Thread(() => {
        try {
          Thread.sleep(60)
          GraftArray.addColumn(spark, uri2,
            AttributeSpec("w", LongType, fillValue = Some("7")))
        } catch { case t: Throwable => errs.add(t) }
      })
      writer.start(); alterer.start(); writer.join(); alterer.join()
      assert(errs.isEmpty, s"round $round: ${Option(errs.peek())}")
      val out = read(uri2)
      assert(out.count() == 600L,
        s"round $round: an append was lost or duplicated")
      assert(out.columns.toSeq == Seq("k", "v", "w"))
      assert(out.filter(col("w") === 7L || col("w") === 5L)
        .count() == 600L,
        s"round $round: a row escaped fill reconciliation")
    }
  }

  test("two JVMs racing commits against one warehouse: union content") {
    // The rename-based commit protocol exercised ACROSS PROCESSES:
    // two forked JVMs (own SparkSession, own FragmentStore caches, own
    // clocks) and this JVM all append disjoint key ranges to one
    // array. Every fragment must land, every listing must be fresh —
    // in-process caches must not hide another process's commits.
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    val procs = Seq(1, 2).map(id => ForkedJvm.launch(
      "graft.ConcurrencyChild", Seq(uri, id.toString, "3")))
    // the parent races its own appends against both children
    for (w <- 0 until 3) {
      val lo = w * 100L
      GraftArray.write(spark, uri, spark.range(lo, lo + 100)
        .select(col("id").as("k"), lit(0.0).as("v")))
    }
    procs.foreach { p =>
      val (code, out) = ForkedJvm.finish(p)
      assert(code == 0, s"child failed:\n${out.takeRight(3000)}")
    }
    val got = read(uri)
    assert(got.count() == 900L, "a cross-process commit was lost")
    assert(GraftArray.fragments(spark, uri).size == 9)
    for (id <- 0 to 2)
      assert(got.filter(col("v") === id.toDouble).count() == 300L,
        s"writer $id content torn")
  }
}
