package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.{Event, SessionSummary}

/** Structured Streaming behavior: micro-batch windowed aggregation must
  * equal its batch twin, and the stateful sessionizer must accumulate
  * per-user state across micro-batches. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed agg equals batch computation") {
    val streaming = EventPipeline.runStreamingWindowed(spark, sf)
      .orderBy("win_start_us", "event_type").collect().toSeq
    val batch = EventPipeline.windowedCounts(
      Tables.load(spark, sf, "events"))
      .orderBy("win_start_us", "event_type").collect().toSeq
    assert(streaming.nonEmpty && streaming == batch)
  }

  test("streaming ingestion commits one fragment per micro-batch") {
    import graft.core._
    import graft.sources.GraftArray
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val uri = java.nio.file.Files.createTempDirectory("graft_sink")
      .toString + "/arr"
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType))))
    val input = MemoryStream[(Long, Double)](spark)
    val q = EventPipeline.writeStreamToArray(
      input.toDF().toDF("k", "v"), uri)
    try {
      input.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      input.addData((3L, 3.0), (1L, 10.0)) // k=1 upserted in batch 2
      q.processAllAvailable()
      val frags = GraftArray.store(spark, uri).listFragments()
      assert(frags.size == 2, s"expected 2 fragments, got ${frags.size}")
      // latest-wins across micro-batches: k=1 reads the batch-2 value
      val got = spark.read.format("graftarray").option("path", uri).load()
        .orderBy("k").as[(Long, Double)].collect().toSeq
      assert(got == Seq((1L, 10.0), (2L, 2.0), (3L, 3.0)))
      // the fragment timeline is the batch timeline: as-of the first
      // commit sees only batch 1
      assert(GraftArray.load(spark, uri,
        asOf = Some(frags.head.timestamp)).count() == 2)
    } finally q.stop()
  }

  test("streaming sink is idempotent: a replayed batchId commits nothing") {
    // Structured Streaming re-delivers the last uncommitted batchId
    // after a restart; the sink must not write a second fragment for
    // it (duplicates for allowsDups arrays, junk fragments otherwise)
    import graft.core._
    import graft.sources.GraftArray
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val uri = java.nio.file.Files.createTempDirectory("graft_replay")
      .toString + "/arr"
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType)), allowsDups = true))
    val batch = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    assert(EventPipeline.commitStreamBatch(batch, uri, "s", 0L))
    // replay of the same (sink, batchId) — e.g. post-restart — no-ops
    assert(!EventPipeline.commitStreamBatch(batch, uri, "s", 0L))
    assert(GraftArray.fragments(spark, uri).size == 1)
    // a NEW batchId commits; a different sink feeding the same array
    // keeps its own ledger
    assert(EventPipeline.commitStreamBatch(batch, uri, "s", 1L))
    assert(EventPipeline.commitStreamBatch(batch, uri, "other", 0L))
    val frags = GraftArray.fragments(spark, uri)
    assert(frags.size == 3)
    assert(frags.flatMap(_.origin).sorted ==
      Seq("stream:other:0", "stream:s:0", "stream:s:1"))
    // allowsDups array: rows exist once per committed batch, not per
    // delivery attempt
    assert(spark.read.format("graftarray").option("path", uri).load()
      .count() == 6)
  }

  test("streaming source tails the fragment timeline exactly once") {
    import graft.core._
    import graft.sources.GraftArray
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val uri = java.nio.file.Files.createTempDirectory("graft_src")
      .toString + "/arr"
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType))))
    val t1 = GraftArray.write(spark, uri,
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    val name = "graft_tail_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val stream = spark.readStream.format("graftarray")
      .option("path", uri).load()
      .select(col("k"), col("v"), col("_commit_ts"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 2) // initial backlog
      // new fragments arrive as new micro-batches — including an
      // UPSERT of k=1: streamed as a new version (CDC), not merged
      val t2 = GraftArray.write(spark, uri,
        Seq((3L, 3.0), (1L, 10.0)).toDF("k", "v"))
      q.processAllAvailable()
      val got = spark.table(name).as[(Long, Double, Long)].collect()
      assert(got.length == 4, got.mkString(","))
      assert(got.count(_._1 == 1L) == 2) // both versions delivered
      assert(got.filter(_._3 == t1).map(r => (r._1, r._2)).sorted.toSeq ==
        Seq((1L, 1.0), (2L, 2.0)))
      assert(got.filter(_._3 == t2).map(r => (r._1, r._2)).sorted.toSeq ==
        Seq((1L, 10.0), (3L, 3.0)))
      // no new fragments → empty batch, no duplicates
      q.processAllAvailable()
      assert(spark.table(name).count() == 4)
    } finally q.stop()
  }

  test("sink replay ledger survives consolidation and vacuum") {
    // consolidation hides the origin-tagged fragments and vacuum
    // deletes them — the per-sink high-water in array metadata must
    // keep replays idempotent anyway
    import graft.core._
    import graft.sources.GraftArray
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val uri = java.nio.file.Files.createTempDirectory("graft_ledger")
      .toString + "/arr"
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType)), allowsDups = true))
    assert(EventPipeline.commitStreamBatch(
      Seq((1L, 1.0)).toDF("k", "v"), uri, "s", 0L))
    assert(EventPipeline.commitStreamBatch(
      Seq((2L, 2.0)).toDF("k", "v"), uri, "s", 1L))
    assert(GraftArray.consolidate(spark, uri).isDefined)
    assert(GraftArray.vacuum(spark, uri) == 2) // origin tags erased
    // post-vacuum replay of either committed batch is still a no-op
    assert(!EventPipeline.commitStreamBatch(
      Seq((1L, 1.0)).toDF("k", "v"), uri, "s", 0L))
    assert(!EventPipeline.commitStreamBatch(
      Seq((2L, 2.0)).toDF("k", "v"), uri, "s", 1L))
    assert(spark.read.format("graftarray").option("path", uri).load()
      .count() == 2)
    // genuinely new batches still commit
    assert(EventPipeline.commitStreamBatch(
      Seq((3L, 3.0)).toDF("k", "v"), uri, "s", 2L))
  }

  /** A fresh allowsDups (k, v) array, so a double-committed batch
    * would show as extra rows. */
  private def ledgerArray(prefix: String): String = {
    import graft.core._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val uri = java.nio.file.Files.createTempDirectory(prefix)
      .toString + "/arr"
    graft.sources.GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType)), allowsDups = true))
    uri
  }

  private def commit(uri: String, batchId: Long): Boolean =
    EventPipeline.commitStreamBatch(
      Seq((batchId, batchId.toDouble)).toDF("k", "v"), uri, "s", batchId)

  test("streaming batches write no metadata files: the tag is the ledger") {
    val uri = ledgerArray("graft_nometa")
    val input = MemoryStream[(Long, Double)](spark)
    val q = EventPipeline.writeStreamToArray(
      input.toDF().toDF("k", "v"), uri)
    try (0 until 30).foreach { i =>
      input.addData((i.toLong, i.toDouble))
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.sources.GraftArray.fragments(spark, uri).size == 30)
    val meta = Option(new java.io.File(uri, "_meta").list()).toSeq.flatten
    assert(!meta.exists(_.endsWith(".json")), meta.mkString(","))
  }

  test("sink replay stays a no-op after rollback then vacuum") {
    import graft.sources.GraftArray
    val uri = ledgerArray("graft_ledger_rb")
    assert(commit(uri, 0L) && commit(uri, 1L))
    val t0 = GraftArray.fragments(spark, uri).head.timestamp
    assert(GraftArray.rollback(spark, uri, t0).isDefined)
    assert(GraftArray.vacuum(spark, uri) == 2) // both tags erased
    // batch 1 was rolled back, not lost: its replay must not re-apply it
    assert(!commit(uri, 0L) && !commit(uri, 1L))
    assert(spark.read.format("graftarray").option("path", uri).load()
      .as[(Long, Double)].collect().toSeq == Seq((0L, 0.0)))
    assert(commit(uri, 2L))
  }

  test("sink replay stays a no-op after delete_fragments") {
    import graft.sources.GraftArray
    val uri = ledgerArray("graft_ledger_df")
    assert(commit(uri, 0L) && commit(uri, 1L) && commit(uri, 2L))
    val t1 = GraftArray.fragments(spark, uri)(1).timestamp
    assert(GraftArray.deleteFragments(spark, uri, t1, t1) == 1)
    assert(!commit(uri, 0L) && !commit(uri, 1L) && !commit(uri, 2L))
    assert(spark.read.format("graftarray").option("path", uri).load()
      .as[(Long, Double)].collect().map(_._1).sorted.toSeq == Seq(0L, 2L))
    assert(commit(uri, 3L))
  }

  test("mid-backlog consolidation fails the stream instead of duplicating") {
    import graft.core._
    import graft.sources.GraftArray
    import org.apache.spark.sql.types.{DoubleType, LongType}
    def mk(): String = {
      val uri = java.nio.file.Files.createTempDirectory("graft_midc")
        .toString + "/arr"
      GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("k", LongType)),
        Seq(AttributeSpec("v", DoubleType))))
      uri
    }
    // UNSAFE: consolidation window overlaps consumed history → error.
    // Stop the stream first (checkpointed offset survives) so the
    // consolidation deterministically covers CONSUMED fragments.
    val uri = mk()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_midc_ck")
      .toString
    GraftArray.write(spark, uri, Seq((1L, 1.0)).toDF("k", "v"))
    GraftArray.write(spark, uri, Seq((2L, 2.0)).toDF("k", "v"))
    // parquet sink: fault-tolerant, so the restart genuinely resumes
    // from the checkpointed offset (the memory sink cannot recover)
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_midc_out")
      .toString
    val q = spark.readStream.format("graftarray").option("path", uri)
      .load().writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", sinkDir).start()
    try { q.processAllAvailable() } finally q.stop() // consumed 2 frags
    GraftArray.write(spark, uri, Seq((3L, 3.0)).toDF("k", "v"))
    GraftArray.consolidate(spark, uri) // replaces CONSUMED fragments
    val qRestart = spark.readStream.format("graftarray").option("path", uri)
      .load().writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", sinkDir).start()
    val e = intercept[Exception] {
      try qRestart.processAllAvailable() finally qRestart.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("consumed offset")),
      msgs(e).mkString(" | "))
    // SAFE: consolidating only beyond the consumed offset streams on.
    // The stream is stopped while the array changes, as above: a running
    // stream could consume t3 before the consolidation replaces it, and
    // the consolidation would then rightly fail it.
    val uri2 = mk()
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_midc_ck2")
      .toString
    val sinkDir2 = java.nio.file.Files.createTempDirectory("graft_midc_out2")
      .toString
    def stream2() = spark.readStream.format("graftarray").option("path", uri2)
      .load().writeStream.outputMode("append")
      .option("checkpointLocation", ckpt2)
      .format("parquet").option("path", sinkDir2).start()
    GraftArray.write(spark, uri2, Seq((1L, 1.0)).toDF("k", "v"))
    val q2 = stream2()
    try { q2.processAllAvailable() } finally q2.stop() // consumed t1
    val t3 = GraftArray.write(spark, uri2, Seq((3L, 3.0)).toDF("k", "v"))
    GraftArray.write(spark, uri2, Seq((4L, 4.0)).toDF("k", "v"))
    assert(GraftArray.consolidate(spark, uri2, since = Some(t3)).isDefined)
    val q2Restart = stream2()
    try { q2Restart.processAllAvailable() } finally q2Restart.stop()
    assert(spark.read.parquet(sinkDir2).orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 1.0), (3L, 3.0), (4L, 4.0)))
  }

  test("streaming source admission control paces a deep backlog") {
    // 5 backlogged fragments + maxFragmentsPerTrigger=2 → the first
    // poll must NOT plan one giant batch; everything still arrives
    // exactly once across ≥3 micro-batches
    import graft.core._
    import graft.sources.GraftArray
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val uri = java.nio.file.Files.createTempDirectory("graft_pace")
      .toString + "/arr"
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType))))
    for (i <- 0 until 5)
      GraftArray.write(spark, uri,
        Seq((i.toLong, i.toDouble)).toDF("k", "v"))
    val name = "graft_pace_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = spark.readStream.format("graftarray").option("path", uri)
      .option("maxFragmentsPerTrigger", "2").load()
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).orderBy("k").as[(Long, Double)]
        .collect().toSeq == (0 until 5).map(i => (i.toLong, i.toDouble)))
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3,
        s"expected ≥3 paced batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows <= 2))
    } finally q.stop()
    // row-capped variant: 5 fragments of 10 rows, 25-row cap → ≥2 batches
    val uri2 = java.nio.file.Files.createTempDirectory("graft_pace2")
      .toString + "/arr"
    GraftArray.create(spark, uri2, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType))))
    for (i <- 0 until 5)
      GraftArray.write(spark, uri2, spark.range(i * 10L, i * 10L + 10L)
        .select(col("id").as("k"), lit(i.toDouble).as("v")))
    val name2 = "graft_pace2_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q2 = spark.readStream.format("graftarray").option("path", uri2)
      .option("maxRowsPerTrigger", "25").load()
      .writeStream.outputMode("append")
      .format("memory").queryName(name2).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name2).count() == 50)
      val batches2 = q2.recentProgress.filter(_.numInputRows > 0)
      assert(batches2.length >= 2 && batches2.forall(_.numInputRows <= 30),
        batches2.map(_.numInputRows).mkString(","))
    } finally q2.stop()
  }

  test("sink-to-source composition: arrays as a streaming relay") {
    // write stream → array → read stream: the fragment timeline is the
    // exactly-once handoff between two independent streaming queries
    import graft.core._
    import graft.sources.GraftArray
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val uri = java.nio.file.Files.createTempDirectory("graft_relay")
      .toString + "/arr"
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("v", DoubleType))))
    val input = MemoryStream[(Long, Double)](spark)
    val ingest = EventPipeline.writeStreamToArray(
      input.toDF().toDF("k", "v"), uri)
    val name = "graft_relay_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val out = spark.readStream.format("graftarray").option("path", uri)
      .load().writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      input.addData((1L, 1.0))
      ingest.processAllAvailable()
      out.processAllAvailable()
      input.addData((2L, 2.0), (3L, 3.0))
      ingest.processAllAvailable()
      out.processAllAvailable()
      assert(spark.table(name).orderBy("k").as[(Long, Double)]
        .collect().toSeq == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    } finally { ingest.stop(); out.stop() }
  }

  test("flatMapGroupsWithState sessionizer accumulates across batches") {
    val input = MemoryStream[Event](spark)
    val q = EventPipeline.sessionize(input.toDS(), withTimeout = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_test").start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      input.addData(Event(1, ts(0), 10L, "click", 1.5),
        Event(2, ts(1), 10L, "click", 2.5), Event(3, ts(2), 20L, "buy", 10.0))
      q.processAllAvailable()
      input.addData(Event(4, ts(3), 10L, "click", 4.0))
      q.processAllAvailable()
      val snaps = spark.table("sess_test").as[SessionSummary].collect()
      // batch 1 snapshot: user 10 → (2, 4.0); batch 2: user 10 → (3, 8.0)
      assert(snaps.exists(s => s.user_id == 10L && s.n_events == 2 &&
        math.abs(s.total - 4.0) < 1e-9))
      assert(snaps.exists(s => s.user_id == 10L && s.n_events == 3 &&
        math.abs(s.total - 8.0) < 1e-9))
      assert(snaps.exists(s => s.user_id == 20L && s.n_events == 1))
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch range join") {
    val streaming = operators.StreamOps.queries("st5_stream_join")(spark, sf)
      .collect().toSeq
    val batch = operators.Temporal.queries("j10_range_join")(spark, sf)
      .collect().toSeq
    assert(streaming.nonEmpty && streaming == batch)
  }

  test("st18 restart: cross-batch windows prove state truly recovered") {
    val got = operators.StreamOps.queries("st18_stream_restart")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // per-slice window counts: the restart proof is windows fed by
    // BOTH batches summing exactly (a state reset would leave only
    // batch 1's contribution in them)
    def slice(parity: Int) = Tables.load(spark, sf, "events")
      .filter(pmod(col("event_id"), lit(2L)) === parity)
      .groupBy((floor(unix_micros(col("ts")) / 3600000000L) * 3600000000L)
        .as("w"), col("event_type"))
      .count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val (even, odd) = (slice(0), slice(1))
    val shared = even.keySet.intersect(odd.keySet)
    assert(shared.nonEmpty, "no window fed by both batches — weak staging")
    shared.foreach { k =>
      assert(got(k) == even(k) + odd(k),
        s"window $k: ${got(k)} != ${even(k)} + ${odd(k)} — state lost")
    }
    assert(got.keySet == even.keySet ++ odd.keySet)
  }

  test("st17 compact loop: two waves, two compactions, two fragments") {
    val rows = operators.StreamOps
      .queries("st17_stream_compact_loop")(spark, sf).collect()
    assert(rows.nonEmpty)
    // policy outcome: each wave compacted once; final layout is the
    // wave-A merge + the wave-B merge (A was NOT re-absorbed — it sits
    // above the threshold after its own merge)
    assert(rows.forall(_.getLong(3) == 2L), s"n_fragments: ${rows.toSeq}")
    assert(rows.forall(_.getLong(4) == 2L), s"n_compactions: ${rows.toSeq}")
    // data parity with the batch slice
    val expect = Tables.load(spark, sf, "events")
      .filter(pmod(col("event_id"), lit(8L)) <= 5)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) == expect(r.getString(0))))
  }

  test("st16 outer join: every click emits, null rows only via eviction") {
    val rows = operators.StreamOps.queries("st16_stream_outer_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // no sentinel user ever reaches the output
    assert(rows.forall(_._2 >= 0))
    // every click of the corpus is present exactly once as a left key
    // set (matched clicks may repeat per purchase)
    val clicks = Tables.load(spark, sf, "events")
      .filter(col("event_type") === "click").count()
    assert(rows.map(_._1).distinct.length.toLong == clicks,
      s"left side incomplete: ${rows.map(_._1).distinct.length} vs $clicks")
    // BOTH branches fire: watermark-evicted null rows and real matches
    val (outer, matched) = rows.partition(_._4 == -1L)
    assert(outer.nonEmpty, "no eviction-emitted outer row")
    assert(matched.nonEmpty, "no matched row")
    // an event_id appears either as one outer row or as matches — never both
    val outerIds = outer.map(_._1).toSet
    assert(!matched.exists(m => outerIds.contains(m._1)))
    // matched rows are exactly st5's inner join
    val inner = operators.StreamOps.queries("st5_stream_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // st5 orients the window from the purchase side; same pair set
    assert(matched.toSet == inner,
      s"matched rows diverge from the inner join: ${matched.length} vs ${inner.size}")
  }

  test("watermark-bounded streaming dedup agrees with the exact variant") {
    // the published (bounded-state) operator and the unbounded-state
    // oracle variant must produce the same per-type distinct counts on
    // the events table (single file → one micro-batch, so within-
    // watermark dedup covers every duplicate)
    val bounded = EventPipeline.runStreamingDedupBounded(spark, sf)
      .orderBy("event_type").collect().toSeq
    val exact = EventPipeline.runStreamingDedup(spark, sf)
      .orderBy("event_type").collect().toSeq
    assert(bounded.nonEmpty && bounded == exact)
  }

  test("bounded dedup evicts keys once the watermark passes them") {
    // two batches: batch 1 sets the watermark well past the old keys;
    // batch 2 re-delivers the old key fresh (state evicted → re-emit),
    // duplicates a live key (in state → dropped), and delivers a late
    // row (below watermark → dropped). Base offset keeps event times
    // clear of the initial epoch-0 watermark.
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark)
    def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
    val name = "dedup_evict_test"
    val q = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      input.addData((ts(0), 1L), (ts(0), 1L), (ts(100), 2L))
      q.processAllAvailable() // watermark → min 90; k=1 state evicted
      input.addData((ts(1), 1L), (ts(100), 2L), (ts(120), 1L))
      q.processAllAvailable()
      val out = spark.table(name).collect().map(_.getLong(1)).toSeq
      // k=1 twice: once per batch (bounded state re-admits after
      // eviction; the late ts(1) row was dropped); k=2 once (state
      // still live → duplicate suppressed)
      assert(out.count(_ == 1L) == 2 && out.count(_ == 2L) == 1, out)
    } finally q.stop()
  }

  test("stateful queries size state partitions from input, restore conf") {
    // state-store partition count is frozen into the checkpoint at the
    // first batch (AQE cannot coalesce stateful exchanges), so runners
    // size it from the input estimate instead of inheriting the batch
    // scan parallelism; the session conf must come back untouched, and
    // an explicit graft.streaming.statePartitions override must not
    // change results
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val base = EventPipeline.runStreamingIntervalJoin(spark, sf)
      .orderBy("event_id", "pus").collect().toSeq
    assert(spark.conf.get(key) == prev, "conf not restored")
    spark.conf.set("graft.streaming.statePartitions", "2")
    try {
      val overridden = EventPipeline.runStreamingIntervalJoin(spark, sf)
        .orderBy("event_id", "pus").collect().toSeq
      assert(overridden == base, "partition count changed the result")
    } finally spark.conf.unset("graft.streaming.statePartitions")
    assert(spark.conf.get(key) == prev, "conf not restored after override")
  }

  test("state sizing lives in a child session — caller conf never mutates") {
    // the former mutate-and-restore leaked the sized count into any
    // concurrent query on the same session WHILE a stream ran; the
    // body below stands in for that interleaved work — the caller's
    // conf must hold its value DURING the stream, not merely after,
    // and an interleaved batch aggregation must plan with it
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    var checkedDuring = false
    val out = EventPipeline.withStatePartitions(spark, 1000000L) { work =>
      assert(work ne spark, "sizing must use a private child session")
      assert(work.conf.get(key) == "16", // 1e6/65536 + 1
        s"child not sized: ${work.conf.get(key)}")
      assert(spark.conf.get(key) == prev,
        s"caller conf mutated mid-stream: ${spark.conf.get(key)}")
      // runtime confs carry over (the child must read events.parquet
      // and keep UTC semantics exactly like the caller)
      assert(work.conf.get("spark.sql.session.timeZone") ==
        spark.conf.get("spark.sql.session.timeZone"))
      // an interleaved aggregation on the CALLER still shuffles at the
      // caller's count
      val agg = spark.range(1000).groupBy(col("id") % 7).count()
      agg.collect()
      val exch = agg.queryExecution.executedPlan.toString
      assert(exch.contains(s"hashpartitioning") &&
        exch.contains(s", $prev)"), s"caller plan lost its count:\n$exch")
      checkedDuring = true
      work.range(3).count()
    }
    assert(checkedDuring && out == 3L)
    assert(spark.conf.get(key) == prev)
  }

  test("stream-static enrichment equals batch; join carries no state") {
    val streaming = operators.StreamOps.queries("st6_stream_enrich")(spark, sf)
      .collect().toSeq
    // batch twin of the same plan: tiers joined into clicks, windowed
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sf, "events")
    val tiers = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(round(sum(col("value")), 2).as("tot"))
      .select(col("user_id"),
        when(col("tot") >= 500, "high").otherwise("low").as("tier"))
    val batch = ev.filter(col("event_type") === "click")
      .join(tiers, Seq("user_id"), "left")
      .select(col("ts"), coalesce(col("tier"), lit("none")).as("tier"),
        col("value"))
      .groupBy(window(col("ts"), "1 hour"), col("tier"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("tier"), col("n"), col("total"))
      .orderBy("win_start_us", "tier").collect().toSeq
    assert(streaming.nonEmpty && streaming == batch)
    // statelessness of the join: run the same stream and inspect the
    // progress — exactly ONE state operator (the windowed aggregation),
    // none for the stream-static join
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val name = "st6_state_probe"
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf)
      .transform(Tables.normalizeTs)
      .filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .join(broadcast(tiers), Seq("user_id"), "left")
      .groupBy(window(col("ts"), "1 hour"),
        coalesce(col("tier"), lit("none")).as("tier"))
      .count()
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 1,
        s"expected only the aggregation state operator, got ${ops.length}")
    } finally q.stop()
  }

  test("st11 distinct users: multi-stateful chain equals batch, emit-once") {
    val out = operators.StreamOps.queries("st11_stream_distinct")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // append-mode emit-once: each window appears exactly once
    val wins = out.map(_.getLong(0)).toSeq
    assert(wins.distinct.size == wins.size, "a window emitted twice")
    // the exact chain equals the batch COUNT(DISTINCT) replay
    val batch = Tables.load(spark, sf, "events")
      .groupBy((floor(unix_micros(col("ts")) / 3600000000L) *
        3600000000L).as("win_start_us"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap == batch)
    // the sketch twin agreed everywhere (rsd 0.01 + small-n slack)
    assert(out.forall(_.getBoolean(2)), "HLL twin out of band")
  }

  test("st14 ingest decontam equals batch x6's boolean, zero keyed state") {
    val stream = operators.StreamOps
      .queries("st14_stream_decontam")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(stream.nonEmpty)
    val batch = operators.Pipeline.queries("x6_decontaminate")(spark, sf)
      .collect().map(r => (r.getLong(0), !r.getBoolean(2))).toSeq
    assert(stream == batch,
      "streaming decontam diverged from batch x6")
  }

  test("st15 lateness audit: drops fire, survivors only in live windows") {
    val rows = operators.StreamOps
      .queries("st15_stream_lateness_audit")(spark, sf).collect()
    assert(rows.nonEmpty)
    val dropped = rows.head.getLong(4)
    assert(dropped > 0, "late-drop branch never fired")
    assert(rows.forall(_.getLong(4) == dropped))
    // the advancer's own window must have emitted (it is the thing
    // that advanced the watermark past the corpus)
    assert(rows.count(_.getString(1) == "advancer") == 1)
    // no sentinel window may leak into the output
    assert(!rows.exists(_.getString(1) == "sentinel"))
  }

  test("st12 bloom admission equals batch d11 through the gated path") {
    val stream = operators.StreamOps
      .queries("st12_stream_bloom_admission")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(stream.nonEmpty)
    val batch = operators.Dedup.queries("d11_bloom_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(stream == batch,
      "streaming admission diverged from the batch tier")
  }
}
