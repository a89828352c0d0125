package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — additive to reference parity (the
  * reference has no streaming, SURVEY §2.6); built for the events
  * table's shape. All operators are standard Structured Streaming:
  * watermark + tumbling-window aggregation, and a
  * flatMapGroupsWithState sessionizer. Batch DataFrames reuse the same
  * transformations (windowed aggregation is identical code), which is
  * what the oracle checks.
  */
object EventPipeline {

  /** Tumbling-window per-type aggregation. Works identically on batch
    * and streaming inputs — pass `events` from `read` or `readStream`. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("total"))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionSummary(user_id: Long, n_events: Long, total: Double,
      closed: Boolean)

  /** Stateful sessionization: per-user running totals via
    * `flatMapGroupsWithState`, emitting a snapshot per micro-batch.
    * With `withTimeout` a processing-time timeout closes idle sessions
    * (production mode); tests run NoTimeout so `processAllAvailable`
    * terminates (timeout batches reschedule forever under it). */
  def sessionize(events: Dataset[Event],
      withTimeout: Boolean = true): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), SessionSummary](
        OutputMode.Append, timeoutConf) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Long, Double)]) =>
          if (withTimeout && state.hasTimedOut) {
            val (n, tot) = state.get
            state.remove()
            Iterator.single(SessionSummary(userId, n, tot, closed = true))
          } else {
            val (n0, t0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0; var tot = t0
            rows.foreach { e => n += 1; tot += e.value }
            state.update((n, tot))
            if (withTimeout) state.setTimeoutDuration("30 seconds")
            // snapshot per micro-batch so downstream sees live sessions
            Iterator.single(SessionSummary(userId, n, tot, closed = false))
          }
      }
  }

  /** Streaming ingestion into a graft array: each micro-batch commits
    * ONE immutable fragment, so the array's fragment timeline IS the
    * stream's batch timeline — time travel, latest-wins upserts (equal
    * coordinates across batches resolve to the newest), and fragment
    * pruning all compose with streaming for free. Returns the started
    * query; callers manage its lifecycle. Additive to reference parity
    * (the reference has no streaming and no binlog).
    *
    * Idempotent under Structured Streaming's replay contract: after a
    * restart, foreachBatch re-delivers the last uncommitted batchId
    * with the same data. Each fragment carries an origin tag
    * `stream:<sinkId>:<batchId>`; a batch whose tag already exists in
    * the fragment manifests is skipped, so replay never double-writes
    * (the manifest commit is the single atomic file create). `sinkId`
    * distinguishes multiple streams feeding one array. */
  def writeStreamToArray(df: DataFrame, uri: String,
      sinkId: String = "stream")
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        commitStreamBatch(batch.toDF(), uri, sinkId, batchId)
        ()
      }
      .start()

  /** One micro-batch commit (factored out so replay semantics are
    * directly testable). Returns true iff a fragment was written.
    *
    * The replay ledger is the fragment's own origin tag, committed
    * atomically with the data and checked against RAW manifests
    * (consolidation hides superseded fragments from normal listings).
    * A batch commit writes nothing else: only vacuum and
    * delete_fragments destroy tags, and they first promote each sink's
    * highest destroyed batchId to a high-water mark in array metadata
    * (`GraftArray.carryStreamLedger`), which this check also reads.
    * BatchIds are per-checkpoint monotonic: a query restarted with a
    * FRESH checkpoint must use a fresh sinkId. */
  def commitStreamBatch(batch: DataFrame, uri: String,
      sinkId: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val tag = s"stream:$sinkId:$batchId"
    val st = graft.sources.GraftArray.store(spark, uri)
    val metaKey = s"graft.stream.$sinkId.last_batch"
    val replayed =
      st.loadMetadata().get(metaKey).exists(h => batchId <= h.toLong) ||
        st.listFragmentsRaw().exists(_.origin.contains(tag))
    // empty micro-batches commit nothing (no empty fragments); the
    // writer tasks' row counts decide it inside the write job, so no
    // separate isEmpty job runs per micro-batch
    !replayed && graft.sources.GraftArray.writeNonEmpty(
      spark, uri, batch, origin = Some(tag)).isDefined
  }

  /** End-to-end stream→array-sink pipeline for the st9 oracle: the
    * corpus staged as THREE files (event_id mod 3 — deterministic),
    * streamed one file per micro-batch through a stateless filter into
    * [[writeStreamToArray]] (one immutable fragment per non-empty
    * batch, replay-ledgered), then the ARRAY scan answers the
    * aggregation. Proves the full loop stream → fragment sink → array
    * read equals the relational answer; the fragment count is the
    * number of staged slices with any surviving (non-view) row, which
    * the oracle derives from the same rule. */
  def runStreamSinkPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    withStatePartitions(spark, parquetRows(spark, path)) { work =>
      val staged = stageSlices(work, path, "st9") { (ev, dir) =>
        (0 until 3).foreach { k =>
          ev.filter(pmod(col("event_id"), lit(3L)) === k)
            .coalesce(1).write.parquet(s"$dir/b$k")
        }
      }
      // the sink array lives OUTSIDE the streamed directory — under it,
      // the file source would discover the array's own fragments as
      // new input files and feed the stream its own output
      val uri = graft.core.TempDirs.fresh("graft_st9_arr") + "/arr"
      graft.sources.GraftArray.create(work, uri,
        graft.core.ArraySchema(graft.core.ArrayKind.Sparse,
          Seq(graft.core.DimensionSpec("event_id",
            org.apache.spark.sql.types.LongType)),
          Seq(graft.core.AttributeSpec("user_id",
              org.apache.spark.sql.types.LongType),
            graft.core.AttributeSpec("event_type",
              org.apache.spark.sql.types.StringType),
            graft.core.AttributeSpec("value",
              org.apache.spark.sql.types.DoubleType))))
      val stagedSchema = work.read.parquet(s"$staged/b0").schema
      val stream = work.readStream.schema(stagedSchema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
        .filter(col("event_type") =!= "view") // stateless clean step
        .select("event_id", "user_id", "event_type", "value")
      val q = writeStreamToArray(stream, uri, "st9")
      try { q.processAllAvailable() } finally q.stop()
      val nFrags = graft.sources.GraftArray.fragments(work, uri).size
      work.read.format("graftarray").option("path", uri).load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .withColumn("n_fragments", lit(nFrags.toLong))
    }
  }

  /** Streaming ingest + SMALL-FRAGMENT COMPACTION maintenance loop —
    * the composition arr35 exists for, run end-to-end: wave A streams
    * four micro-batches into the array sink (four small fragments),
    * `consolidateSmall` folds them into one; wave B streams two more
    * batches and a SECOND compaction pass folds only those — the
    * wave-A merged fragment is now above the threshold and is never
    * rewritten again. That second pass is the 100 TB property: each
    * maintenance cycle costs O(data since the last cycle), so a
    * perpetual stream keeps per-fragment planning cost bounded without
    * ever paying a full rewrite. Threshold = 3/8 of the corpus — above
    * every per-batch slice (~1/8), below the wave-A merge (~1/2), so
    * both classifications are data-derived, never tuned to a magic
    * count. Returns the per-type aggregation over the final array plus
    * the fragment count and total compaction runs, all oracle-checked
    * (the policy outcome replays from the slice counts in SQL). */
  def runStreamCompactLoop(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    withStatePartitions(spark, parquetRows(spark, path)) { work =>
      val thr = parquetRows(spark, path) * 3 / 8
      def slices(ev: DataFrame, dir: String, ks: Seq[Int]): Unit =
        ks.foreach { k =>
          ev.filter(pmod(col("event_id"), lit(8L)) <= 5 &&
              pmod(col("event_id"), lit(8L)) === k)
            .select("event_id", "user_id", "event_type", "value")
            .coalesce(1).write.parquet(s"$dir/b$k")
        }
      val stagedA = stageSlices(work, path, "st17a") { (ev, dir) =>
        slices(ev, dir, 0 until 4) }
      val stagedB = stageSlices(work, path, "st17b") { (ev, dir) =>
        slices(ev, dir, Seq(4, 5)) }
      val uri = graft.core.TempDirs.fresh("graft_st17_arr") + "/arr"
      graft.sources.GraftArray.create(work, uri,
        graft.core.ArraySchema(graft.core.ArrayKind.Sparse,
          Seq(graft.core.DimensionSpec("event_id",
            org.apache.spark.sql.types.LongType)),
          Seq(graft.core.AttributeSpec("user_id",
              org.apache.spark.sql.types.LongType),
            graft.core.AttributeSpec("event_type",
              org.apache.spark.sql.types.StringType),
            graft.core.AttributeSpec("value",
              org.apache.spark.sql.types.DoubleType))))
      def ingest(staged: String, sinkId: String): Unit = {
        val schema = work.read.parquet(s"$staged/b*").schema
        val q = writeStreamToArray(
          work.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(staged),
          uri, sinkId)
        try { q.processAllAvailable() } finally q.stop()
      }
      ingest(stagedA, "st17a")
      val (runsA, _) =
        graft.sources.GraftArray.consolidateSmall(work, uri, thr)
      ingest(stagedB, "st17b")
      val (runsB, _) =
        graft.sources.GraftArray.consolidateSmall(work, uri, thr)
      graft.sources.GraftArray.vacuum(work, uri)
      val nf = graft.sources.GraftArray.fragments(work, uri).size
      work.read.format("graftarray").option("path", uri).load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .withColumn("n_fragments", lit(nf.toLong))
        .withColumn("n_compactions", lit((runsA + runsB).toLong))
    }
  }

  /** Checkpoint RESTART recovery — the operational property everything
    * stateful rests on, demonstrated end-to-end: a windowed
    * aggregation in UPDATE mode runs over batch 0, the query STOPS,
    * a second query with the SAME checkpoint picks up batch 1 — and
    * the final counts equal the single-run batch answer, which is only
    * possible if BOTH the source offsets and the aggregation STATE
    * were recovered (a state reset would leave batch-0-only counts in
    * windows batch 1 also touched). The sink is the array writer in
    * its natural composition: update mode emits each changed
    * (window, type) row per micro-batch, the fragment commit upserts
    * it, and the array's latest-wins read IS the final aggregate — no
    * memory sink, fully fault-tolerant end to end (the ledger makes
    * replays idempotent, the checkpoint makes restarts exact).
    * Scale: state is (windows × types) rows exactly as st1; the
    * restart machinery adds zero steady-state cost. */
  def runStreamRestartRecovery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val path = s"$sfDir/events.parquet"
    withStatePartitions(spark, parquetRows(spark, path)) { work =>
      // the run MUTATES its staged dir (b1 moves into the watched dir
      // mid-run), so the cached template is COPIED per run — two
      // file-level copies of MB-scale parquet instead of two Spark
      // write jobs per iteration
      val tpl = stageSlices(work, path, "st18") { (ev, dir) =>
        ev.filter(pmod(col("event_id"), lit(2L)) === 0)
          .coalesce(1).write.parquet(s"$dir/b0")
        ev.filter(pmod(col("event_id"), lit(2L)) === 1)
          .coalesce(1).write.parquet(s"$dir/b1")
      }
      val staged = graft.core.TempDirs.fresh("graft_st18")
      val cp = graft.core.TempDirs.fresh("graft_st18_cp")
      def copyDir(src: String, dst: String): Unit = {
        val s0 = java.nio.file.Paths.get(src)
        val d0 = java.nio.file.Paths.get(dst)
        java.nio.file.Files.createDirectories(d0)
        // Files.walk returns a Stream holding open directory handles —
        // close it, or every bench iteration of this query leaks them
        val walk = java.nio.file.Files.walk(s0)
        try walk.forEach { p =>
          val t0 = d0.resolve(s0.relativize(p))
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t0)
          else java.nio.file.Files.copy(p, t0)
        } finally walk.close()
      }
      copyDir(s"$tpl/b0", s"$staged/live/b0")
      // batch 1 stays OUTSIDE the watched dir until phase 2
      copyDir(s"$tpl/b1", s"$staged/pending/b1")
      val uri = graft.core.TempDirs.fresh("graft_st18_arr") + "/arr"
      graft.sources.GraftArray.create(work, uri,
        graft.core.ArraySchema(graft.core.ArrayKind.Sparse,
          Seq(graft.core.DimensionSpec("win_start_us",
              org.apache.spark.sql.types.LongType),
            graft.core.DimensionSpec("event_type",
              org.apache.spark.sql.types.StringType)),
          Seq(graft.core.AttributeSpec("n",
              org.apache.spark.sql.types.LongType),
            graft.core.AttributeSpec("total",
              org.apache.spark.sql.types.DoubleType))))
      val schema = work.read.parquet(s"$staged/live/b0").schema
      def phase(): Unit = {
        val q = work.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet")
          .option("recursiveFileLookup", "true")
          .parquet(s"$staged/live")
          // deliberately NO watermark: the two staged batches
          // interleave across the whole event-time range (that's what
          // makes recovered STATE observable — batch 1 increments
          // windows batch 0 opened), and a watermark set by batch 0's
          // max would drop batch 1 wholesale as late. A production
          // deployment of this sink puts the watermark back and
          // accepts the bounded-lateness contract st15 audits.
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
          .select(unix_micros(col("window.start")).as("win_start_us"),
            col("event_type"), col("n"), col("total"))
          .writeStream.outputMode("update")
          .option("checkpointLocation", cp)
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              commitStreamBatch(batch.toDF(), uri, "st18", batchId)
              ()
          }
          .start()
        try { q.processAllAvailable() } finally q.stop()
      }
      phase() // batch 0 only, then the query STOPS
      // "new data arrives while the pipeline is down"
      val b1 = new java.io.File(s"$staged/pending/b1")
      val dst = new java.io.File(s"$staged/live/b1")
      java.nio.file.Files.move(b1.toPath, dst.toPath)
      phase() // fresh query, SAME checkpoint: offsets + state recovered
      work.read.format("graftarray").option("path", uri).load()
        .select("win_start_us", "event_type", "n", "total")
    }
  }

  /** Size streaming state partitions from the input estimate.
    *
    * AQE cannot coalesce stateful exchanges — the state-store partition
    * count freezes into the checkpoint at the first micro-batch — and
    * every state store pays per-partition commit + maintenance overhead
    * PER BATCH, so the batch default (session scan parallelism) is the
    * wrong number for streams in both directions: at bench scale a
    * 32-partition stream-stream join runs 4 stores × 32 partitions of
    * bookkeeping for a few hundred thousand rows (measured ~2.5× slower
    * than 8 partitions on identical data), and at 100 TB the right
    * count tracks the per-watermark-window KEY CARDINALITY, which can
    * exceed core count. Default: one state partition per ~64k estimated
    * input rows, clamped to [1, 4096]; override with
    * `graft.streaming.statePartitions`.
    *
    * The sized count lives in a PRIVATE child session (`newSession()`:
    * own SQLConf/temp views over the shared context), mirroring the
    * batch connected-components treatment in
    * [[graft.operators.Dedup.connectedComponents]]: the former
    * mutate-and-restore on the caller's session leaked the sized count
    * into any concurrent query on that session while the stream ran
    * (round-7 verdict #2). The caller's runtime confs (time zone,
    * legacy parquet flags, broadcast thresholds) are copied over so the
    * child behaves identically apart from the partition count; the
    * body must build its stream FROM the provided session so the state
    * exchanges plan under it. */
  private[graft] def withStatePartitions[T](spark: SparkSession,
      estRows: => Long)(body: SparkSession => T): T = {
    // estRows is by-name: when the override conf is set the estimate
    // job never runs at all
    val n = spark.conf.getOption("graft.streaming.statePartitions")
      .map(_.toInt)
      .getOrElse(math.max(1L, math.min(estRows / 65536 + 1, 4096L)).toInt)
    val work = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (work.conf.isModifiable(k)) work.conf.set(k, v)
    }
    work.conf.set("spark.sql.shuffle.partitions", n.toString)
    body(work)
  }

  /** Parquet row count from the file footers, read on the DRIVER —
    * zero Spark jobs (the former zero-column count() still paid a full
    * job per streaming query per bench iteration; the state-partition
    * estimate needs only the footer metadata, which is exact). Memoized
    * per path+content-signature: every streaming query over the same
    * corpus re-asks this. */
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private def parquetRows(spark: SparkSession, path: String): Long =
    rowCountCache.computeIfAbsent(
      s"$path|${graft.Tables.fileSig(path)}", _ => {
        // recursive local listing — a nested/partitioned layout must
        // count every leaf file, and an empty listing must fail loudly
        // rather than silently size the state exchange from 0 rows
        def leaves(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(leaves)
          else if (f.getName.endsWith(".parquet")) Seq(f)
          else Seq.empty
        val files = leaves(new java.io.File(path))
        require(files.nonEmpty,
          s"parquetRows: no .parquet files under $path")
        val conf = spark.sessionState.newHadoopConf()
        files.map(pf => graft.core.ParquetStats.rowCount(
          new org.apache.hadoop.fs.Path(pf.getPath), conf)).sum
      })

  /** Deterministic slice staging for the file-per-micro-batch stream
    * fixtures (st9/st15/st17), cached per JVM like [[drainSessions]]:
    * the staged directory is a pure function of the source corpus (the
    * content signature is part of the key, so a rewritten source
    * restages), and re-writing identical slices each bench iteration paid
    * the staging cost 4× without changing a single streamed byte. The
    * query under measurement — the micro-batch execution, the array
    * sink commits, the compaction loop — still runs in full every
    * time. */
  private val sliceStageCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** CONTRACT: the returned directory is shared by every later caller
    * in this JVM and must be treated as READ-ONLY — a consumer that
    * mutates its staged tree (st18 moves files into the watched dir)
    * must copy the template per run. Enforced, not just documented:
    * every staged regular file is made non-writable after the build,
    * so a future mutating consumer fails fast instead of poisoning
    * all subsequent runs. */
  private def stageSlices(work: SparkSession, path: String,
      cacheKey: String)(build: (DataFrame, String) => Unit): String =
    sliceStageCache.computeIfAbsent(
      s"$cacheKey|$path|${graft.Tables.fileSig(path)}", _ => {
        val staged = graft.core.TempDirs.fresh(s"graft_$cacheKey")
        build(work.read.parquet(path).transform(graft.Tables.normalizeTs),
          staged)
        val walk = java.nio.file.Files.walk(
          java.nio.file.Paths.get(staged))
        try walk.forEach { p =>
          if (!java.nio.file.Files.isDirectory(p))
            p.toFile.setWritable(false, false)
        } finally walk.close()
        staged
      })

  /** Run the windowed aggregation as a real micro-batch streaming query
    * over the events parquet and collect the complete result
    * (format("memory") + processAllAvailable → deterministic). */
  def runStreamingWindowed(spark: SparkSession, sfDir: String): DataFrame = {
    // the events table is a single parquet file; the streaming file
    // source wants a directory, so glob-filter within sfDir
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val name = "graft_stream_" + java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, s"$sfDir/events.parquet")) { work =>
      val stream = work.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
        .transform(graft.Tables.normalizeTs)
      val q = windowedCounts(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      work.table(name)
    }
  }

  /** Windowed TRENDING top-k: the streaming stage maintains per
    * (window, type) counts — state is (windows × types) rows, the
    * exchange moves partial aggregates — and the top-3 selection runs
    * over the MATERIALIZED result (a ≤types-rows-per-window window
    * function; on a real deployment this is the per-trigger dashboard
    * read over the complete-mode sink, not a streaming operator).
    * Deterministic tiebreak (n desc, type asc). */
  def runStreamingTrending(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runStreamingWindowed(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start_us")
      .orderBy(col("n").desc, col("event_type"))
    counts.select(col("win_start_us"), col("event_type"), col("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy("win_start_us", "rk")
  }

  /** Sliding-window streaming aggregation (2 h window, 1 h slide —
    * each event belongs to exactly len/slide = 2 windows). Spark's
    * window() expands the event to its member windows BEFORE the
    * aggregation, so state is (windows × types) rows and the exchange
    * moves partial aggregates of the 2×-expanded stream — the overlap
    * factor is a constant multiplier, never a join. Same micro-batch
    * harness as [[runStreamingWindowed]]. */
  def runStreamingSliding(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val name = "graft_slide_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, s"$sfDir/events.parquet")) { work =>
      val stream = work.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
        .transform(graft.Tables.normalizeTs)
      val q = stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n"), col("total"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      work.table(name)
    }
  }

  /** Stage a bounded event-time source so a stateful APPEND-mode query
    * over it DRAINS completely at end-of-stream — the reusable form of
    * the two traps st8 paid a debugging loop each to learn:
    *
    *  1. TWO sentinel batches, not one: a micro-batch applies the
    *     watermark computed at the END of the PREVIOUS batch, so a lone
    *     sentinel only raises the clock and strands every session of
    *     the final gap window in state (measured 79 missing at
    *     sf0.01); sentinel #2's batch is the one that evicts what #1
    *     closed.
    *  2. The sentinel must exclude ITSELF — the caller's query must
    *     carry NO sentinel filter: any grouping-key predicate (even
    *     placed after the aggregation) pushes through Aggregate and
    *     watermark into the parquet scan, where row-group stats skip
    *     the sentinel file and the event-time clock never advances.
    *     `sentinelRow` must therefore produce a row whose own
    *     group/session is never watermark-passed (its ts sits
    *     `horizonUs` past the corpus max, so its window's end stays
    *     ahead of the final watermark forever).
    *
    * The corpus stages as ONE file (if it split, each part would be
    * its own micro-batch and the first part's watermark could drop
    * later parts' events as late data). Read the returned dir with
    * `maxFilesPerTrigger=1`, `latestFirst=false`.
    *
    * @param horizonUs  how far past the corpus max event time the
    *                   sentinels sit — at least the session gap (or
    *                   window length) so sentinel #1 closes every real
    *                   group
    * @param sentinelRow (source frame, sentinel ts µs, batch index
    *                   1/2) → ONE row in the staged schema carrying
    *                   the sentinel markers
    */
  private val drainStageCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def drainSessions(work: SparkSession, path: String,
      horizonUs: Long, cacheKey: String)(
      sentinelRow: (DataFrame, Long, Int) => DataFrame): String = {
    // key includes the content signature so a rewritten source file
    // restages (a path-only key would serve the OLD corpus and
    // sentinel timestamps — and a later max ts than the cached
    // sentinels means the watermark never closes the real sessions:
    // silently empty); Tables.fileSig is the shared directory-aware
    // rule (the media staging caches key on it too)
    val sig = graft.Tables.fileSig(path)
    // horizonUs is part of the key: two callers sharing a cacheKey
    // but disagreeing on the horizon must NOT share staged sentinels
    // (wrong-horizon sentinels silently strand state or emit the
    // sentinel's own group)
    drainStageCache.computeIfAbsent(s"$cacheKey|$horizonUs|$path|$sig", _ => {
      val staged = graft.core.TempDirs.fresh("graft_drain")
      val ev = work.read.parquet(path).transform(graft.Tables.normalizeTs)
      ev.coalesce(1).write.parquet(s"$staged/batch0")
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      Seq(1, 2).foreach { i =>
        sentinelRow(ev, maxUs + horizonUs + i * 1200L * 1000000, i)
          .coalesce(1).write.parquet(s"$staged/batch$i")
      }
      staged
    })
  }

  /** st8's staged input: the events corpus + drain sentinels for an
    * 8 h session gap. The sentinel's ids are negative and distinct per
    * batch; its session is never emitted (trap 2 above). */
  private def stageSessionInput(work: SparkSession, path: String): String =
    drainSessions(work, path, 8L * 3600 * 1000000, "st8") { (ev, tsUs, i) =>
      ev.limit(1).select(
        lit(-i.toLong).as("event_id"),
        timestamp_micros(lit(tsUs)).as("ts"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
    }

  /** NATIVE streaming session windows (`session_window(ts, gap)`,
    * append mode): Spark merges overlapping [t, t+gap) windows in the
    * state store, evicting a session once the watermark passes its
    * end — state is open sessions only, bounded by (active users ×
    * gap), the canonical streaming-sessionization contract.
    *
    * Append-mode mechanics this run makes explicit: a session emits
    * ONLY when the watermark passes its end, and the watermark only
    * advances between micro-batches — a single-batch source would
    * emit NOTHING. The input is therefore staged as two files
    * (`maxFilesPerTrigger=1`): the corpus, then a watermark-flush
    * SENTINEL row (user_id = −1, ts = max + gap + 2×delay) that is
    * filtered out AFTER `withWatermark` — it advances the clock,
    * closes every real session, and never reaches the aggregation.
    * That is exactly how a production pipeline drains sessions at
    * end-of-stream. */
  def runStreamingSessionWindow(spark: SparkSession, sfDir: String,
      gap: String = "8 hours"): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val name = "graft_sess_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, path)) { work =>
      val staged = stageSessionInput(work, path)
      val stagedSchema = work.read.parquet(s"$staged/batch0").schema
      val stream = work.readStream.schema(stagedSchema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
      // NO sentinel filter anywhere in the query: any
      // filter(user_id >= 0) — even placed after the aggregation — is
      // a grouping-key predicate, so Catalyst pushes it through the
      // Aggregate, through the watermark node, into the parquet scan,
      // where row-group stats skip the sentinel file entirely and the
      // clock never advances (measured: watermark stuck at
      // corpus-max − delay, 79 stranded sessions). The sentinel
      // excludes ITSELF instead: its session ends at sentinel#2's
      // ts + gap, which the final watermark (sentinel#1 − delay)
      // never passes, so append mode simply never emits it.
      val q = stream
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n"), col("total"))
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      work.table(name)
    }
  }

  /** APPEND-mode tumbling windows — the emit-once production shape.
    * st1 runs this aggregation in COMPLETE mode, which rematerializes
    * the whole result every micro-batch and cannot feed an append-only
    * sink; here a window emits exactly once, when the watermark passes
    * its end, so state is open windows only and the output is a log.
    * The bounded corpus drains through [[drainSessions]] — the first
    * reuse of the helper beyond session windows, proving the contract
    * generalizes. The sentinels HOUR-ALIGN (one or two hour windows,
    * depending on the corpus max's minute-of-hour band) at least two
    * hours past the corpus max, which gives both halves of the
    * contract in every band:
    *  (a) flush — sentinel #1's watermark (its aligned hour − 10 min
    *      delay ≥ corpus max + 1 h − 10 min) has passed every real
    *      window's end by the time batch 2 processes, so all real
    *      windows emit;
    *  (b) self-exclusion — each sentinel window's END exceeds the
    *      FINAL watermark (sentinel #2's aligned ts − 10 min) in all
    *      three minute bands; the tightest is minute ∈ [20, 40),
    *      where the sentinels straddle an hour boundary and sentinel
    *      #1's window end clears the final watermark by only 9 min —
    *      positive, but the margin to mind if the per-sentinel 60 s
    *      offset or the 10 min delay is ever changed. */
  def runStreamingAppendWindows(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val path = s"$sfDir/events.parquet"
    val name = "graft_appwin_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, path)) { work =>
      val hourUs = 3600L * 1000000
      val staged = drainSessions(work, path, 2 * hourUs, "st10") {
        (ev, tsUs, i) =>
          val aligned = tsUs / hourUs * hourUs + (i - 1) * 60L * 1000000
          ev.limit(1).select(
            lit(-i.toLong).as("event_id"),
            timestamp_micros(lit(aligned)).as("ts"),
            lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))
      }
      val stagedSchema = work.read.parquet(s"$staged/batch0").schema
      val stream = work.readStream.schema(stagedSchema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
      // NO sentinel filter (trap 2) — its window never emits
      val q = windowedCounts(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      work.table(name)
    }
  }

  /** st15 — watermark-lateness AUDIT: the observability contract of
    * late-data handling made oracle-checkable. Staging: batch0 = the
    * on-time slice (event_id % 5 ≠ 0); batch1 = ONE "advancer" row
    * 60 s past the corpus max (measured behavior: a batch's late
    * filter uses the watermark computed after the PREVIOUS batch, so
    * data arriving only one batch behind a watermark advance still
    * merges — the advancer batch puts one batch between the advance
    * and the late arrivals); batch2 = the LATE slice (% 5 = 0), which
    * now meets filter watermark = (corpus max + 60 s) − 10 min; then
    * the two st10-style drain sentinels (2 h horizon, hour-aligned,
    * 60 s offset — same margin analysis; the advancer's own window
    * DOES emit, and the oracle states it). A late row is dropped iff
    * its hour-window END ≤ that watermark — replayed in SQL — and the
    * engine's numRowsDroppedByWatermark (summed over progress) is
    * published beside the surviving windows: a miscounted drop OR a
    * wrongly-dropped row hash-mismatches. Metric grain (measured):
    * the stateful operator sits ABOVE the map-side partial
    * aggregation, so it counts dropped PARTIAL rows — and since the
    * late slice stages as ONE file/partition, that equals the
    * DISTINCT (window, type) count among dropped rows (1 637 partials
    * over 1 998 raw rows at sf0.01), which is what the oracle
    * replays. */
  def runStreamingLatenessAudit(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val path = s"$sfDir/events.parquet"
    val name = "graft_late_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, path)) { work =>
      val hourUs = 3600L * 1000000
      val staged = stageSlices(work, path, "st15") { (ev, dir) =>
        ev.filter(pmod(col("event_id"), lit(5L)) =!= 0)
          .coalesce(1).write.parquet(s"$dir/batch0")
        val fullMaxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
        ev.limit(1).select(
          lit(-9L).as("event_id"),
          timestamp_micros(lit(fullMaxUs + 60L * 1000000)).as("ts"),
          lit(-1L).as("user_id"), lit("advancer").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
          .coalesce(1).write.parquet(s"$dir/batch1")
        ev.filter(pmod(col("event_id"), lit(5L)) === 0)
          .coalesce(1).write.parquet(s"$dir/batch2")
        Seq(1, 2).foreach { i =>
          val tsUs = fullMaxUs + 2 * hourUs + i * 1200L * 1000000
          val aligned = tsUs / hourUs * hourUs + (i - 1) * 60L * 1000000
          ev.limit(1).select(
            lit(-i.toLong).as("event_id"),
            timestamp_micros(lit(aligned)).as("ts"),
            lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))
            .coalesce(1).write.parquet(s"$dir/batch${i + 2}")
        }
      }
      val stagedSchema = work.read.parquet(s"$staged/batch0").schema
      val stream = work.readStream.schema(stagedSchema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
      val q = windowedCounts(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      work.table(name)
        .withColumn("n_late_dropped", lit(dropped))
        .orderBy("win_start_us", "event_type")
    }
  }

  /** FIRST-CLASS streaming dedup — watermark-bounded state. The state
    * store holds a key only while `max(event time seen) − delay` has
    * not passed it (`dropDuplicatesWithinWatermark`), so state size is
    * O(distinct keys per watermark window), NOT O(all keys ever) — the
    * 100 TB-safe contract: an unbounded stream holds a bounded state
    * store sized by (arrival rate × delay), and append mode emits each
    * surviving row exactly once instead of rematerializing the result.
    * The trade: a duplicate arriving later than `delay` after the
    * original is re-emitted (standard streaming-dedup semantics).
    * The deduped rows land in the sink; the per-type count is a batch
    * aggregation OVER the sink (counts in append mode would hold
    * windowless aggregation state forever — same trap again). */
  def runStreamingDedupBounded(spark: SparkSession, sfDir: String,
      delay: String = "1 hour"): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val name = "graft_dedupb_" + java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, s"$sfDir/events.parquet")) { work =>
      val stream = work.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
        .transform(graft.Tables.normalizeTs)
      val q = stream.select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      work.table(name).groupBy("event_type")
        .agg(count(lit(1)).as("count"))
    }
  }

  /** Stream-stream interval join (append mode): click events joined to
    * the same user's purchases whose trailing 30-minute window contains
    * them. Both sides carry event-time watermarks and the join
    * condition bounds event-time distance, so Spark can EVICT buffered
    * state once the watermark passes — the state store holds only the
    * last delay+window of each side (bounded on endless streams), the
    * core scale property of watermarked stream-stream joins. The
    * result equals the batch range join (j10 semantics), which the
    * oracle states in plain SQL. */
  def runStreamingIntervalJoin(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val name = "graft_sjoin_" + java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, s"$sfDir/events.parquet")) { work =>
      def events() = work.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
        .transform(graft.Tables.normalizeTs)
      val clicks = events().filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id").as("c_user"), col("ts"))
        .withWatermark("ts", "1 hour")
      val purchases = events().filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"))
        .withWatermark("pts", "1 hour")
      val joined = clicks.join(purchases,
        expr("""c_user = p_user AND
                ts BETWEEN pts - INTERVAL 30 MINUTES AND pts"""))
      val q = joined
        .select(col("event_id"), col("c_user").as("user_id"),
          unix_micros(col("ts")).as("us"), unix_micros(col("pts")).as("pus"))
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      work.table(name)
    }
  }

  /** Stream-stream LEFT OUTER interval join — the production shape of
    * st5's inner join: every click emits, purchases within the
    * [click, click + 30 min] attribution window attach, and a click
    * with NO purchase emits its null row only once the watermark
    * proves no match can still arrive (state eviction IS the outer
    * row's trigger — this is the one join form whose output depends on
    * the clock, which is why it needs the drain machinery a bounded
    * inner join doesn't).
    *
    * Drain mechanics: each sentinel batch carries BOTH an event_type
    * 'click' row (user −1) and a 'purchase' row (user −2) — the two
    * legs filter on event_type BELOW their watermark nodes, so a
    * sentinel visible to only one leg would freeze the OTHER leg's
    * clock (the global watermark is the min over inputs; the st8
    * scan-skip trap, join edition). Distinct sentinel users keep the
    * sentinels from matching each other; the sentinel clicks' own
    * outer rows never emit because the final watermark (sentinel#2 −
    * 1 h delay) sits 2 h + 30 min short of sentinel#1's eviction
    * point. Real clicks all flush during batch 2: sentinel#1's
    * watermark = corpus max + 2 h + 20 min − 1 h clears every real
    * click's ts + 30 min bound. The memory-sink table is filtered to
    * real users AFTER materialization — a filter inside the streaming
    * query would push below the watermark into the scan and skip the
    * sentinel files (trap 2).
    *
    * Scale: state is watermark-bounded on both sides (1 h of clicks +
    * 1 h of purchases per key range), exactly st5's bound; the outer
    * semantics add no state — only the eviction-time null emit. */
  def runStreamingOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val name = "graft_sojoin_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, path)) { work =>
      val staged = drainSessions(work, path, 2L * 3600 * 1000000, "st16") {
        (ev, tsUs, i) =>
          def row(id: Long, user: Long, tpe: String) =
            ev.limit(1).select(lit(id).as("event_id"),
              timestamp_micros(lit(tsUs)).as("ts"), lit(user).as("user_id"),
              lit(tpe).as("event_type"), lit(0.0).as("value"),
              lit("{}").as("props"))
          row(-(2L * i), -1L, "click")
            .unionByName(row(-(2L * i + 1), -2L, "purchase"))
      }
      val stagedSchema = work.read.parquet(s"$staged/batch0").schema
      def events() = work.readStream.schema(stagedSchema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
      val clicks = events().filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id").as("c_user"), col("ts"))
        .withWatermark("ts", "1 hour")
      val purchases = events().filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"))
        .withWatermark("pts", "1 hour")
      val q = clicks.join(purchases,
        expr("""c_user = p_user AND
                pts BETWEEN ts AND ts + INTERVAL 30 MINUTES"""),
        "left_outer")
        .select(col("event_id"), col("c_user").as("user_id"),
          unix_micros(col("ts")).as("us"),
          coalesce(unix_micros(col("pts")), lit(-1L)).as("pus"))
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      work.table(name).filter(col("user_id") >= 0)
    }
  }

  /** Stream-static enrichment join — the canonical dimension-table
    * shape: a batch-computed per-user tier table (static side) joined
    * into the click stream, then windowed per-tier aggregation.
    * Scale property: a stream-static equi-join is STATELESS — no state
    * store at all; each micro-batch joins against the static frame,
    * broadcast here (a dimension table at 100 TB corpus scale is still
    * broadcast-sized, or storage-partitioned via `graft.buckets` if
    * not). Only the windowed aggregation downstream carries state,
    * watermark-bounded as in [[windowedCounts]]. Left join + coalesce:
    * clickers with no purchase history land in tier "none" instead of
    * dropping out. */
  def runStreamEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val name = "graft_enrich_" + java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, path)) { work =>
      val tiers = work.read.parquet(path)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        // round-2 before the cut: double sum order differs between
        // engines; the rounded total is the stable tier key
        .agg(round(sum(col("value")), 2).as("tot"))
        .select(col("user_id"),
          when(col("tot") >= 500, "high").otherwise("low").as("tier"))
      val stream = work.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
        .transform(graft.Tables.normalizeTs)
        .filter(col("event_type") === "click")
        .withWatermark("ts", "10 minutes")
        .join(broadcast(tiers), Seq("user_id"), "left")
        .select(col("ts"),
          coalesce(col("tier"), lit("none")).as("tier"), col("value"))
      val q = stream
        .groupBy(window(col("ts"), "1 hour"), col("tier"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("tier"), col("n"), col("total"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      work.table(name)
    }
  }

  /** Exact-dedup ORACLE variant: `dropDuplicates` keeps EVERY distinct
    * key in the state store forever and `complete` mode rematerializes
    * the whole result each batch — bit-exact against a batch
    * COUNT(DISTINCT) (which is why the correctness harness uses it),
    * but state is unbounded: on an endless stream prefer
    * [[runStreamingDedupBounded]]. */
  /** Per-window DISTINCT-user counting as a MULTI-STATEFUL append
    * chain (Spark's multiple-stateful-operator support): windowed
    * (window, user) pre-aggregation → windowed count of users, both
    * under ONE watermark. State contract at 100 TB: op1 holds one row
    * per (open window × active user) and op2 one row per open window,
    * BOTH watermark-evicted — versus the tempting
    * `dropDuplicates(user, win)` chain, whose dedup keys carry no
    * event-time column, so its state never evicts (st4 documents that
    * shape; it is fine keyed by the static type dimension, fatal keyed
    * by time). The chained aggregation re-windows op1's output via
    * `window_time` (the documented chained-agg idiom), so watermark
    * propagation closes both operators in the same drain.
    *
    * A sketch TWIN (approx_count_distinct, complete mode) runs beside
    * the exact chain and the published row asserts bounded-error
    * agreement per window: HLL± state is O(sketch bytes) per window
    * regardless of user cardinality — the state shape to prefer when
    * even (windows × users) rows is too much store. Published columns
    * are the exact counts (oracle-replayable) + the agreement flag.
    */
  def runStreamingDistinctUsers(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val path = s"$sfDir/events.parquet"
    val name = "graft_dusers_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, path)) { work =>
      val hourUs = 3600L * 1000000
      // st10's sentinel shape: hour-aligned, negative ids, its own
      // window never watermark-passed (trap 2 — no sentinel filter)
      val staged = drainSessions(work, path, 2 * hourUs, "st11") {
        (ev, tsUs, i) =>
          val aligned = tsUs / hourUs * hourUs + (i - 1) * 60L * 1000000
          ev.limit(1).select(
            lit(-i.toLong).as("event_id"),
            timestamp_micros(lit(aligned)).as("ts"),
            lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))
      }
      val stagedSchema = work.read.parquet(s"$staged/batch0").schema
      def src() = work.readStream.schema(stagedSchema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
      val q = src()
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n_ev"))
        .groupBy(window(window_time(col("window")), "1 hour"))
        .agg(count(lit(1)).as("n_users"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("n_users"))
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      // the sketch twin is COMPLETE mode — no append emission, so no
      // sentinels: it reads the raw corpus file (one micro-batch, not
      // the 3-batch drain staging). The two queries are INDEPENDENT
      // streams over independent sources, so they run CONCURRENTLY
      // (guide §2.6 — overlap independent jobs): the twin's micro-batch
      // back-fills executor time the exact chain's 3-batch drain leaves
      // idle, instead of serializing a fourth batch after it.
      val rawSchema = work.read.parquet(path).schema
      val q2 = work.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .transform(graft.Tables.normalizeTs)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("n_approx"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("n_approx"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(name + "a").start()
      try { q.processAllAvailable(); q2.processAllAvailable() }
      finally { q.stop(); q2.stop() }
      val exact = work.table(name)
      // inner join drops the sentinel window the complete-mode twin
      // necessarily carries (complete output is never watermark-cut)
      // band = max(±2, 15%): HLL's error is RELATIVE, so a tiny
      // window (n = 5) legitimately lands ±1 off — a pure 15% band
      // flakes exactly there (observed: 4 of 720 windows at the
      // default rsd 0.05; rsd 0.01 above buys the margin back —
      // sketch state is still O(KB) per window)
      exact.join(work.table(name + "a"), "win_start_us")
        .select(col("win_start_us"), col("n_users"),
          (abs(col("n_approx") - col("n_users")).cast("double") <=
            greatest(lit(2.0), lit(0.15) * col("n_users")))
            .as("approx_ok"))
        .orderBy("win_start_us")
    }
  }

  /** Streaming Bloom ADMISSION — d11's tier at INGEST time: arriving
    * documents are screened against a static Bloom filter of the
    * already-ingested base. The whole pipeline is STATELESS streaming:
    * the filter is a broadcast-sized literal inside a per-row
    * expression, bloom-negatives ("definitely new") are admitted
    * without touching any join, and only bloom-positives pay the
    * stream-static verify join against the base fingerprints. Contrast
    * the state ladder: st4's dropDuplicates holds one state row per
    * key forever, the bounded variant holds a watermark window, this
    * holds ZERO keyed state — the membership structure is O(bits) and
    * shared read-only by every task. The published is_dup flows
    * through the gated path, so the batch-exact oracle verifies the
    * filter's no-false-negative guarantee end to end (d11's trick). */
  def runStreamingBloomAdmission(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val dd = graft.Tables.load(spark, sfDir, "documents")
    val keyed = dd.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val base = keyed.filter(col("doc_id") % 3 =!= 0)
    val (_, hits) = graft.operators.Dedup.bloomOf(spark, base, col("fp"), dd)
    val baseFps = base.select("fp").distinct().withColumn("seen", lit(true))
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      // the %3 increment + the %97 re-crawl slice (d11's fixture rule:
      // guarantees the bloom-positive branch runs at every scale)
      .filter(col("doc_id") % 3 === 0 || col("doc_id") % 97 === 1)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .withColumn("bloom_pos", hits(col("fp")))
    val fresh = stream.filter(!col("bloom_pos"))
      .select(col("doc_id"), lit(false).as("is_dup"))
    val verified = stream.filter(col("bloom_pos"))
      .join(baseFps, Seq("fp"), "left")
      .select(col("doc_id"), coalesce(col("seen"), lit(false)).as("is_dup"))
    val name = "graft_badm_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = fresh.unionByName(verified)
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("doc_id")
  }

  /** st14 — decontamination AT INGEST (x6 online): the eval suite's
    * distinct 5-token shingles ride ONE static single-row frame
    * (collect_set — eval suites are thousands of docs by construction,
    * never TB), broadcast into a stateless stream-static join; each
    * arriving doc answers membership per-row via `arrays_overlap`
    * (codegen'd; O(|doc shingles| + |eval set|) per doc — the same
    * asymptotic as probing a hash set per shingle). ZERO keyed
    * streaming state, like st12's bloom admission — the decision
    * never needs cross-batch memory. Contaminated docs are REPORTED
    * (admitted=false), not silently dropped; a doc too short to
    * shingle admits trivially, exactly like x6's left-join zero. */
  def runStreamingDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.shingles
    val dd = graft.Tables.load(spark, sfDir, "documents")
    val evs = dd.filter(col("doc_id") < 20)
      .select(explode(shingles(col("text"), 5)).as("s"))
      .agg(collect_set(col("s")).as("evs"))
      .withColumn("k", lit(1))
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .filter(col("doc_id") >= 20)
      .select(col("doc_id"), shingles(col("text"), 5).as("sh"))
      .withColumn("k", lit(1))
    val name = "graft_decon_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = stream.join(broadcast(evs), "k")
      .select(col("doc_id"),
        (!arrays_overlap(col("sh"), col("evs"))).as("admitted"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("doc_id")
  }

  def runStreamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val name = "graft_dedup_" + java.util.UUID.randomUUID.toString.replace("-", "")
    withStatePartitions(spark, parquetRows(spark, s"$sfDir/events.parquet")) { work =>
      val stream = work.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
      val q = stream.select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type")
        .groupBy("event_type").count()
        .writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      work.table(name)
    }
  }
}
