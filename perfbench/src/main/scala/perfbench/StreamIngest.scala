package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.GraftArray
import graft.streaming.EventPipeline

/** `stream-ingest`: each op hands one seeded micro-batch to a memory
  * stream that feeds the array sink (`EventPipeline.writeStreamToArray`),
  * waits for the sink's commit, waits for a tail stream over the same
  * array (the `GraftMicroBatchStream` source) to deliver the batch, and
  * reads one of the batch's keys back through SQL. Every
  * `ConsolidateEvery`-th op consolidates and vacuums the array instead.
  *
  * A round is one fresh array's life: create it with a base fragment,
  * start both streams, run `OpsPerRound` ops, stop the streams, drop
  * the array. Every round does the same amount of work, so the
  * fragment and metadata counts the ops see are the same in every run.
  * Checks: each read equals the generator's latest-wins model; the tail
  * delivers every committed batch exactly once; consolidation plus
  * vacuum leaves the visible content unchanged and one live fragment. */
final class StreamIngest(spark: SparkSession, seed: Long, dirs: RunDirs, tracer: Tracer)
    extends Workload {
  import StreamIngest._
  import spark.implicits._

  private final class Round(val id: Int) {
    val name = s"ing_$id"
    val table = s"graft.$name"
    val uri = s"${dirs.arrays.getPath}/$name"
    val model = new java.util.TreeMap[java.lang.Long, (Long, Double)]()
    var nextKey = 0L
    val input = MemoryStream[(Long, Long, Double)](
      implicitly[org.apache.spark.sql.Encoder[(Long, Long, Double)]], spark.sqlContext)
    /** Every key generated so far, the pool rewrites draw from. */
    val genKeys = new scala.collection.mutable.ArrayBuffer[Long]()
    val delivered = new ConcurrentLinkedQueue[(Long, Long, Double)]()
    var sink: StreamingQuery = _
    var tail: StreamingQuery = _
    val rnd = new java.util.SplittableRandom(seed * 1000003L + id)

    def start(): Unit = {
      spark.sql(s"CREATE TABLE $table (k BIGINT, v BIGINT, w DOUBLE) " +
        "TBLPROPERTIES('graft.dimensions'='k')")
      val base = (0 until BaseRows).map(_ => newCell())
      base.foreach(put)
      tracer.timed("sources.write") {
        GraftArray.write(spark, uri, base.toDF("k", "v", "w"))
      }
      sink = EventPipeline.writeStreamToArray(
        input.toDF().toDF("k", "v", "w"), uri, s"ingest$id")
      val q = delivered
      tail = spark.readStream.table(table).select("k", "v", "w").writeStream
        .queryName(s"tail_$id")
        .option("checkpointLocation", new File(dirs.checkpoints, s"tail_$id").getPath)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
          b.collect().foreach(r => q.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
          ()
        }.start()
      // the base fragment is delivered before the first op
      tail.processAllAvailable()
      delivered.clear()
    }

    def stop(): Unit = {
      if (sink != null) sink.stop()
      if (tail != null) tail.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }

    def newCell(): (Long, Long, Double) = {
      nextKey += 1 + rnd.nextInt(3)
      genKeys += nextKey
      (nextKey, rnd.nextLong(1000000L), rnd.nextInt(100000) / 8.0)
    }
    def put(c: (Long, Long, Double)): Unit = model.put(c._1, (c._2, c._3))

    /** Distinct keys: a share rewrites existing coordinates, the rest
      * are new. */
    def batch(): Seq[(Long, Long, Double)] = {
      val old = Iterator.continually(genKeys(rnd.nextInt(genKeys.size)))
        .distinct.take(BatchRows * RewritePct / 100).toSeq
      old.map(k => (k, rnd.nextLong(1000000L), rnd.nextInt(100000) / 8.0)) ++
        (0 until BatchRows - old.size).map(_ => newCell())
    }

    def modelSum: (Long, Long, Double) = {
      var n = 0L; var sv = 0L; var sw = 0.0
      model.forEach((_, c) => { n += 1; sv += c._1; sw += c._2 })
      (n, sv, sw)
    }
  }

  private var cur: Round = _
  private var roundNo = 0
  private val commitMs = new scala.collection.mutable.ArrayBuffer[Double]()
  private var metaFilesMax, fragmentsMax = 0
  private var rewrittenBytes = 0L
  private var consolidations = 0
  private var storedPerCell = 0.0

  private def startRound(): Unit = {
    roundNo += 1
    cur = new Round(roundNo)
    cur.start()
  }

  private def finishRound(): Unit = if (cur != null) {
    metaFilesMax = math.max(metaFilesMax, metaFiles(cur))
    storedPerCell = PlanStats.diskBytes(new File(cur.uri)).toDouble / cur.model.size
    cur.stop()
    cur = null
  }

  /** Nothing to build ahead: each round, the warm-up's included,
    * stands its own pipeline up. */
  def setup(): Unit = ()

  override def warmup(): Seq[Op] = round(WarmupOps)
  def round(): Seq[Op] = round(OpsPerRound)
  def roundSeconds: Double = RoundSeconds
  override def endRound(): Unit = finishRound()
  override def startWindow(): Unit = commitMs.clear()

  private def round(n: Int): Seq[Op] = {
    finishRound()
    startRound()
    val r = cur
    (1 to n).map { i =>
      if (i % ConsolidateEvery == 0) consolidateOp(r) else ingestOp(r)
    }
  }

  private def ingestOp(r: Round): Op = {
    val cells = r.batch()
    Op("ingest", () => {
      val b = cells
      val t0 = System.nanoTime()
      tracer.span("streaming.handoff")(r.input.addData(b))
      tracer.span("streaming.commit_wait")(r.sink.processAllAvailable())
      val commit = (System.nanoTime() - t0) / 1e6
      tracer.span("streaming.tail_wait")(r.tail.processAllAvailable())
      val key = b(b.size / 2)._1
      val rows = tracer.span("v2.sql") {
        spark.sql(s"SELECT k, v, w FROM ${r.table} WHERE k = $key").collect()
      }
      (commit: java.lang.Double, key: java.lang.Long, rows)
    }, { res =>
      val (commit, key, rows) = res.asInstanceOf[(java.lang.Double, java.lang.Long, Array[Row])]
      if (tracer.active) observe(r)
      commitMs += commit
      cells.foreach(r.put)
      val got = Iterator.continually(r.delivered.poll()).takeWhile(_ != null).toSeq
      val c = r.model.get(key)
      got.sortBy(_._1) == cells.sortBy(_._1) &&
        rows.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))) ==
          Seq((key.longValue, c._1, c._2))
    })
  }

  private def consolidateOp(r: Round): Op =
    Op("consolidate", () => {
      val c = tracer.timed("sources.consolidate")(GraftArray.consolidate(spark, r.uri))
      val v = tracer.timed("sources.vacuum")(GraftArray.vacuum(spark, r.uri))
      (c, v)
    }, { _ =>
      r.tail.processAllAvailable()
      val frags = GraftArray.fragments(spark, r.uri)
      if (tracer.active) {
        consolidations += 1
        rewrittenBytes += frags.map(f =>
          PlanStats.diskBytes(new File(r.uri, s"frag_${f.id}"))).sum
        observe(r)
      }
      val (n, sv, sw) = r.modelSum
      val row = spark.sql(s"SELECT count(*), sum(v), sum(w) FROM ${r.table}").head()
      frags.size == 1 && r.delivered.isEmpty &&
        row.getLong(0) == n && row.getLong(1) == sv && row.getDouble(2) == sw
    })

  private def observe(r: Round): Unit = {
    fragmentsMax = math.max(fragmentsMax, GraftArray.fragments(spark, r.uri).size)
    metaFilesMax = math.max(metaFilesMax, metaFiles(r))
  }

  /** Metadata commits on disk: the `.json` files under `_meta`. */
  private def metaFiles(r: Round): Int =
    Option(new File(r.uri, "_meta").list()).map(_.count(_.endsWith(".json"))).getOrElse(0)

  override def close(): Unit = finishRound()

  override def extra: Map[String, Double] = Map(
    "commit_p50_ms" -> Stats.median(commitMs.toSeq),
    "commit_p90_ms" -> Stats.quantile(commitMs.toSeq, 0.9),
    "stored_bytes_per_cell" -> storedPerCell,
    "meta_files_at_round_end" -> metaFilesMax.toDouble)

  override def layer(res: RunResult): Map[String, Double] = Map(
    "wl.commit_p50_ms" -> Stats.median(commitMs.toSeq),
    "wl.stored_bytes_per_cell" -> storedPerCell,
    "core.meta_files" -> metaFilesMax.toDouble,
    "core.fragments_live_max" -> fragmentsMax.toDouble,
    "sources.consolidate_bytes_rewritten" ->
      (if (consolidations == 0) 0.0 else rewrittenBytes.toDouble / consolidations))
}

object StreamIngest {
  val BaseRows = 2000
  val BatchRows = 200
  /** Share of each batch, in percent, that rewrites existing keys. */
  val RewritePct = 20
  val OpsPerRound = 15
  val WarmupOps = 5
  val ConsolidateEvery = 5
  /** One round on the reference host, array set-up and teardown included. */
  val RoundSeconds = 8.0
}
