package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long)

/** The traced run's recorder. Spans are taken around the benchmark's
  * own calls into each layer (nothing is added inside the program);
  * Spark, query-execution and streaming listeners and the timing file
  * system give the counters at the same boundaries. Everything stays
  * in memory and is summarised after the session stops, when every
  * listener event has been delivered. With tracing off nothing is
  * installed and `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  import Tracer._
  private val spans = new ArrayBuffer[Span]()
  private var stack: List[(Int, String, Long, Long)] = Nil
  private var nextId = 0
  private var curOp = 0
  private var inWindow = false

  private val jobs = new ArrayBuffer[(Long, Long)]() // start, end (epoch ms)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stagesDone = new ArrayBuffer[Long]()
  private val tasks = new ArrayBuffer[TaskRec]()
  private val qes = new ArrayBuffer[QeRec]()
  private val progress = new ArrayBuffer[Progress]()

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
        jobs.synchronized { jobs += ((t0, e.time)) }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stagesDone.synchronized {
          stagesDone += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.synchronized {
          tasks += TaskRec(e.taskInfo.finishTime, m.executorRunTime,
            m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val ph = qe.tracker.phases
        def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        val st = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
        qes.synchronized { qes += QeRec(st, d("analysis"), d("optimization"), d("planning")) }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val ms = java.time.Instant.parse(p.timestamp).toEpochMilli
        progress.synchronized {
          progress += Progress(Option(p.name).getOrElse(""), ms, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
      }
    })
  }

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compilesAtOpen, compilesInWindow = 0L
  def openWindow(): Unit = {
    inWindow = true
    TimedLocalFS.reset()
    compilesAtOpen = compiles
  }
  def closeWindow(): Unit = {
    inWindow = false
    fsAtClose = TimedLocalFS.snapshot()
    compilesInWindow = compiles - compilesAtOpen
  }
  private var fsAtClose: Map[String, Long] = Map.empty

  def active: Boolean = enabled && inWindow

  private def push(name: String): Unit = {
    nextId += 1
    stack = (nextId, name, System.nanoTime(), System.currentTimeMillis()) :: stack
  }
  private def pop(): Unit = {
    val (id, name, t0, m0) = stack.head
    stack = stack.tail
    val parent = stack.headOption.map(_._1).getOrElse(0)
    spans += Span(id, parent, curOp, name, t0, System.nanoTime(), m0,
      System.currentTimeMillis())
  }

  /** Record a span named `name` around `f` (traced window only). */
  def span[T](name: String)(f: => T): T =
    if (!active) f else { push(name); try f finally pop() }

  private val timings = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  /** Like `span`, and also accumulate the call's time under `name` in
    * traced and untraced runs, window or not (set-up calls count). */
  def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try span(name)(f) finally {
      val d = System.nanoTime() - t0
      timings.merge(name, (1L, d), (a, b) => (a._1 + b._1, a._2 + b._2))
    }
  }
  /** Mean ms per `timed` call, by name. */
  def meanMs: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    timings.asScala.map { case (k, (n, ns)) => k + "_ms" -> ns / 1e6 / n }.toMap
  }

  def beginOp(id: Int, cls: String): Unit =
    if (active) { curOp = id; push("op." + cls); TimedLocalFS.counting = true }
  def endOp(): Unit =
    if (active && stack.nonEmpty) { TimedLocalFS.counting = false; pop() }

  def spanList: Seq[Span] = spans.toSeq

  /** Length of the union of `ivs` clipped to [lo, hi], in ms. */
  private def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-layer figures over the timed window. */
  def layerMetrics(r: RunResult): Map[String, Double] = {
    val n = math.max(1, r.attempted).toDouble
    // only what happens while an op runs counts: checks run between ops
    val opSpans = spans.filter(_.name.startsWith("op."))
    def inOp(t: Long) = opSpans.exists(s => t >= s.startMs && t <= s.endMs)
    val allJobs = jobs.synchronized(jobs.toSeq)
    val js = allJobs.filter(j => inOp(j._1))
    val ts = tasks.synchronized(tasks.toSeq).filter(t => inOp(t.endMs))
    val qs = qes.synchronized(qes.toSeq).filter(q => inOp(q.startMs))
    val ps = progress.synchronized(progress.toSeq).filter(p => inOp(p.ms))
    val stages: Double = stagesDone.synchronized(stagesDone.toSeq).count(inOp).toDouble
    val driverMs = opSpans.map { s =>
      (s.endMs - s.startMs) - unionMs(allJobs, s.startMs, s.endMs)
    }.sum
    // the sink query is started by the program and carries no name
    def tail(p: Progress) = p.name.startsWith("tail")
    def sink(p: Progress) = !tail(p)
    def meanDur(xs: Seq[Progress], k: String) =
      if (xs.isEmpty) 0.0 else xs.map(_.durations.getOrElse(k, 0L)).sum.toDouble / xs.size
    val sinkP = ps.filter(p => sink(p) && p.rows > 0)
    val tailP = ps.filter(p => tail(p) && p.rows > 0)
    // self time: a span's duration minus what its child spans cover;
    // Spark job intervals count as children of the spans they fall in
    val byParent = spans.groupBy(_.parent)
    val selfMs = spans.groupBy(s => layerOf(s.name)).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).toSeq.map(k => (k.startMs, k.endMs))
        val cover =
          if (kids.nonEmpty) unionMs(kids, s.startMs, s.endMs)
          else unionMs(allJobs, s.startMs, s.endMs)
        (s.endMs - s.startMs) - cover
      }.sum / n
    }
    val jobSelf = opSpans.map(s => unionMs(allJobs, s.startMs, s.endMs)).sum / n
    Map(
      "spark.jobs_per_op" -> js.size / n,
      "spark.stages_per_op" -> stages / n,
      "spark.tasks_per_op" -> ts.size / n,
      "spark.driver_ms_per_op" -> driverMs / n,
      "spark.executor_run_ms_per_op" -> ts.map(_.runMs).sum / n,
      "spark.executor_cpu_ms_per_op" -> ts.map(_.cpuNs).sum / 1e6 / n,
      "spark.gc_ms_per_op" -> ts.map(_.gcMs).sum / n,
      "spark.codegen_compiles_per_op" -> compilesInWindow / n,
      "spark.shuffle_bytes_per_op" -> ts.map(_.shuffleBytes).sum / n,
      "spark.input_bytes_per_op" -> ts.map(_.inBytes).sum / n,
      "spark.output_bytes_per_op" -> ts.map(_.outBytes).sum / n,
      "v2.analyze_ms" -> qs.map(_.analysis).sum / n,
      "v2.optimize_ms" -> qs.map(_.optimization).sum / n,
      "v2.plan_ms" -> qs.map(_.planning).sum / n,
      "core.fs_list_per_op" -> fsAtClose.getOrElse("list", 0L) / n,
      "core.fs_open_per_op" -> fsAtClose.getOrElse("open", 0L) / n,
      "core.fs_create_per_op" -> fsAtClose.getOrElse("create", 0L) / n,
      "core.fs_rename_per_op" -> fsAtClose.getOrElse("rename", 0L) / n,
      "core.fs_delete_per_op" -> fsAtClose.getOrElse("delete", 0L) / n,
      "core.fs_stat_per_op" -> fsAtClose.getOrElse("stat", 0L) / n,
      "core.fs_ms_per_op" -> fsAtClose.getOrElse("ns", 0L) / 1e6 / n,
      "streaming.sink.add_batch_ms" -> meanDur(sinkP, "addBatch"),
      "streaming.sink.wal_commit_ms" -> meanDur(sinkP, "walCommit"),
      "streaming.source.latest_offset_ms" -> meanDur(tailP, "latestOffset"),
      // Spark reports no getBatch time for DSv2 sources: the tail's
      // addBatch is where it reads the admitted fragments
      "streaming.source.read_batch_ms" -> meanDur(tailP, "addBatch"),
      "streaming.source.rows_per_batch" ->
        (if (tailP.isEmpty) 0.0 else tailP.map(_.rows).sum.toDouble / tailP.size),
      "self.spark_jobs_ms_per_op" -> jobSelf
    ) ++ Tracer.Layers.map(l => s"self.${l}_ms_per_op" -> selfMs.getOrElse(l, 0.0))
  }

  /** Spark jobs started inside each op, averaged per op class. */
  def jobsPerClass: Map[String, Double] = {
    val starts = jobs.synchronized(jobs.toSeq).map(_._1)
    spans.filter(_.name.startsWith("op.")).groupBy(_.name.stripPrefix("op.")).map { case (c, ss) =>
      c -> ss.map(s => starts.count(t => t >= s.startMs && t <= s.endMs)).sum.toDouble / ss.size
    }
  }

  private def layerOf(span: String): String =
    Tracer.Layers.find(l => span.startsWith(l + ".")).getOrElse("bench")
}

object Tracer {
  private final case class TaskRec(endMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleBytes: Long, inBytes: Long, outBytes: Long)
  private final case class QeRec(startMs: Long, analysis: Long, optimization: Long,
      planning: Long)
  private final case class Progress(name: String, ms: Long, rows: Long,
      durations: Map[String, Long])

  /** Span name prefixes, one per layer the benchmark calls into; the
    * op's root span (`op.<class>`) counts as the benchmark's own. */
  val Layers: Seq[String] = Seq("bench", "v2", "sources", "streaming", "operators")
}

/** Local file system that counts and times the calls graft's storage
  * layer makes (registered as `fs.file.impl` in the traced run only).
  * Only the outermost call on a thread is counted, so a call that
  * re-enters the file system is not counted twice. */
class TimedLocalFS extends LocalFileSystem {
  import TimedLocalFS._
  private def timed[T](kind: String)(f: => T): T = {
    val d = depth.get()
    if (d > 0 || !counting) f
    else {
      depth.set(1)
      val t0 = System.nanoTime()
      try f finally {
        counters(kind).incrementAndGet()
        counters("ns").addAndGet(System.nanoTime() - t0)
        depth.set(0)
      }
    }
  }
  override def listStatus(f: Path): Array[FileStatus] = timed("list")(super.listStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    timed("open")(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    timed("create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = timed("rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    timed("delete")(super.delete(f, recursive))
  override def getFileStatus(f: Path): FileStatus = timed("stat")(super.getFileStatus(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    timed("mkdirs")(super.mkdirs(f, permission))
}

object TimedLocalFS {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  /** Calls are counted only while an op runs. */
  @volatile var counting = false
  private val counters: Map[String, AtomicLong] =
    Seq("list", "open", "create", "rename", "delete", "stat", "mkdirs", "ns")
      .map(_ -> new AtomicLong()).toMap
  def reset(): Unit = counters.values.foreach(_.set(0L))
  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }
}
