package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** One operation: `run` is the timed call into the program, `check`
  * compares what it returned with the generator's model and runs
  * outside the timed interval. */
final case class Op(cls: String, run: () => AnyRef, check: AnyRef => Boolean)

trait Workload {
  /** Generate the inputs and build the arrays or files under test. */
  def setup(): Unit
  /** The ops of the next round. Every round attempts the same ops. */
  def round(): Seq[Op]
  /** Ops run once before the window opens, outside it. */
  def warmup(): Seq[Op] = round()
  /** How long one round lasts on the reference host. It fixes how many
    * rounds a run of `--seconds` does, whatever the speed of the host
    * or of the code under test. */
  def roundSeconds: Double
  def endRound(): Unit = ()
  /** Called once, just before the timed window opens. */
  def startWindow(): Unit = ()
  /** Figures for the run's detail file (never printed as metrics). */
  def extra: Map[String, Double] = Map.empty
  /** Per-layer figures the workload measures itself (traced run). */
  def layer(r: RunResult): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** One attempted op: its wall interval, the CPU time of the JVM's Java
  * threads during it (Spark driver, task and streaming threads) and of
  * the whole process (JIT compiler and GC threads too). */
final case class OpRecord(cls: String, startNs: Long, endNs: Long, threadCpuNs: Long,
    processCpuNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class RunResult(ops: Seq[OpRecord], warmupFailed: Int, rounds: Int,
    startNs: Long, endNs: Long, setupS: Double, setupParts: Map[String, Double]) {
  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
  def windowS: Double = (endNs - startNs) / 1e9
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Runner {
  private def cpuNow(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of every live Java thread. The JIT compiler and GC
    * threads are not Java threads, so their time is not in it. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  private def threadCpuSince(before: Map[Long, Long]): Long =
    threadCpu().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  private def attempt(op: Op, tracer: Tracer, opId: Int): OpRecord = {
    tracer.beginOp(opId, op.cls)
    val cpu0 = cpuNow()
    val th0 = threadCpu()
    val t0 = System.nanoTime()
    val r = try Some(op.run()) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op ${op.cls} failed: $e")
        None
    }
    val t1 = System.nanoTime()
    val cpu1 = cpuNow()
    val threadNs = threadCpuSince(th0)
    tracer.endOp()
    val ok = r.exists { v =>
      try op.check(v) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check ${op.cls} threw: $e"); false
      }
    }
    if (!ok && r.isDefined) System.err.println(s"[perfbench] check ${op.cls} failed")
    OpRecord(op.cls, t0, t1, threadNs, cpu1 - cpu0, ok)
  }

  /** Rounds a run of `seconds` does: fixed by `seconds` and the
    * workload's reference round length, never by elapsed time, so two
    * commits always attempt the same ops. */
  def rounds(w: Workload, seconds: Double): Int =
    math.max(1, math.round(seconds / w.roundSeconds).toInt)

  def run(spark: SparkSession, w: Workload, seconds: Double, tracer: Tracer,
      sessionS: Double): RunResult = {
    val t0 = System.nanoTime()
    w.setup()
    val buildS = (System.nanoTime() - t0) / 1e9
    // warm-up outside the window (JIT, generated code, lazily built
    // artifacts), checked like any other op
    val tw = System.nanoTime()
    var warmupFailed = 0
    w.warmup().foreach { op =>
      if (!attempt(op, tracer, 0).ok) warmupFailed += 1
    }
    w.endRound()
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + buildS + warmupS

    System.gc()
    w.startWindow()
    tracer.openWindow()
    val records = new ArrayBuffer[OpRecord]()
    val n = rounds(w, seconds)
    val start = System.nanoTime()
    var opId = 0
    (1 to n).foreach { _ =>
      w.round().foreach { op =>
        opId += 1
        records += attempt(op, tracer, opId)
      }
      w.endRound()
    }
    val end = System.nanoTime()
    tracer.closeWindow()
    RunResult(records.toSeq, warmupFailed, n, start, end, setupS,
      Map("session_s" -> sessionS, "build_s" -> buildS, "warmup_s" -> warmupS))
  }
}
