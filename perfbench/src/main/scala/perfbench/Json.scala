package perfbench

import java.io.File
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Writes one run's figures for the Python wrapper: the end-to-end
  * metrics, the per-layer metrics (traced run), per-class latencies,
  * drift and set-up details, every op's time and the spans of the
  * traced run. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(out: File, value: Any): Unit = mapper.writeValue(out, value)

  private def finite(m: Map[String, Double]): Map[String, Double] =
    m.map { case (k, v) => k -> (if (v.isNaN || v.isInfinite) 0.0 else v) }

  /** Per op class: count, median and p90 latency in ms. */
  def classFigures(r: RunResult): Map[String, Double] =
    r.ops.groupBy(_.cls).flatMap { case (c, os) =>
      val ms = os.map(_.ms)
      Map(s"$c.n" -> ms.size.toDouble, s"$c.p50_ms" -> Stats.median(ms),
        s"$c.p90_ms" -> Stats.quantile(ms, 0.9))
    }

  /** Ops per second of wall time between `fromNs` and `toNs`. */
  private def rate(n: Int, fromNs: Long, toNs: Long): Double = n / ((toNs - fromNs) / 1e9)

  /** What a user of the program sees, whatever the workload. */
  def endToEnd(r: RunResult): Map[String, Double] = Map(
    "setup_s" -> r.setupS,
    "ops_per_s" -> rate(r.attempted, r.startNs, r.endNs),
    "op_p50_ms" -> Stats.median(r.ops.map(_.ms)),
    "op_p90_ms" -> Stats.quantile(r.ops.map(_.ms), 0.9),
    "cpu_ms_per_op" -> r.ops.map(_.threadCpuNs).sum / 1e6 / r.ops.size,
    "process_cpu_ms_per_op" -> r.ops.map(_.processCpuNs).sum / 1e6 / r.ops.size)

  /** Throughput of the first and the second half of the window's ops,
    * the window's length and the number of rounds. */
  def drift(r: RunResult): Map[String, Double] = {
    val h = r.ops.size / 2
    Map("first_half_ops_per_s" -> rate(h, r.startNs, r.ops(h - 1).endNs),
      "second_half_ops_per_s" -> rate(r.ops.size - h, r.ops(h).startNs, r.endNs),
      "window_s" -> r.windowS,
      "rounds" -> r.rounds.toDouble)
  }

  def writeRun(out: File, r: RunResult, layer: Map[String, Double],
      extra: Map[String, Double], spans: Seq[Span]): Unit =
    write(out, Map(
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "warmup_failed" -> r.warmupFailed,
      "end_to_end" -> finite(endToEnd(r)),
      "per_layer" -> finite(layer),
      "classes" -> finite(classFigures(r)),
      "detail" -> finite(drift(r) ++ r.setupParts ++ extra),
      "ops" -> r.ops.map(o => Seq(o.cls, o.ms)),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "dur_us" -> (s.endNs - s.startNs) / 1000))))
}
