package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query seconds.
  *
  * Methodology (round 6): round 5's bench showed 8–12× cliffs on
  * UNCHANGED queries (t1/t2) that ran right after the streaming family
  * in alphabetical order — state-store/memory-sink churn and heap
  * pressure from one query polluting the next in a shared JVM. Two
  * defenses, both on by default:
  *
  *  1. RUN ORDER: streaming queries (st*) run LAST, so their state
  *     stores and memory sinks cannot sit on the heap while scan-speed
  *     queries are timed. Within each group order stays alphabetical.
  *  2. QUIESCE between queries: drop cached plans/tables, unload
  *     streaming state-store providers, and System.gc() — each timed
  *     query starts from a quiet heap.
  *
  * `SPARK_GRAFT_BENCH_ISOLATE=1` additionally gives EVERY query a fresh
  * `newSession()` (own catalog/temp views/conf over one SparkContext),
  * so leaked temp views or session confs cannot cross queries either.
  * Per-query GC-time deltas land in BENCH_FULL.json (`gc_ms`) to make
  * interference visible instead of guessed at.
  *
  * Methodology (round 10): back-to-back min-of-N could not absorb
  * MINUTES-scale host-load windows — three rounds running, the
  * driver's single sweep manufactured phantom movers (r8 v5 6.31 s,
  * r9 t12/p7b/v8) that committed snapshots on byte-identical code
  * never reproduced. The suite therefore runs as TWO INTERLEAVED
  * PASSES (full ordered sweep, then a second full sweep): a query's
  * two measurements are separated by the whole suite, so a transient
  * load window can inflate at most one of them, and the published
  * per-query value is the min across passes (each pass itself
  * min-of-ITERS). The raw per-pass values land in BENCH_FULL.json
  * (`passes`) for auditability. `SPARK_GRAFT_BENCH_PASSES` overrides
  * (1 = the old single-sweep behavior).
  *
  * Usage: `runMain graft.Bench [q1,q2,...]` — the optional filter
  * times the named queries only. Env: `SPARK_GRAFT_SF_DIR`,
  * `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_BENCH_ITERS`/`_PASSES` (repeats),
  * `GRAFT_PLANS_DIR` (dump formatted plans to `plans/<dir>/`).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores
    val isolate = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").contains("1")
    // optional 1st arg: comma-separated query names, to time a few
    // queries without the whole suite (repeats: ITERS/PASSES below)
    val filter = args.headOption
    val keep = SparkEntry.nameFilter(filter)
    val root = GraftSession.local(cpus)
    // JVM/codegen warmup outside the timed loop (driver measures
    // steady-state query cost, not classloading)
    try SparkEntry.queries.get("a3_groupby_q1")
      .foreach(_(root, sfDir).count())
    catch { case _: Throwable => () }

    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    /** Host-speed calibration: a fixed integer loop of `iters` steps,
      * timed in ms. Round 10 measured effective per-core speed
      * fluctuating ~2× under hypervisor steal across same-day runs on
      * identical code; recording the probe before pass 1 and after the
      * last pass (400M steps) makes a polluted window VISIBLE in the
      * artifact instead of reading as a code regression. Compare
      * `calib_ms` across artifacts before believing any cross-run
      * mover. A ~200 ms micro-probe (300M steps) runs INTERLEAVED
      * between query families (every 25 queries): the bracketing
      * probes bound a run but cannot attribute a MID-RUN steal window
      * (round 11's 16:35 anomaly inflated 15 queries the brackets
      * missed). The series lands in BENCH_FULL.json so a mover is
      * judged against the probe segment it ran inside. */
    def spinMs(iters: Long): Long = {
      val t0 = System.nanoTime()
      var s = 0L
      var i = 0L
      while (i < iters) { s += i * i; i += 1 }
      if (s == 42L) println("") // keep the loop un-eliminable
      (System.nanoTime() - t0) / 1000000L
    }
    def calibMs(): Long = spinMs(400000000L)
    def microCalibMs(): Long = spinMs(300000000L)
    microCalibMs() // JIT-compile the probe before the first timed use
    val calibSeries =
      new scala.collection.mutable.ArrayBuffer[(String, Long)]()
    /** The probe that matches the EXECUTION regime: `cpus` parallel
      * copies of the same loop, wall-clock ms until all finish. Round
      * 10's single-threaded probe under-detected parallel steal — the
      * regime that actually inflates local[32] numbers (measured:
      * single-core loop 3.25 s while 16 parallel copies ran 1.5–2.5 s
      * each). With idle cores the parallel figure ≈ the single figure;
      * a parallel/single ratio well above 1 means the host cannot
      * actually run `cpus` threads at single-thread speed during this
      * window, and every local[32] query time is inflated with it. */
    def calibParMs(): Long = {
      val n = math.max(1, cpus)
      val t0 = System.nanoTime()
      val ts = (1 to n).map { _ =>
        val t = new Thread(() => { calibMs(); () })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1000000L
    }
    /** Quiet the JVM between timed queries: clear the SQL cache, unload
      * streaming state-store providers (their maintenance threads and
      * loaded maps survive query.stop()), and collect garbage so one
      * query's heap debris is not the next query's GC pause. */
    def quiesce(s: SparkSession): Unit = {
      try s.sharedState.cacheManager.clearCache()
      catch { case _: Throwable => () }
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case _: Throwable => () }
      System.gc()
    }

    // min-of-N per query: single-run timings at the 0.2–1.5 s scale are
    // dominated by JIT/GC noise (round-2 "regressions" were all
    // plan-identical noise); the minimum is the stable cost estimate.
    // 2 iters × 2 interleaved passes ≈ the old 3-iter budget while
    // adding the minutes-scale decorrelation the passes exist for.
    // PASSES=1 restores the pre-round-10 single-sweep protocol in
    // full: the iters default flips back to 3 with it, so passes=1
    // alone reproduces the old min-of-3 sweep (set ITERS explicitly
    // to override either way).
    val jstr = SparkEntry.jsonString _
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val iters = sys.env.get("SPARK_GRAFT_BENCH_ITERS").map(_.toInt)
      .getOrElse(if (passes == 1) 3 else 2)
    // streaming family last — alphabetical within each group
    val ordered = SparkEntry.queries.filter(q => keep(q._1)).toSeq
      .sortBy { case (name, _) => (if (name.startsWith("st")) 1 else 0, name) }
    // one full interleaved sweep of the ordered suite
    def sweep(passNo: Int): IndexedSeq[(String, Option[Double], Long, Option[String], Int)] =
      ordered.zipWithIndex.map { case ((name, fn), qi) =>
        if (qi % 25 == 0)
          calibSeries += ((s"p$passNo:q$qi", microCalibMs()))
        val session = if (isolate) root.newSession() else root
        quiesce(session)
        val gc0 = gcMillis
        val times = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          val err = try { fn(session, sfDir).count(); None }
            catch { case e: Throwable =>
              Some(s"${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").take(200)) }
          (err, (System.nanoTime() - t0) / 1e9)
        }
        val gcMs = gcMillis - gc0
        // only successful runs count — a failed iteration must not
        // masquerade as a fast one. A query whose EVERY iteration failed
        // gets no time at all: err is recorded, the time (which is
        // time-to-crash, not query cost) is null and excluded from the
        // total, so a crash can never read as a round-over-round speedup.
        val good = times.collect { case (None, t) => t }
        val sec: Option[Double] = if (good.nonEmpty) Some(good.min) else None
        // keep the LAST error even when some iterations succeeded — a
        // flaky query (1 success + 2 crashes) must stay distinguishable
        // from a clean one in the artifact
        val err: Option[String] = times.reverse.collectFirst {
          case (Some(e), _) => e }
        (name, sec, gcMs, err, times.count(_._1.isDefined))
      }.toIndexedSeq
    // GRAFT_PLANS_DIR set: each selected query's formatted physical
    // plan goes to plans/<dir>/<query>.txt, before the timed passes
    sys.env.get("GRAFT_PLANS_DIR").foreach { dir =>
      val out = java.nio.file.Paths.get("plans", dir)
      java.nio.file.Files.createDirectories(out)
      ordered.foreach { case (name, fn) =>
        try java.nio.file.Files.writeString(out.resolve(s"$name.txt"),
          fn(root, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable =>
          System.err.println(s"[bench] no plan for $name: ${e.getMessage}") }
        quiesce(root)
      }
    }
    val calibBefore = calibMs()
    val calibParBefore = calibParMs()
    val perPass = (1 to passes).map(p => sweep(p))
    val calibAfter = calibMs()
    val calibParAfter = calibParMs()
    // combine: published sec = min across the interleaved passes (a
    // transient load window inflates at most one); gc/failed-iter
    // counts sum; the last error wins
    val results = ordered.indices.map { i =>
      val name = ordered(i)._1
      val runs = perPass.map(_(i))
      val secs = runs.flatMap(_._2)
      (name,
        if (secs.nonEmpty) Some(secs.min) else None,
        runs.map(_._3).sum,
        runs.reverse.flatMap(_._4).headOption,
        runs.map(_._5).sum,
        runs.map(_._2))
    }
    val failed = results.filter(_._2.isEmpty)
    val qs = results.map { case (k, v, _, _, _, _) =>
      jstr(k) + ":" + v.map(_.toString).getOrElse("null")
    }.mkString("{", ",", "}")
    // the PRINTED line is capture-window-bounded on the driver side —
    // BENCH_r10's tail truncated ~174 of 233 per-query values. 3-decimal
    // rounding (1 ms granularity; the noise floor is far above it)
    // fits the whole map; full precision plus the gc/pass audit trail
    // live in BENCH_FULL.json only.
    def d3(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val qsShort = results.map { case (k, v, _, _, _, _) =>
      jstr(k) + ":" + v.map(d3).getOrElse("null")
    }.mkString("{", ",", "}")
    val gcs = results.map { case (k, _, g, _, _, _) => jstr(k) + ":" + g }
      .mkString("{", ",", "}")
    val errs = results.map { case (k, _, _, e, _, _) =>
      jstr(k) + ":" + e.map(jstr).getOrElse("null")
    }.mkString("{", ",", "}")
    // per-query failed-iteration counts (nonzero = flaky or dead)
    val flaky = results.map { case (k, _, _, _, nf, _) => jstr(k) + ":" + nf }
      .mkString("{", ",", "}")
    // raw per-pass values (each already min-of-iters) — the audit
    // trail behind the published min
    val passRaw = results.map { case (k, _, _, _, _, ps) =>
      jstr(k) + ":[" +
        ps.map(_.map(_.toString).getOrElse("null")).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // total covers successful queries only; n_failed makes a partial
    // total impossible to mistake for a complete one
    val total = results.flatMap(_._2).sum
    val line =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec",""" +
        s""""queries":$qsShort,"n_failed":${failed.size},""" +
        s""""calib_ms":[$calibBefore,$calibAfter],""" +
        s""""calib_par_ms":[$calibParBefore,$calibParAfter],""" +
        s""""sf":${jstr(sfDir)}}"""
    println(line)
    failed.foreach { case (k, _, _, e, _, _) =>
      System.err.println(s"[bench] FAILED $k: ${e.getOrElse("?")}") }
    // stdout captures have truncated the single line mid-record in past
    // rounds; persist the complete per-query artifact alongside it
    // (with the GC attribution and methodology flags the driver's JSON
    // schema does not carry). A filtered run times a subset, so it
    // prints its lines but leaves the committed full-suite file alone.
    if (filter.isEmpty) {
      // interleaved micro-probe series (segment-attributable steal) and
      // the artifact-store ledger: which derived artifacts this run
      // BUILT (pass-1 pricing) vs found warm on disk from a prior process
      val calibSer = calibSeries.map { case (at, ms) => jstr(at) + ":" + ms }
        .mkString("{", ",", "}")
      val staged = graft.core.Artifacts.drainBuildRecords().map { b =>
        s"""{"kind":${jstr(b.kind)},"dataset":${jstr(b.dataset)},""" +
          s""""built":${b.built},"ms":${b.ms}}"""
      }.mkString("[", ",", "]")
      val full =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
          s""""err":$errs,"failed_iters":$flaky,"n_failed":${failed.size},""" +
          s""""gc_ms":$gcs,"passes":$passRaw,"n_passes":$passes,""" +
          s""""calib_ms":[$calibBefore,$calibAfter],""" +
          s""""calib_par_ms":[$calibParBefore,$calibParAfter],""" +
          s""""calib_series":$calibSer,"staged_builds":$staged,""" +
          s""""isolate":$isolate,"order":"streaming-last",""" +
          s""""sf":${jstr(sfDir)}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        (full + "\n").getBytes("UTF-8"))
    }
    root.stop()
    // The perf driver captures a 2000-char TAIL of stdout and parses the
    // JSON it finds there (the committed BENCH_rNN.json artifacts carry
    // exactly 2000 tail chars). The full contract line above (~6 kB for
    // 237 queries) can never fit that window at any rounding, so the
    // LAST line — printed after stop() so no Spark shutdown chatter can
    // trail it, and raw at column 0 via the build's StdoutOutput — is a
    // complete JSON record sized to the capture window: the same totals
    // plus the TOP SLOWEST queries by full name, as many as fit a
    // 1900-char budget (~55 of 237 — covering the bulk of total time;
    // the complete map lives in the full line above and BENCH_FULL.json,
    // committed). "tail":true marks the record; "queries_top" says how
    // many of n_queries the map carries so a truncated view can never
    // read as the whole suite.
    val tailBudget = 1900
    val scaffoldOf = (qmap: String, topN: Int) =>
      s"""{"metric":"total","tail":true,"value":${d3(total)},"unit":"sec",""" +
        s""""queries":$qmap,"queries_top":$topN,""" +
        s""""n_queries":${results.size},"n_failed":${failed.size},""" +
        s""""queries_in":"BENCH_FULL.json",""" +
        s""""calib_ms":[$calibBefore,$calibAfter],""" +
        s""""calib_par_ms":[$calibParBefore,$calibParAfter],""" +
        s""""sf":${jstr(sfDir)}}"""
    val bySec = results.flatMap { case (k, v, _, _, _, _) => v.map(k -> _) }
      .sortBy { case (k, v) => (-v, k) }
    val entries = bySec.map { case (k, v) => jstr(k) + ":" + d3(v) }
    val baseLen = scaffoldOf("{}", results.size).length
    var used = 0
    var len = baseLen
    while (used < entries.length &&
        len + entries(used).length + 1 <= tailBudget) {
      len += entries(used).length + 1
      used += 1
    }
    val topMap = entries.take(used).mkString("{", ",", "}")
    println(scaffoldOf(topMap, used))
    System.out.flush()
    // a bench run with any fully-failed query is itself a failure
    if (failed.nonEmpty) sys.exit(1)
  }
}
