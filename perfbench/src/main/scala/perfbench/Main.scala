package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --run-dir D --out F`. Builds a private session over `D`, sets the
  * workload up, warms it up, runs a fixed number of whole rounds of its
  * ops (`Runner.rounds`: about `S` seconds on the reference host) in one
  * closed loop, checks every result against the generator's model, and
  * writes the run's figures as JSON to `F`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, runDir: File, out: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      new File(need("--run-dir")), new File(need("--out")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val dirs = RunDirs(args.runDir)
    val tracer = new Tracer(args.trace)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.warehouse.dir", dirs.warehouse.getPath)
      .config("spark.local.dir", dirs.sparkLocal.getPath)
      .config("spark.sql.streaming.checkpointLocation", dirs.checkpoints.getPath)
      .config("spark.graft.artifacts.dir", dirs.artifacts.getPath)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", dirs.arrays.getPath)
    if (args.trace) builder.config("spark.hadoop.fs.file.impl", classOf[TimedLocalFS].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w: Workload = args.workload match {
      case "scan-pushdown" => new ScanPushdown(spark, args.seed, dirs, tracer)
      case "stream-ingest" => new StreamIngest(spark, args.seed, dirs, tracer)
      case "pipeline-jobs" => new PipelineJobs(spark, args.seed, dirs, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val res = Runner.run(spark, w, args.seconds, tracer, sessionS)
    w.close()
    spark.stop()
    val e2e = Json.endToEnd(res)
    val layer =
      if (!args.trace) Map.empty[String, Double]
      else tracer.layerMetrics(res) ++ tracer.meanMs ++ w.layer(res) ++
        Seq("ops_per_s", "op_p50_ms", "op_p90_ms").map(k => s"wl.$k" -> e2e(k))
    Json.writeRun(args.out, res, layer, w.extra, tracer.spanList)
  }
}

/** Private per-run directories; the Python wrapper deletes the run
  * directory after the JVM exits. */
final case class RunDirs(root: File) {
  private def sub(n: String) = { val f = new File(root, n); f.mkdirs(); f }
  val warehouse: File = sub("warehouse")
  val sparkLocal: File = sub("spark-local")
  val checkpoints: File = sub("checkpoints")
  val artifacts: File = sub("artifacts")
  val arrays: File = sub("arrays")
  val inputs: File = sub("inputs")
  val results: File = sub("results")
}
