package perfbench

import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** `pipeline-jobs`: round-robin over the multi-job operators, each one
  * op, over documents, embeddings and orders generated from the seed
  * with the sizes and distributions measured on the project's smallest
  * test-data scale (README, "pipeline-jobs inputs").
  * The first timed result of each query is written out and checked
  * against DuckDB running `SparkEntry.oracleSql` over the same parquet
  * after the JVM exits; every later result must equal it. */
final class PipelineJobs(spark: SparkSession, seed: Long, dirs: RunDirs, tracer: Tracer)
    extends Workload {
  import PipelineJobs._
  import spark.implicits._

  private def dataDir = dirs.inputs.getPath
  private val first = scala.collection.mutable.Map.empty[String, Seq[Row]]
  private var inWindow = false
  private var artifactMs = 0.0

  def setup(): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    def shuffled[T](xs: Seq[T]): Seq[T] = new scala.util.Random(rnd.nextLong()).shuffle(xs)

    // documents: texts of 10-99 words over the vocabulary; NearCopies
    // of them are near-copies of another document (before or after
    // them): its text with one trailing "dup" token for the source's
    // first copy, two for its second, and so on. One copy in eight goes
    // to a document that was copied already.
    val texts = Array.fill(Docs)(Seq.fill(10 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.size))))
    val order = shuffled(0 until Docs)
    val (copies, bases) = order.splitAt(NearCopies)
    val copiesOf = new scala.collection.mutable.LinkedHashMap[Int, Int]()
    copies.foreach { c =>
      val b = if (copiesOf.nonEmpty && rnd.nextInt(8) == 0) copiesOf.keys.toSeq(rnd.nextInt(copiesOf.size))
              else bases(rnd.nextInt(bases.size))
      copiesOf(b) = copiesOf.getOrElse(b, 0) + 1
      texts(c) = texts(b) ++ Seq.fill(copiesOf(b))(Dup)
    }
    texts.toSeq.zipWithIndex.map { case (ws, i) =>
      val t = ws.mkString(" ")
      val u = rnd.nextDouble()
      val lang = if (u < 0.4) "en" else OtherLangs(((u - 0.4) / 0.15).toInt)
      (i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dataDir/documents.parquet")

    // embeddings: 64-d isotropic gaussian directions of unit length,
    // labels 0-9 independent of direction
    (0 until Vecs).map { i =>
      val g = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      (i.toLong, g.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dataDir/embeddings.parquet")

    // orders: the measured orders-per-customer counts, dealt to the
    // customers in seeded order; the longest chain goes to a customer
    // sq5 walks (custkey < 100), so its recursion depth is the same
    // for every seed
    val counts = shuffled(OrdersPerCustomer).toArray
    val deepest = counts.indexOf(counts.max)
    if (deepest >= 100) {
      val j = rnd.nextInt(100); counts(deepest) = counts(j); counts(j) = OrdersPerCustomer.max
    }
    val custOf = shuffled(counts.indices.flatMap(c => Seq.fill(counts(c))(c.toLong)))
    custOf.zipWithIndex.map { case (c, i) =>
      (i.toLong, c, Status(rnd.nextInt(Status.size)),
        (100000L + rnd.nextLong(49900001L)) / 100.0,
        FirstDay + rnd.nextLong(Days + 1) * 86400L, Priority(rnd.nextInt(Priority.size)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "secs", "o_orderpriority")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        timestamp_seconds(col("secs")).as("o_orderdate"), col("o_orderpriority"))
      .coalesce(1).write.parquet(s"$dataDir/orders.parquet")
  }

  def roundSeconds: Double = RoundSeconds

  override def startWindow(): Unit = {
    artifactMs = graft.core.Artifacts.drainBuildRecords().filter(_.built).map(_.ms).sum.toDouble
    inWindow = true
    // the oracle's SQL, and where its inputs are, for the DuckDB check
    Json.write(new File(dirs.results, "oracle.json"), Map("inputs" -> dataDir,
      "queries" -> Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
  }

  def round(): Seq[Op] = Queries.map { q =>
    Op(q, () => tracer.span(s"operators.$q") {
      val df = graft.SparkEntry.queries(q)(spark, dataDir)
      (df.collect().toSeq, df.schema)
    }, { r =>
      val (rows, schema) = r.asInstanceOf[(Seq[Row], StructType)]
      if (!inWindow) rows.nonEmpty
      else first.get(q) match {
        case Some(want) => rows == want
        case None =>
          first(q) = rows
          spark.createDataFrame(rows.asJava, schema).coalesce(1)
            .write.parquet(new File(dirs.results, q).getPath)
          rows.nonEmpty
      }
    })
  }

  override def layer(r: RunResult): Map[String, Double] = {
    val cls = Json.classFigures(r)
    val jobs = tracer.jobsPerClass
    Queries.flatMap(q => Seq(s"operators.$q.ms" -> cls.getOrElse(s"$q.p50_ms", 0.0),
      s"operators.$q.jobs" -> jobs.getOrElse(q, 0.0))).toMap +
      ("operators.artifact_build_ms" -> artifactMs)
  }
}

object PipelineJobs {
  /** Two of the multi-job operators: the IVF probe sweep and the
    * MinHash pairs plus connected components that the rest of the dedup
    * family (d12, d15, x4) builds on. README, "pipeline-jobs", says why
    * the others are left out. */
  val Queries: Seq[String] = Seq("v24_probe_sweep", "d5_dup_clusters")
  /** One round on the reference host. */
  val RoundSeconds = 6.0

  // Sizes and distributions measured on the test data's smallest scale
  // (sf0.001); the README lists the measurements.
  val Docs = 500
  val NearCopies = 24
  val Vecs = 500
  /** Orders per customer, one entry per customer: 150 customers, 1500
    * orders, 2 to 18 orders each, median 10. */
  val OrdersPerCustomer: Seq[Int] = Seq(2 -> 1, 3 -> 1, 4 -> 2, 5 -> 9, 6 -> 9, 7 -> 12,
    8 -> 13, 9 -> 21, 10 -> 16, 11 -> 21, 12 -> 11, 13 -> 11, 14 -> 9, 15 -> 8, 16 -> 4,
    17 -> 1, 18 -> 1).flatMap { case (orders, customers) => Seq.fill(customers)(orders) }
  val Dup = "dup"
  val Vocab: IndexedSeq[String] = ("a agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark stream table " +
    "the value vector window").split(' ').toIndexedSeq
  val OtherLangs = IndexedSeq("zh", "de", "fr", "es")
  val Status = IndexedSeq("F", "O", "P")
  val Priority = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  /** 1995-01-01 and the days to 2001-08-01. */
  val FirstDay = 788918400L
  val Days = 2404L
}
