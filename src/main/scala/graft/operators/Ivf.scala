package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Artifacts
import graft.functions.expressions.TopK

/** IVF coarse quantization for ANN:
  *
  *  - deterministic init: centroids = the k lowest-id vectors
  *    (seedless, stable — `Date.now`-free by design)
  *  - Lloyd iterations: assignment is a single codegen'd argmax-dot
  *    against the driver-side centroid table ([[TopK.argMaxDot]]) —
  *    zero row inflation, zero exchange; per-cluster means reduce
  *    map-side, and the k×dim collect cuts each iteration's lineage
  *  - one [[Model]] per corpus: the k = 16, 3-round fit and its
  *    tightness persist in [[Artifacts]] keyed by the corpus file's
  *    signature, shared by v4, v15, v16, v18, v19 and v24; consumers
  *    route with [[assignOnce]], the projection `fit` returns, so a
  *    stored model routes bit-identically to an in-process one
  *  - search: probe the `nprobe` centroids nearest to the query and
  *    scan only their inverted lists
  *
  * At 100 TB the corpus stays partitioned by cluster (the inverted
  * lists ARE the partitioning); centroids are always driver-side tiny.
  */
object Ivf {
  val K = 16
  val Iters = 3

  /** Fitted centroids plus the corpus tightness
    * ([[Similarity.corpusTightnessMicro]]) the default dials use. */
  final case class Model(centroids: Array[Array[Float]],
      tightnessMicro: Long)

  /** In-process model: one [[fit]] and its tightness pass. */
  def fitModel(corpus: DataFrame): Model = {
    val (assigned, centroids) = fit(corpus, K, Iters)
    Model(centroids, Similarity.corpusTightnessMicro(assigned, centroids))
  }

  /** Dataset `d`'s persisted model of its embeddings: [[fitModel]] once
    * per corpus file signature, then read back (exact float round-trip)
    * with no Spark job — and no DataFrame, whose schema read runs one. */
  def model(s: SparkSession, d: String): Model = {
    val dir = Artifacts.resolveOrBuild(s, "ivf_model", d,
      s"${corpusSig(d)}|k=$K|iters=$Iters|v1") { tmp =>
      val m = fitModel(graft.Tables.load(s, d, "embeddings"))
      Artifacts.writeFloatMatrix(tmp, "centroids", m.centroids)
      Files.writeString(Paths.get(tmp, "tightness_micro"),
        m.tightnessMicro.toString)
    }
    Model(Artifacts.readFloatMatrix(dir, "centroids"),
      Files.readString(Paths.get(dir, "tightness_micro")).toLong)
  }

  /** Dataset `d`'s embeddings-file signature: the artifact key part. */
  private[operators] def corpusSig(d: String): String =
    graft.Tables.fileSig(s"$d/embeddings.parquet")

  /** Corpus + `cluster` column, plus the final centroid table
    * (driver-side k×dim floats — kilobytes). */
  def fit(corpus: DataFrame, k: Int, iters: Int)
      : (DataFrame, Array[Array[Float]]) = {
    // deterministic init: the k lowest-id vectors
    var centroids: Array[Array[Float]] =
      corpus.orderBy("vec_id").limit(k)
        .select(col("embedding").cast("array<float>"))
        .collect().map(_.getSeq[Float](0).toArray)

    val dim = centroids.headOption.map(_.length).getOrElse(0)
    for (_ <- 0 until iters) {
      // per-cluster mean via ONE vector-sum aggregate over the
      // un-inflated corpus: partial states are k×(dim+1) doubles per
      // map partition, one exchange per iteration, k result rows. The
      // former posexplode form generated corpus×dim rows before the
      // partial agg and paid a SECOND shuffle (groupBy(cid)
      // collect_list) just to reassemble the vector it had exploded;
      // the dim-separate avg-column form fixed the dataflow but paid
      // Catalyst analysis per column per iteration (measured: v11's
      // six fits +1.3 s).
      val means = assignOnce(corpus, centroids)
        .groupBy(col("cluster").as("cid"))
        .agg(TopK.vecSumCount(col("embedding"), dim).as("sc"))
        .collect() // ≤ k rows — cuts the lineage
      val next = centroids.map(_.clone())
      // clusters that lost every member keep their previous centroid
      means.foreach { r =>
        val sc = r.getSeq[Double](1)
        val n = sc(dim)
        if (n > 0)
          next(r.getInt(0)) = Array.tabulate(dim)(i => (sc(i) / n).toFloat)
      }
      centroids = next
    }
    (assignOnce(corpus, centroids), centroids)
  }

  /** One assignment pass: cluster = argmax over centroids of the dot
    * product, computed per-row inside WholeStageCodegen (ties → lowest
    * centroid id, matching `ORDER BY sim DESC, cid ASC`). */
  private[graft] def assignOnce(corpus: DataFrame,
      centroids: Array[Array[Float]]): DataFrame =
    corpus.withColumn("cluster", TopK.argMaxDot(col("embedding"), centroids))

  /** For each query row (query_id, qv), the corpus rows in its `nprobe`
    * nearest clusters. The probe list is computed per query row by the
    * same kernel (no crossJoin/window); the tiny query×probe table is
    * broadcast against the partitioned corpus. */
  def probes(queries: DataFrame, assigned: DataFrame,
      centroids: Array[Array[Float]], nprobe: Int): DataFrame = {
    val probeSet = queries
      .withColumn("probe_cluster",
        explode(TopK.argTopDot(col("qv"), centroids, nprobe)))
      .select(col("query_id"), col("qv"), col("probe_cluster"))
    assigned.join(broadcast(probeSet),
      col("probe_cluster") === assigned("cluster"))
  }
}
