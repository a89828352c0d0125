package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.expressions.{PqKernels, TopK}

/** Product quantization for ANN — the memory-compression scale path
  * past SQ8: each 64-float vector stores as M=8 code bytes (32× less
  * than float32), and query scoring is M lookup-table adds per row
  * (ADC), never touching the float vector.
  *
  * Training (per-subspace Lloyd k-means, L2):
  *  - codebooks fit on a DETERMINISTIC bounded sample — the
  *    `TrainCap` lowest rows by md5(vec_id) rank, a k-bounded
  *    TakeOrdered (map-side heaps; at 100 TB training never scans
  *    more than the cap, which is how PQ codebooks are fit in
  *    practice — quantizer quality saturates long before corpus size)
  *  - the sample is localCheckpoint'ed so Lloyd iterations re-read a
  *    33 MB materialized table, not the corpus
  *  - assignment reuses the codegen'd [[TopK.argMaxDot]] kernel via
  *    the L2 augmentation argmin‖x−c‖² = argmax(c·x − ‖c‖²/2) on
  *    subvectors extended with a constant 1; per-(subspace, code)
  *    means reduce map-side and collect ≤ M·K·subDim rows
  *
  * Search: one corpus pass computes all Q query scores per row from
  * broadcast M·K-float LUTs ([[PqKernels.pqAdc]]), a bounded heap
  * keeps the per-query oversampled candidate set, and only candidates
  * rerank against exact float vectors — same oversample+rerank
  * contract as SQ8, with 8× less candidate-generation I/O.
  */
object Pq {
  val M = 8
  val K = 16
  val SubDim = 8
  val Iters = 3
  val TrainCap = 131072

  /** Dataset `d`'s codebooks, persisted beside its [[Ivf.model]] (same
    * corpus signature key) so v9 and v15 train once per corpus, not
    * once per call. */
  def codebooks(s: SparkSession, d: String): Array[Array[Float]] =
    graft.core.Artifacts.readFloatMatrix(
      graft.core.Artifacts.resolveOrBuild(s, "pq_codebooks", d,
        s"${Ivf.corpusSig(d)}|m=$M|k=$K|iters=$Iters|cap=$TrainCap|v1") {
        tmp => graft.core.Artifacts.writeFloatMatrix(tmp, "codebooks",
          fitCodebooks(graft.Tables.load(s, d, "embeddings")))
      }, "codebooks")

  /** Codebooks as M·K rows of SubDim floats, subspace-major. */
  private[graft] def fitCodebooks(corpus: DataFrame): Array[Array[Float]] = {
    val sample = corpus
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(TrainCap)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .localCheckpoint()

    // deterministic init: subvectors of the K lowest-id sample rows
    val seed = sample.orderBy("vec_id").limit(K)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    var books: Array[Array[Float]] = Array.tabulate(M * K) { i =>
      val (m, k) = (i / K, i % K)
      java.util.Arrays.copyOfRange(seed(k % seed.length), m * SubDim,
        (m + 1) * SubDim)
    }

    for (_ <- 0 until Iters) {
      val parts = (0 until M).map { m =>
        struct(lit(m).as("m"),
          TopK.argMaxDot(aug(col("embedding"), m), augBooks(books, m))
            .as("code"),
          slice(col("embedding"), m * SubDim + 1, SubDim).as("sv"))
      }
      val means = sample
        .select(explode(array(parts: _*)).as("p"))
        .select(col("p.m"), col("p.code"),
          posexplode(col("p.sv")).as(Seq("pos", "x")))
        .groupBy("m", "code", "pos").agg(avg(col("x")).as("mu"))
        .groupBy("m", "code")
        .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("ps"))
        .select(col("m"), col("code"),
          expr("transform(ps, p -> cast(p.mu as float))").as("cv"))
        .collect() // ≤ M·K rows — also cuts each iteration's lineage
      val next = books.map(_.clone())
      // codewords that lost every member keep their previous value
      means.foreach { r =>
        next(r.getInt(0) * K + r.getInt(1)) = r.getSeq[Float](2).toArray
      }
      books = next
    }
    books
  }

  /** Subvector m extended with a constant 1 — pairs with [[augBooks]]
    * so argMaxDot computes argmin L2. */
  private def aug(vec: org.apache.spark.sql.Column, m: Int) =
    concat(slice(vec, m * SubDim + 1, SubDim),
      array(lit(1.0f)))

  /** Subspace m's codewords extended with −‖c‖²/2. */
  private def augBooks(books: Array[Array[Float]], m: Int): Array[Array[Float]] =
    Array.tabulate(K) { k =>
      val c = books(m * K + k)
      c :+ (-c.map(x => x.toDouble * x.toDouble).sum / 2.0).toFloat
    }

  /** Per-query ADC lookup tables for the 5 fixed query vectors:
    * LUT[m·K + k] = ⟨query subvector m, codeword k⟩. Returns
    * (query ids, one M·K-float LUT per query) — kilobytes, broadcast
    * as literals. Shared by [[adcTopK]] and the IVF-PQ composition. */
  private[operators] def queryLuts(e: DataFrame,
      books: Array[Array[Float]]): (Array[Long], Array[Array[Float]]) = {
    val qRows: Array[Row] = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .orderBy("vec_id").collect()
    val qIds: Array[Long] = qRows.map(_.getLong(0))
    val luts: Array[Array[Float]] = qRows.map { r =>
      val qv = r.getSeq[Float](1).toArray
      Array.tabulate(M * K) { i =>
        val (m, kk) = (i / K, i % K)
        val cw = books(m * K + kk)
        var acc = 0.0
        var j = 0
        while (j < SubDim) {
          acc += qv(m * SubDim + j).toDouble * cw(j).toDouble; j += 1
        }
        acc.toFloat
      }
    }
    (qIds, luts)
  }

  /** PQ-ADC top-k for the 5 fixed query vectors under `books`
    * ([[codebooks]] or [[fitCodebooks]]): encode the corpus to
    * M-byte codes, score every row against broadcast query LUTs in one
    * codegen pass, heap-select an `oversample`·k candidate superset
    * per query, rerank exactly. ADC ranks by the reconstructed dot
    * over the TRUE stored norm — ‖q‖ is constant per query so the
    * ranking matches approximate cosine. */
  private[graft] def adcTopK(e: DataFrame, books: Array[Array[Float]],
      k: Int, oversample: Int = 16): DataFrame = {
    val (qIds, luts) = queryLuts(e, books)
    val enc = e.select(col("vec_id"),
      PqKernels.pqEncode(col("embedding").cast("array<float>"), books, K,
        SubDim).as("codes"),
      graft.functions.VectorFunctions.norm(col("embedding")).as("vn"))
    val scored = enc
      .select(col("vec_id"), col("vn"),
        posexplode(PqKernels.pqAdc(col("codes"), luts, K))
          .as(Seq("qi", "adc")))
      .withColumn("query_id", element_at(lit(qIds), col("qi") + 1))
      .filter(col("vec_id") =!= col("query_id"))
      // zero-norm rows score 0, never NaN-greatest into the top-k
      .withColumn("cos",
        when(col("vn") > 0, col("adc") / col("vn")).otherwise(lit(0.0)))
    Similarity.rerankExact(
      Similarity.topkSelect(scored, k * oversample)
        .select("query_id", "vec_id"),
      e, k)
  }
}
