package graft

import org.apache.spark.sql.functions._

/** v16: the vector index as a storage layout — IVF cluster ids as the
  * array's leading dimension make probe lists PUSHED dim predicates,
  * so ANN routing happens in the scan planner (file/fragment pruning)
  * and non-probed inverted lists are never read. */
class AnnArraySpec extends SparkSpec {

  test("v16 probe predicate prunes files; results match in-memory routing") {
    val e = Tables.load(spark, sf, "embeddings")
    val (topk, uri) = operators.Similarity.annArrayTopK(spark, sf, e, 10)
    val rows = topk.collect()
    assert(rows.length == 50, s"expected 5 queries x 10: ${rows.length}")

    // the array's single fragment is cell-order clustered on
    // (cluster, vec_id) → a one-cluster predicate must scan fewer
    // files than the fragment holds
    val frag = sources.GraftArray.store(spark, uri).listFragments().head
    assert(frag.files.size > 1,
      s"need multiple files to observe pruning: ${frag.files.size}")
    val arr = spark.read.format("graftarray").option("path", uri).load()
    val one = arr.filter(col("cluster") === 0)
    val files = scannedFiles(one)
    assert(files.size < frag.files.size,
      s"no pruning: ${files.size} of ${frag.files.size} files scanned")

    // round-trip integrity: the array holds exactly the corpus
    assert(arr.count() == e.count())
    // exact scoring inside probed lists: every reported neighbor's
    // cosine matches a direct computation on the source table
    val direct = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    rows.foreach { r =>
      val (qid, vid, cos) = (r.getLong(0), r.getLong(1),
        r.getDouble(r.fieldIndex("cos")))
      val (q, v) = (direct(qid), direct(vid))
      val dot = q.indices.foldLeft(0.0)((a, i) =>
        a + q(i).toDouble * v(i).toDouble)
      val nq = math.sqrt(q.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      val nv = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      // float32 inputs: the kernel's accumulation order differs from
      // this double replay at the ~1e-7 level — float precision, not
      // a routing error
      assert(math.abs(cos - dot / (nq * nv)) < 1e-5,
        s"cos mismatch for ($qid, $vid)")
    }
  }

  test("v17 increment appends a second fragment; routing matches frozen-centroid argmax") {
    val e = Tables.load(spark, sf, "embeddings")
    val (uri, centroids) = operators.Similarity.annArrayIncrBuild(spark, sf, e)

    // index maintenance is an APPEND: exactly two fragments (base fit +
    // routed increment), the base fragment untouched by the increment
    val frags = sources.GraftArray.store(spark, uri).listFragments()
    assert(frags.size == 2, s"expected base+increment fragments: ${frags.size}")

    val arr = spark.read.format("graftarray").option("path", uri).load()
    assert(arr.count() == e.count(), "increment lost or duplicated rows")

    // the increment half (odd vec_ids) must sit in the list its frozen-
    // centroid argmax picks — replay the assignment directly
    val assigned = arr.filter(col("vec_id") % 2 === 1)
      .select("cluster", "vec_id", "embedding").collect()
    assert(assigned.nonEmpty)
    assigned.foreach { r =>
      val (ci, vid, v) = (r.getInt(0), r.getLong(1), r.getSeq[Float](2))
      val best = centroids.indices.maxBy { k =>
        val c = centroids(k)
        c.indices.foldLeft(0.0)((a, i) => a + c(i).toDouble * v(i).toDouble)
      }
      assert(ci == best, s"vec $vid routed to $ci, argmax says $best")
    }

    // probe-predicate pruning still holds with two fragments: each
    // fragment is internally (cluster, vec_id)-clustered, so a
    // one-cluster predicate scans fewer files than the array holds
    val totalFiles = frags.map(_.files.size).sum
    assert(totalFiles > 2, s"need multiple files per fragment: $totalFiles")
    val one = arr.filter(col("cluster") === 0)
    val files = scannedFiles(one)
    assert(files.size < totalFiles,
      s"no pruning across fragments: ${files.size} of $totalFiles files")
  }

  test("v19 label predicate composes with probe pruning in one scan") {
    val e = Tables.load(spark, sf, "embeddings")
    val (uri, cents) =
      operators.Similarity.annArrayFilteredBuild(spark, sf, e)
    val arr = spark.read.format("graftarray").option("path", uri).load()
    // label is stored beside the vectors: a (probe ∧ label) filter
    // returns exactly the in-memory answer...
    val got = arr.filter(col("cluster").isin(0, 1) && col("label") === 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expect = arr.collect()
      .filter(r => Set(0, 1)(r.getAs[Int]("cluster")) &&
        r.getAs[Int]("label") == 2)
      .map(_.getAs[Long]("vec_id")).toSet
    assert(got == expect && got.nonEmpty)
    // ...and the probe dimension still prunes files under it
    val totalFiles = sources.GraftArray.store(spark, uri)
      .listFragments().map(_.files.size).sum
    val files = scannedFiles(arr.filter(col("cluster") === 0 && col("label") === 2))
    assert(files.size < totalFiles,
      s"label filter broke pruning: ${files.size} of $totalFiles")
    // the probe path end-to-end returns only labeled rows
    val res = operators.Similarity.annArrayProbeScore(
      spark, uri, cents, e, 10, extra = col("label") === 2,
      filtered = true)
    val labels = res.join(e.select("vec_id", "label"), "vec_id")
      .select("label").distinct().collect().map(_.getInt(0)).toSet
    assert(labels == Set(2), s"unlabeled rows leaked: $labels")
  }

  test("v18 tombstone masks the deleted range under probe pruning") {
    val e = Tables.load(spark, sf, "embeddings")
    val (uri, _) = operators.Similarity.annArrayDeleteBuild(spark, sf, e)
    val arr = spark.read.format("graftarray").option("path", uri).load()

    // the delete is a manifest-only mask: live count drops by exactly
    // the tombstoned range, nothing else
    val delCount = e.filter(col("vec_id") >= 100L && col("vec_id") < 300L)
      .count()
    assert(delCount > 0, "fixture range must delete something")
    assert(arr.count() == e.count() - delCount, "masked count wrong")
    assert(arr.filter(col("vec_id") >= 100L && col("vec_id") < 300L)
      .count() == 0, "deleted ids visible")

    // deletion composes with the pushed probe predicate: a pruned
    // one-cluster scan still applies the tombstone
    val one = arr.filter(col("cluster") === 3)
    assert(one.filter(col("vec_id") >= 100L && col("vec_id") < 300L)
      .count() == 0, "pruned scan bypassed the tombstone")
  }
}
