package graft

import org.apache.spark.sql.functions._

/** End-to-end checks for operators the DuckDB oracle can't express,
  * plus plan-shape assertions (pushdown/broadcast) that guard the
  * 100 TB scale properties. */
class OperatorsSpec extends SparkSpec {

  test("every registered query runs and is non-degenerate at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("v28 rebuild: recall holds and the refit tightens assignment") {
    // measured at sf0.001 / sf0.01 / sf0.1 before freezing the flags:
    // tighter_fit true at all three (Lloyd on the full corpus vs the
    // frozen base-half fit), rebuilt recall over v16's 0.5 bound
    val rows = SparkEntry.queries("v28_ann_rebuild")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getBoolean(1), s"rebuilt recall under bound: $r")
      assert(r.getBoolean(2), s"refit did not tighten assignment: $r")
    }
  }

  test("j15 spatial join: equi-join plan (no cartesian), equals naive") {
    val df = SparkEntry.queries("j15_spatial_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"spatial join fell back to a product:\n${plan.take(500)}")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // naive containment join (the semantics, minus the grid)
    val p = Tables.load(spark, sf, "part")
      .select(col("p_partkey"), col("p_size").cast("double").as("px"),
        col("p_retailprice").as("py"))
    val r = Tables.load(spark, sf, "supplier")
      .select(col("s_suppkey"),
        ((col("s_suppkey") % 40) + 1).cast("double").as("x0"),
        (lit(900.0) + (col("s_suppkey") % 5).cast("double") * 200.0)
          .as("y0"))
    val naive = p.crossJoin(r)
      .filter(col("px").between(col("x0"), col("x0") + 6.0) &&
        col("py").between(col("y0"), col("y0") + 250.0))
      .select("s_suppkey", "p_partkey")
      .orderBy("s_suppkey", "p_partkey")
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toSeq
    assert(got == naive, s"${got.size} vs naive ${naive.size}")
    assert(got.nonEmpty)
    // exactly-once: no (rect, point) pair can repeat (one cell per point)
    assert(got.distinct.size == got.size)
  }

  test("w9 IGNORE NULLS: gap rows forward-fill from the previous known") {
    val rows = SparkEntry.queries("w9_ignore_nulls")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val gaps = rows.filter(_._3 == -1.0)
    assert(gaps.nonEmpty, "NULL fixture dead — no gap rows")
    rows.foreach { r =>
      if (r._3 != -1.0) assert(r._4 == r._3, s"non-gap must fill itself: $r")
      else assert(r._4 == r._5, s"gap must fill from previous known: $r")
    }
    // at least one gap actually carries a previous known value forward
    assert(gaps.exists(_._4 != -1.0), "no gap with a known predecessor")
  }

  test("v27 quant impact: metrics consistent and above the v6 bound") {
    val rows = SparkEntry.queries("v27_quant_impact")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (hits, bp, frr, mrr) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(bp == hits * 1000, s"recall arithmetic: $r")
      assert(bp >= 7000, s"below the v6 recall bound: $r") // v6's 0.7 bar
      assert(frr >= 1 && mrr == 1000000 / frr, s"mrr arithmetic: $r")
    }
  }

  test("sq5 recursive CTE: real recursion node, equals the window replay") {
    val df = SparkEntry.queries("sq5_recursive_cte")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("Loop") || plan.contains("Recursi"),
      s"no recursion node in plan:\n${plan.take(600)}")
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // independent in-Spark replay: window cumsum over the same chains
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val replay = Tables.load(spark, sf, "orders")
      .filter(col("o_custkey") < 100)
      .withColumn("hop", row_number().over(w).cast("long"))
      .withColumn("cum_price", round(sum("o_totalprice").over(
        w.rowsBetween(Long.MinValue, 0)), 2))
      .select("o_custkey", "o_orderkey", "hop", "cum_price")
      .orderBy("o_custkey", "hop")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == replay, s"recursion diverges from window replay: " +
      s"${got.size} vs ${replay.size}")
    // chains really recurse: some customer has more than one hop
    assert(got.exists(_._3 > 1))
  }

  test("v25 MaxSim: set semantics (order-invariant), self-label excluded") {
    import spark.implicits._
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val base = Seq(
      (1L, vec(1, 0, 0, 0), 0), (2L, vec(0, 1, 0, 0), 0),
      (10L, vec(1, 0, 0, 0), 1), (11L, vec(0.9, 0.1, 0, 0), 1),
      (20L, vec(0, 0, 1, 0), 2), (21L, vec(0, 0, 0, 1), 2))
    def run(rows: Seq[(Long, Array[Float], Int)]) =
      operators.Similarity.maxSimTopK(
        rows.toDF("vec_id", "embedding", "label"), col("label") === 0, 5)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val got = run(base)
    // self-label never scored; doc 1 (aligned vectors) outranks doc 2
    assert(!got.exists(_._1 == 0))
    assert(got.map(_._1) == Seq(1, 2), s"ranking wrong: $got")
    assert(got.head._2 > got(1)._2)
    // MaxSim scores a vector SET: permuting the doc's vectors (ids
    // swapped) changes nothing
    val permuted = base.map {
      case (10L, v, l) => (11L, v, l)
      case (11L, v, l) => (10L, v, l)
      case r => r
    }
    assert(run(permuted) == got, "score must be order/id invariant")
  }

  test("t28 mojibake: clean sources report zero, the recrawl fixture fires") {
    val rows = SparkEntry.queries("t28_mojibake")(spark, sf).collect()
    val (re, base) = rows.partition(_.getString(0) == "recrawl")
    assert(re.length == 1, "recrawl fixture source missing")
    val r = re.head
    // every fixture doc carries exactly one of each marker
    assert(r.getLong(2) == r.getLong(1), "every recrawl doc must be bad")
    assert(r.getLong(3) == r.getLong(1) && r.getLong(4) == r.getLong(1) &&
      r.getLong(5) == r.getLong(1), s"marker counts != doc count: $r")
    assert(r.getLong(6) == 10000L)
    // the synthetic base corpus is clean ASCII
    base.foreach { b =>
      assert(b.getLong(2) == 0L && b.getLong(6) == 0L, s"clean source bad: $b")
    }
  }

  test("t30 rank drift: rho bounded, identical halves give rho = 1") {
    val r = SparkEntry.queries("t30_vocab_rank_drift")(spark, sf)
      .collect().head
    val (n, d2, rho) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n >= 2 && n <= 50)
    assert(rho >= -1000000L && rho <= 1000000L, s"rho out of range: $rho")
    assert(rho == 1000000L - 6 * d2 * 1000000L / (n * (n * n - 1)))
    // identity check: ranking a half against itself is exactly rho = 1
    // (d² = 0) — replay the op's rank rule on one fixed token list
    import spark.implicits._
    val toks = Seq.tabulate(40)(i => (s"tok$i", (40 - i).toLong))
      .toDF("tok", "n")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("tok"))
    val ranks = toks.withColumn("rk", row_number().over(w))
      .withColumn("rk2", row_number().over(w))
      .filter(col("rk") =!= col("rk2")).count()
    assert(ranks == 0L)
  }

  test("t29 kernel equals the naive explode+groupBy recount at sf0.001") {
    import graft.functions.TextFunctions.tokens
    val tok = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val naive = tok.select(col("doc_id"), (size(col("toks")) - 1)
        .cast("long").as("ng"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)))).as("g"))
      .groupBy("doc_id", "ng", "g").agg(count(lit(1)).as("n"))
      .groupBy("doc_id", "ng")
      .agg(max("n").as("mx"),
        sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("dup"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val kernel = tok
      .select(col("doc_id"), graft.functions.expressions.Kernels
        .bigramStats(col("toks")).as("bs"))
      .select(col("doc_id"), element_at(col("bs"), 1).as("ng"),
        element_at(col("bs"), 2).as("mx"), element_at(col("bs"), 3).as("dup"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(kernel.keySet == naive.keySet)
    kernel.foreach { case (id, got) =>
      assert(got == naive(id), s"doc $id: kernel $got vs naive ${naive(id)}")
    }
  }

  test("t29 topgram coverage: dup fires iff a bigram repeats, bounds hold") {
    val rows = SparkEntry.queries("t29_topgram_coverage")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ng, mx, top, dup) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mx >= 1 && mx <= ng)
      assert(top == mx * 10000 / ng)
      if (mx == 1) assert(dup == 0L, s"no repeat but dup>0: $r")
      else assert(dup >= top, s"dup must cover at least the top gram: $r")
      assert(dup <= 10000L)
    }
    // the word-soup corpus repeats bigrams in SOME doc — branch is live
    assert(rows.exists(_.getLong(2) >= 2), "no doc with a repeated bigram")
  }

  test("a11 plan: grouping sets = ONE Expand + one aggregation pass") {
    val plan = SparkEntry.queries("a11_grouping_sets")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("(?i)expand".r.findAllIn(plan).size >= 1, s"no Expand:\n$plan")
    // one scan of lineitem, not one per grouping set
    assert("Scan ".r.findAllIn(plan).size <= 1, s"grouping sets rescan:\n$plan")
  }

  test("sq3 plan: lateral top-2 decorrelates to a window rank, no loop") {
    val plan = SparkEntry.queries("sq3_lateral_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected decorrelated window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian lateral:\n$plan")
  }

  test("v26 SQ8 error: non-negative, and small (the 4x compression is cheap)") {
    val rows = SparkEntry.queries("v26_sq8_error")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mse, rel) = (r.getDouble(1), r.getDouble(2))
      assert(mse >= 0.0 && rel >= 0.0, s"negative error: $r")
      // measured band: rel_mse 1.4e-5..9.1e-5 at sf0.01 — a broken
      // scale/rounding in the quantizer blows straight through 1e-3
      assert(rel < 1e-3, s"rel_mse out of band: $r")
    }
  }

  test("x29 temperature mixture: shares normalize and flatten the head") {
    val rows = SparkEntry.queries("x29_mixture_temperature")(spark, sf)
      .collect().map(r => (r.getDouble(2), r.getDouble(4)))
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-9)
    // τ < 1 flattens: the largest source loses share, the smallest
    // gains (strict when the distribution isn't uniform)
    val big = rows.maxBy(_._1); val small = rows.minBy(_._1)
    assert(big._1 > small._1, "degenerate uniform corpus")
    assert(big._2 < big._1, s"head not flattened: $big")
    assert(small._2 > small._1, s"tail not lifted: $small")
  }

  test("sq4: NOT IN collapses to 0 under the injected NULL, NOT EXISTS > 0") {
    val rows = SparkEntry.queries("sq4_not_in_nulls")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows("not_in") == 0L,
      "NOT IN with a NULL in the list must return zero rows")
    assert(rows("not_exists") > 0L,
      "NOT EXISTS must keep matching — otherwise the trap isn't shown")
    val plan = SparkEntry.queries("sq4_not_in_nulls")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected anti joins:\n$plan")
  }

  test("d13 sweep: thresholds separate — pairs decrease, mean rises") {
    val rows = SparkEntry.queries("d13_jaccard_sweep")(spark, sf)
      .collect().sortBy(_.getDouble(0))
    assert(rows.length == 3)
    val ns = rows.map(_.getLong(1))
    val ms = rows.map(_.getDouble(2))
    // the prefix fixtures guarantee mid-range pairs at every scale —
    // a sweep whose three rows read identically is measuring nothing
    assert(ns(0) > ns(1) && ns(1) > ns(2), s"pairs not separating: ${ns.toSeq}")
    assert(ms(0) < ms(1) && ms(1) < ms(2), s"means not rising: ${ms.toSeq}")
  }

  test("x28 dedup replan: loss branch fires; kept <= raw; rate <= 1") {
    val rows = SparkEntry.queries("x28_dedup_replan")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"kept > raw: $r")
      assert(r.getDouble(5) <= 1.0, s"rate > 1: $r")
    }
    // the %97 re-crawl fixture guarantees a real dedup loss at every
    // scale (the corpus itself has no organic exact dups at sf0.01)
    assert(rows.exists(_.getLong(3) > 0), "loss branch never fired")
  }

  test("x27 PSI: non-negative and finite for every source") {
    // each PSI term (p-r)*ln(p/r) is >= 0 (factors share sign), so a
    // negative or non-finite psi means the fold or smoothing is broken
    val rows = SparkEntry.queries("x27_psi_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val psi = r.getDouble(2)
      assert(psi >= 0.0 && java.lang.Double.isFinite(psi), s"bad psi: $r")
      assert(r.getBoolean(3) == (psi > 0.25), s"shifted flag wrong: $r")
    }
  }

  test("v22 RRF fusion: both legs contribute and rrf is the rank formula") {
    val rows = SparkEntry.queries("v22_rrf_fusion")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 15)
    rows.foreach { r =>
      val (lex, sem, rrf) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(lex > 0 || sem > 0, s"row in neither leg: $r")
      val expect = (if (lex > 0) 1.0 / (60.0 + lex) else 0.0) +
        (if (sem > 0) 1.0 / (60.0 + sem) else 0.0)
      assert(rrf == expect, s"rrf mismatch: $r vs $expect")
    }
    // the semantic leg must actually fire (a broken seed join would
    // silently yield a lex-only list)
    assert(rows.exists(_.getLong(2) > 0), "no semantic-leg rows in fusion")
  }

  test("v23 hard negatives: label always differs from the anchor's, no self") {
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"))
    val neg = SparkEntry.queries("v23_hard_negatives")(spark, sf)
    val bad = neg
      .join(e.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "qlabel"), "query_id")
      .join(e, "vec_id")
      .filter(col("label") === col("qlabel") || col("vec_id") === col("query_id"))
      .count()
    assert(bad == 0, s"$bad same-label/self rows in hard negatives")
    assert(neg.count() == 40)
  }

  test("v14 JL projection: norm preserved in expectation, ±1 signs exact") {
    // E‖y‖² = ‖x‖² under ±1/√k projection; per-vector Var ~ 2/k, so
    // the corpus MEAN ratio concentrates tightly around 1
    val proj = SparkEntry.queries("v14_random_projection")(spark, sf)
    val pCols = proj.columns.filter(_.startsWith("p"))
    assert(pCols.length == 16)
    val y2 = pCols.map(c => col(c) * col(c)).reduce(_ + _)
    val joined = proj.join(
      Tables.load(spark, sf, "embeddings").select(col("vec_id"),
        graft.functions.expressions.Kernels
          .dotFF(col("embedding"), col("embedding")).as("x2")),
      "vec_id")
    val mean = joined.agg(avg(y2 / col("x2"))).head().getDouble(0)
    assert(mean > 0.8 && mean < 1.2, s"mean ||y||^2/||x||^2 = $mean")
    // the sign matrix is a fixed md5 function: balanced-ish and
    // deterministic across processes (lazy val rebuilt per JVM)
    val flat = graft.operators.Similarity.rpSigns.flatten
    assert(flat.size == 64 * 16)
    val pos = flat.count(_ > 0)
    assert(pos > 400 && pos < 624, s"sign balance off: $pos/1024")
  }

  test("v14 plan: pure projection — no join, no aggregate before the sort") {
    val plan = SparkEntry.queries("v14_random_projection")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("HashAggregate"), s"unexpected aggregate:\n$plan")
  }

  test("v3/v4/v6 driver queries self-assert recall_ok for all 5 queries") {
    for (name <- Seq("v3_ann_lsh", "v4_ann_ivf", "v6_ann_sq8", "v9_ann_pq",
        "v15_ann_ivfpq", "v16_ann_array_pruned")) {
      val rows = operators.Similarity.queries(name)(spark, sf).collect()
      assert(rows.map(_.getLong(0)).toSeq == (0L to 4L),
        s"$name query_ids wrong: ${rows.mkString(",")}")
      rows.foreach(r => assert(r.getBoolean(1),
        s"$name recall bound violated for query ${r.getLong(0)}"))
    }
  }

  test("v15 IVF-PQ composition beats its composed recall bound with margin") {
    val e = Tables.load(spark, sf, "embeddings")
    val brute = operators.Similarity.queries("v2_ann_topk")(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = operators.Similarity.ivfPqTopK(e,
      operators.Ivf.model(spark, sf), operators.Pq.codebooks(spark, sf),
      10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq.nonEmpty, "IVF-PQ returned nothing")
    val recall = (ivfpq & brute).size.toDouble / brute.size
    // composed approximation (routing miss × ADC misrank); published
    // bound 0.3 — require headroom above it here
    assert(recall >= 0.4, s"IVF-PQ mean recall $recall below margin")
  }

  test("multi-table LSH ANN beats its stated recall bound with margin") {
    val e = Tables.load(spark, sf, "embeddings")
    val brute = operators.Similarity.queries("v2_ann_topk")(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.Similarity.annLshTopK(e, 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "LSH returned nothing")
    val recall = (lsh & brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"LSH mean recall $recall too low") // 32 tables x 6 bits
  }

  test("v4_ann_ivf raw surface achieves high recall vs brute-force top-10") {
    val e = Tables.load(spark, sf, "embeddings")
    val brute = operators.Similarity.queries("v2_ann_topk")(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = operators.Similarity.ivfTopK(e, operators.Ivf.model(spark, sf))
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall $recall too low") // nprobe=2 of 16
  }

  test("SQ8 quantization: near-perfect recall, bounded per-component error") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.{DotFB, Sq8Quantize}
    // kernel sanity: scale cancels, signs/magnitudes preserved
    val v = Array(0.5f, -1.0f, 0.25f, 0.0f)
    val q = Sq8Quantize.compute(new GenericArrayData(v.map(_.asInstanceOf[Any])))
    assert(q.toSeq == Seq[Byte](64, -127, 32, 0))
    assert(Sq8Quantize.compute(
      new GenericArrayData(Array[Any](0.0f, 0.0f))).toSeq == Seq[Byte](0, 0))
    val fd = DotFB.compute(new GenericArrayData(v.map(_.asInstanceOf[Any])), q)
    assert(math.abs(fd - (0.5 * 64 + 1.0 * 127 + 0.25 * 32)) < 1e-9)
    // end-to-end: quantized candidates + exact rerank recover the
    // exact top-10 (quantization error ≪ cosine gaps at 64 dims)
    val e = Tables.load(spark, sf, "embeddings")
    val brute = operators.Similarity.queries("v2_ann_topk")(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = operators.Similarity.sq8TopK(e, 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq8 & brute).size.toDouble / brute.size
    assert(recall >= 0.95, s"SQ8 recall $recall below near-exact bound")
  }

  test("t13 perplexity: held-out only, smoothing engaged, finite scores") {
    val out = operators.TextOps.queries("t13_perplexity")(spark, sf).collect()
    assert(out.nonEmpty)
    // only held-out docs are scored (train split excluded)
    val trainIds = Tables.load(spark, sf, "documents")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) <= "cb")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => !trainIds.contains(r.getLong(0))),
      "a train-split doc was scored")
    assert(out.forall(r => !r.getDouble(1).isNaN &&
      !r.getDouble(1).isInfinite && r.getDouble(1) < 0))
  }

  test("t13 perplexity: add-1 smoothing matches hand computation on OOV") {
    import spark.implicits._
    // md5 split: ids 1,2 → train; 0 → eval (verified constants).
    // Train corpus: "a b" ×2 and "a c" → c(a b)=2, c(a c)=1, c1(a)=3,
    // vocab {a,b,c} V=3. Eval doc 0 = "a b x": bigram "a b" seen
    // (ln(3/6)), "b x" fully unseen (ln(1/3)) → one OOV.
    val dd = Seq((1L, "a b"), (2L, "a b"), (4L, "a c"), (0L, "a b x"))
      .toDF("doc_id", "text")
    val r = operators.TextOps.bigramPerplexity(dd).collect()
    assert(r.length == 1 && r.head.getLong(0) == 0L)
    val expected = (math.log(3.0 / 6.0) + math.log(1.0 / 3.0)) / 2.0
    assert(math.abs(r.head.getDouble(1) -
      BigDecimal(expected).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble) < 1e-9)
    assert(r.head.getLong(2) == 1L, "exactly one OOV bigram expected")
  }

  test("t12/t13 final plans never re-scan the corpus for the model side") {
    // the bigram count table localCheckpoints: the training-corpus
    // pass happens exactly once inside it, so t12's conditional-
    // probability join must show ZERO parquet scans downstream and
    // t13's plan exactly ONE (the eval-side scan) — a second scan
    // means Catalyst re-derived the model subtree from the raw corpus
    // (the regression fixed this round)
    def finalScans(name: String): Int = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.count()
      df.queryExecution.executedPlan.toString.linesIterator
        .takeWhile(!_.contains("Initial Plan"))
        .count(_.contains("FileScan parquet"))
    }
    assert(finalScans("t12_bigram_lm") == 0, "t12 re-scanned the corpus")
    assert(finalScans("t13_perplexity") == 1, "t13 must scan eval side once")
  }

  test("PQ kernels: encode picks the nearest codeword, ADC replays the LUT sum") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.{PqAdc, PqEncode}
    // 2 subspaces × 2 codewords of 2 dims (subspace-major layout)
    val books = Array(
      Array(1.0f, 0.0f), Array(0.0f, 1.0f),   // subspace 0
      Array(-1.0f, 0.0f), Array(5.0f, 5.0f))  // subspace 1
    val cn2 = books.map(c => c.map(x => x.toDouble * x.toDouble).sum)
    def enc(v: Array[Float]): Seq[Byte] =
      PqEncode.compute(new GenericArrayData(v.map(_.asInstanceOf[Any])),
        books, cn2, 2, 2).toSeq
    // (0.9, 0.1) nearest (1,0) → code 0; (4, 4) nearest (5,5) → code 1
    assert(enc(Array(0.9f, 0.1f, 4f, 4f)) == Seq[Byte](0, 1))
    // (0.1, 0.9) → code 1; (-2, 0) → code 0
    assert(enc(Array(0.1f, 0.9f, -2f, 0f)) == Seq[Byte](1, 0))
    // equidistant ties go to the lowest code
    assert(enc(Array(0.5f, 0.5f, 0f, 0f)).head == 0.toByte)
    // ADC: scores = Σ_m lut(m·K + code_m) per query table
    val luts = Array(Array(10f, 20f, 30f, 40f), Array(1f, 2f, 3f, 4f))
    val adc = PqAdc.compute(Array[Byte](0, 1), luts, 2)
    assert(adc.getDouble(0) == 10.0 + 40.0 && adc.getDouble(1) == 1.0 + 4.0)
  }

  test("PQ property: encode equals the naive per-subspace argmin") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.PqEncode
    val m = 3; val k = 4; val subDim = 2
    val f = Gen.chooseNum(-5.0f, 5.0f)
    val vecGen = Gen.listOfN(m * subDim, f).map(_.toArray)
    val booksGen = Gen.listOfN(m * k, Gen.listOfN(subDim, f).map(_.toArray))
      .map(_.toArray)
    val prop = Prop.forAll(vecGen, booksGen) { (v, books) =>
      val cn2 = books.map(c => c.map(x => x.toDouble * x.toDouble).sum)
      val got = PqEncode.compute(
        new GenericArrayData(v.map(_.asInstanceOf[Any])), books, cn2, k,
        subDim)
      (0 until m).forall { mi =>
        val dists = (0 until k).map { ki =>
          val cw = books(mi * k + ki)
          (0 until subDim).map { i =>
            val d = v(mi * subDim + i).toDouble - cw(i).toDouble; d * d
          }.sum
        }
        // ties to the lowest code; dist comparison via the ‖c‖²−2c·x
        // rewrite must agree with the naive L2 argmin
        val naive = dists.zipWithIndex.minBy { case (d, i) => (d, i) }._2
        val dGot = dists(got(mi) & 0xff)
        math.abs(dGot - dists(naive)) < 1e-9
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("PQ ANN raw surface clears its recall bound with margin") {
    val e = Tables.load(spark, sf, "embeddings")
    val brute = operators.Similarity.queries("v2_ann_topk")(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = operators.Pq.adcTopK(e, operators.Pq.codebooks(spark, sf), 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.nonEmpty)
    val recall = (pq & brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"PQ mean recall $recall too low") // bound 0.4 published
  }

  test("SQ8 property: per-component error bounded, dots consistent") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.expressions.{DotBB, DotFB, Sq8Quantize}
    val vecGen = Gen.nonEmptyListOf(Gen.chooseNum(-10.0f, 10.0f))
    val prop = Prop.forAll(vecGen, vecGen) { (xs, ys) =>
      val v = xs.toArray
      val q = Sq8Quantize.compute(new GenericArrayData(v.map(_.asInstanceOf[Any])))
      val mx = v.map(math.abs).max
      val scale = if (mx == 0f) 0.0 else mx / 127.0
      // dequantized component error ≤ scale/2 (round-to-nearest)
      val errOk = v.zip(q).forall { case (f, b) =>
        math.abs(f - b * scale) <= scale / 2 + 1e-6 }
      // self-dot non-negative; DotFB replays the definition exactly
      val w = ys.toArray
      val q2 = Sq8Quantize.compute(new GenericArrayData(w.map(_.asInstanceOf[Any])))
      val n = math.min(v.length, q2.length)
      val manual = (0 until n).map(i => v(i).toDouble * q2(i)).sum
      errOk && DotBB.compute(q, q) >= 0 &&
        math.abs(DotFB.compute(
          new GenericArrayData(v.map(_.asInstanceOf[Any])), q2) - manual) < 1e-6
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  test("O(n^2) exact near-dup anchor refuses large corpora without opt-in") {
    import spark.implicits._
    val e = (0 until 20).map(i => (i.toLong,
      Array.fill(4)((i + 1).toFloat))).toDF("vec_id", "embedding")
    spark.conf.set("graft.similarity.exactNeardupMaxRows", "10")
    try {
      val ex = intercept[IllegalArgumentException] {
        operators.Similarity.exactNeardupPairs(spark, e)
      }
      assert(ex.getMessage.contains("opt in"))
      spark.conf.set("graft.similarity.allowExactNeardup", "true")
      assert(operators.Similarity.exactNeardupPairs(spark, e).count() > 0)
    } finally {
      spark.conf.unset("graft.similarity.exactNeardupMaxRows")
      spark.conf.unset("graft.similarity.allowExactNeardup")
    }
  }

  test("v1b LSH near-dup reproduces the exact pair set at threshold 0.45") {
    val exact = operators.Similarity.queries("v1_cosine_neardup")(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.Similarity.queries("v1b_neardup_lsh")(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"missed: ${exact -- lsh}; spurious: ${lsh -- exact}")
  }

  test("v1b hot bucket: identical embeddings collapse before the band join") {
    import spark.implicits._
    // 100 copies of one embedding (identical 128-bit sketch) + 20
    // scattered vectors — the duplicate cluster must cost ONE row in
    // the band self-join, with its 4950 pairs expanded afterwards
    val base = (0 until 64).map(i => math.sin(i + 1.0).toFloat).toArray
    val dup = (0 until 100).map(i => (i.toLong, base))
    val others = (0 until 20).map(i => (1000L + i,
      (0 until 64).map(d => math.sin((i + 3.0) * 64 + d).toFloat).toArray))
    val e = (dup ++ others).toDF("vec_id", "embedding")
    val pairs = operators.Similarity.lshVerifiedPairs(e)
      .select("i", "j").as[(Long, Long)].collect().toSet
    // all intra-cluster pairs present (cos = 1), verified exactly
    val intra = (for (i <- 0 until 100; j <- i + 1 until 100)
      yield (i.toLong, j.toLong)).toSet
    assert(intra.subsetOf(pairs), s"lost ${(intra -- pairs).size} dup pairs")
    // and every reported pair really clears the cosine threshold
    // (precision is exact-verified regardless of bucketing)
    val vecs = (dup ++ others).toMap
    pairs.foreach { case (i, j) =>
      val (a, b) = (vecs(i), vecs(j))
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      val cos = dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
      assert(cos >= 0.45, s"pair ($i,$j) below threshold: $cos")
    }
  }

  test("similarity top-k is bounded aggregation, not a global window") {
    for (q <- Seq("v2_ann_topk", "v4_ann_ivf")) {
      // toString traverses into the AQE-wrapped plan (node collect doesn't)
      val plan = operators.Similarity.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$q still plans a Window")
      // partial (map-side) aggregation of the k-heap states is present
      assert(plan.contains("partial_topkbyscore"),
        s"$q has no partial top-k aggregation:\n${plan.take(3000)}")
    }
  }

  test("IVF assignment plans no exchange between scan and cluster column") {
    val e = Tables.load(spark, sf, "embeddings")
    val (assigned, _) = operators.Ivf.fit(e, k = 16, iters = 1)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment shuffles:\n${plan.take(3000)}")
  }

  test("png codec round-trip: real ImageIO decode equals raster rule") {
    import spark.implicits._
    // the payload is a GENUINE PNG (magic bytes prove a real codec
    // ran), and the decoded geometry/mean replay the generator rule
    val text = "The quick brown fox jumps over the lazy dog"
    val bytes = operators.Multimodal.encodePng(text)
    val magic = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    assert(bytes.take(8).sameElements(magic), "not a PNG payload")
    val n = text.length
    val (w, h) = (n % 64 + 1, n % 48 + 1)
    val media = Seq((1L, bytes), (2L, operators.Multimodal.encodePng("")))
      .toDF("doc_id", "media")
    val got = operators.Multimodal.decodeImageBatch(spark, media)
      .collect().sortBy(_.doc_id)
    assert(got(0).width == w && got(0).height == h &&
      got(0).n_pixels == w.toLong * h)
    val expMean = (0 until w * h).map(k => text.charAt(k % n).toInt)
      .sum.toDouble / (w * h)
    assert(math.abs(got(0).mean_px - expMean) < 1e-12)
    // empty doc: 1×1 black raster — the m6 empty-payload guard
    assert(got(1).width == 1 && got(1).height == 1 && got(1).mean_px == 0.0)
    // nearest-neighbor resize replays its index rule exactly
    val rs = operators.Multimodal.resizeImage(spark, media, 16, 12)
      .collect().sortBy(_.doc_id).head
    val expRs = (0 until 192).map { k =>
      val (x, y) = (k % 16, k / 16)
      text.charAt((y * h / 12 * w + x * w / 16) % n).toInt
    }.sum.toDouble / 192
    assert(rs.width == 16 && rs.height == 12 &&
      math.abs(rs.mean_px - expRs) < 1e-12)
  }

  test("gif codec round-trip: real multi-frame decode equals frame rule") {
    import spark.implicits._
    // a GENUINE animated GIF (magic bytes prove a real codec ran),
    // frames reconstructing the m4 sampling rule's byte blocks exactly
    val text = ('a' to 'z').mkString + ('A' to 'Z').mkString +
      "0123456789" * 8 // 132 chars → 3 frames (offsets 0, 64, 128)
    val bytes = operators.Multimodal.encodeGif(text)
    assert(new String(bytes.take(6), "US-ASCII") == "GIF89a",
      "not a GIF89a payload")
    val media = Seq((1L, bytes),
      (2L, operators.Multimodal.encodeGif("xy"))) // sub-16 single frame
      .toDF("doc_id", "media")
    val got = operators.Multimodal.gifFrames(spark, media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = (0 until 3).map(i =>
      (1L, i.toLong, text.slice(i * 64, i * 64 + 16))) :+ (2L, 0L, "xy")
    assert(got == want, s"frames: $got")
    // the decode is genuinely multi-frame: 3 distinct images in one
    // container, tail frame narrower than 16
    assert(got.count(_._1 == 1L) == 3 && got.last._3.length == 2)
  }

  test("audio energy: real WAV codec, exact windows, hand-checked RMS") {
    import spark.implicits._
    // genuine RIFF/WAVE containers (magic bytes prove the codec ran):
    // "silence" = all samples 64 (RMS 0); a square wave of 0/128
    // samples has every sample at ±64 → RMS exactly 64
    val silent = operators.Multimodal.encodeWav(Array.fill[Byte](100)(64))
    val square = operators.Multimodal.encodeWav(
      Array.tabulate[Byte](128)(i => if (i % 2 == 0) 0 else -128))
    assert(new String(silent.take(4), "US-ASCII") == "RIFF" &&
      new String(silent.slice(8, 12), "US-ASCII") == "WAVE",
      "not a WAV payload")
    // the JDK codec round-trips the unsigned 8-bit frames exactly
    assert(operators.Multimodal.decodeWavSamples(square).toSeq ==
      Seq.tabulate(128)(i => if (i % 2 == 0) 0 else 128))
    val media = Seq((1L, silent), (2L, square)).toDF("doc_id", "media")
    val got = operators.Multimodal.audioEnergy(spark, media, win = 64)
      .collect().map(w => (w.doc_id, w.win_idx, w.n_samples, w.rms))
      .sortBy(w => (w._1, w._2)).toSeq
    assert(got == Seq((1L, 0, 64, 0.0), (1L, 1, 36, 0.0),
      (2L, 0, 64, 64.0), (2L, 1, 64, 64.0)), s"windows: $got")
  }

  test("m7 audio trim: voiced span bounds, all-silent doc is NULL") {
    import spark.implicits._
    // '@' is byte 64 → sample 0 (silence); 'z' is 122 → sample 58 > 42
    val docs = Seq(
      (1L, "@" * 64 + "z" * 64 + "@" * 64), // silence|voice|silence
      (2L, "@" * 80),                       // all silent
      (3L, "z" * 100))                      // all voiced, short tail win
    val dir = java.nio.file.Files.createTempDirectory("m7t").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("xx")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Multimodal.queries("m7_audio_trim")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 3L, 64L, 128L, 64L),  // middle window only
      (2L, 2L, -1L, -1L, -1L),   // nothing voiced
      (3L, 2L, 0L, 100L, 100L)), // span ends at the 36-sample tail
      s"got $got")
  }

  test("arr31 snapshot diff emits all three CDC classes, no unchanged") {
    val rows = operators.ArrayOps.queries("arr31_snapshot_diff")(spark, sf)
      .collect()
    val classes = rows.map(_.getString(1)).toSet
    assert(classes == Set("added", "updated", "deleted"), s"got $classes")
    rows.foreach { r =>
      r.getString(1) match {
        case "added" => assert(r.isNullAt(2) && !r.isNullAt(3))
        case "deleted" => assert(!r.isNullAt(2) && r.isNullAt(3))
        case "updated" =>
          assert(!r.isNullAt(2) && !r.isNullAt(3) &&
            r.getDouble(2) != r.getDouble(3))
      }
    }
  }

  test("m6 image near-dup: injected fixtures hit every output family") {
    import spark.implicits._
    // 60-char texts tile a real 61×13 PNG raster; the 60 sampled
    // pixels read text positions (i·793//60) mod 60. base: 30×'a' +
    // 30×'z'; dup: byte-identical (dist 0); near: 3 a→z flips (4 of
    // the 60 samples land on changed positions → dist 4); far:
    // inverted pattern (dist 60, dropped)
    val base = "a" * 30 + "z" * 30
    val near = "zzz" + "a" * 27 + "z" * 30
    val far = "z" * 30 + "a" * 30
    val dir = java.nio.file.Files.createTempDirectory("m6").toString
    Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Multimodal.queries("m6_image_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // (1,2,0): identical-hash member row; (1,3,4): banded near pair
    // (heads only — 2 is represented by 1); (·,4): dist 60, dropped
    assert(got == Seq((1L, 2L, 0L), (1L, 3L, 4L)), s"pairs: $got")
    // pure-Scala brute-force replay of the raster rule + O(n²)
    // hamming: banding must lose nothing at dist ≤ 6 (10 bands
    // pigeonhole)
    def ahash(t: String): Long = {
      val n = t.length
      val npx = (n % 64 + 1).toLong * (n % 48 + 1)
      val px = (0 until 60).map(i =>
        if (n == 0) 0L else t.charAt(((i * npx / 60) % n).toInt).toLong)
      val s = px.sum
      px.zipWithIndex.foldLeft(0L) { case (h, (p, i)) =>
        if (p * 60L > s) h | (1L << i) else h
      }
    }
    val docs = Seq(1L -> base, 2L -> base, 3L -> near, 4L -> far)
    val heads = docs.groupBy(d => ahash(d._2))
      .map { case (h, ds) => h -> ds.map(_._1).min }
    val d0 = docs.filter(d => heads(ahash(d._2)) != d._1)
      .map(d => (heads(ahash(d._2)), d._1, 0L))
    val nr = heads.toSeq.combinations(2).map(_.sortBy(_._2)).collect {
      case Seq((ha, i), (hb, j))
          if java.lang.Long.bitCount(ha ^ hb) >= 1 &&
            java.lang.Long.bitCount(ha ^ hb) <= 6 =>
        (i, j, java.lang.Long.bitCount(ha ^ hb).toLong)
    }.toSeq
    assert(got == (d0 ++ nr).sortBy(p => (p._1, p._2)), "brute-force diff")
  }

  test("simhash of identical text is identical; small edits stay near") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val sims = df.select(col("doc_id"),
      functions.TextFunctions.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(2L))
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(3L)) <= 12)
  }

  test("p4 range predicate reaches the parquet scan (PushedFilters)") {
    val df = operators.Relational.queries("p4_range_pushdown")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_orderkey,100)"), plan.take(2000))
  }

  test("j1 join broadcasts the small dimension side") {
    val df = operators.Relational.queries("j1_broadcast_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("sq2 EXISTS subqueries decorrelate to one semi + one anti join") {
    val df = operators.Relational.queries("sq2_exists_subquery")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), "EXISTS must become a semi join")
    assert(plan.contains("LeftAnti"), "NOT EXISTS must become an anti join")
    // decorrelated — no per-row subquery execution node survives
    assert(!plan.contains("InSubqueryExec") && !plan.contains("Subquery s"),
      "predicate subqueries must not execute per-row")
  }

  test("a9 pivot: literal value list, no distinct-values pre-scan") {
    val df = operators.Relational.queries("a9_pivot")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("Initial Plan")).mkString("\n")
    // the explicit Seq("F","O","P") appears as literals inside
    // pivotfirst — had it been omitted, Spark would run a separate
    // collect-distinct JOB before even building this plan
    assert(plan.contains("pivotfirst(o_orderstatus"), plan.take(3000))
    assert(plan.contains("F, O, P"), "pivot values must be plan literals")
    // (yr, status) sum + yr pivotfirst = two aggregation phases; the
    // second exchange is on a subset key — at scale AQE coalesces it
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2)
  }

  test("a10 unpivot is an Expand projection — no join, no extra shuffle") {
    val df = operators.Relational.queries("a10_unpivot")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("Initial Plan")).mkString("\n")
    assert(plan.contains("Expand"), "unpivot should plan an Expand")
    assert(!plan.contains("Join"), "unpivot must not plan a join")
    // only the output ORDER BY exchanges (range partitioning)
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
  }

  test("t19 BPE top-20 is a bounded TakeOrdered, not a global sort") {
    val df = operators.TextOps.queries("t19_bpe_pairs")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("Initial Plan")).mkString("\n")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("p1 projection prunes the parquet read schema to 2 columns") {
    val df = operators.Relational.queries("p1_projection")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("l_orderkey") && scan.contains("l_extendedprice")
      && !scan.contains("l_quantity"), scan)
  }

  test("top-V unigram model bounds the broadcast and scores OOV tokens") {
    val docs = Tables.load(spark, sf, "documents")
    val topV = 10 // sf0.001's synthetic vocabulary is only ~31 types
    val scored = operators.TextOps.unigramLogProbTopV(docs, topV)
    val rows = scored.collect()
    assert(rows.length == docs.count())
    // every doc scores finitely; docs with rare tokens report OOV hits
    assert(rows.forall(r => !r.isNullAt(1) &&
      !java.lang.Double.isInfinite(r.getDouble(1))))
    assert(rows.exists(_.getLong(2) > 0L), "expected some OOV tokens")
    // with topV >= full vocabulary the model degenerates to the exact
    // unigram scorer (no OOV anywhere)
    val vocabSize = docs
      .select(explode(functions.TextFunctions.tokens(col("text"))).as("t"))
      .distinct().count().toInt
    val full = operators.TextOps.unigramLogProbTopV(docs, vocabSize + 1)
    assert(full.agg(sum("n_oov")).collect().head.getLong(0) == 0L)
    // broadcast side is capped: the vocabulary join must broadcast
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("v7 semantic decontam matches the cross-join argmax; single pass") {
    val e = Tables.load(spark, sf, "embeddings")
    val out = operators.Similarity.semanticDecontam(e, 0.25)
    // brute-force reference: corpus × eval cosine, per-corpus argmax
    // (cos desc, eval_id asc), threshold at the same cut
    val ev = e.filter(col("label") === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
    val ref = e.filter(col("label") =!= 0)
      .select(col("vec_id"), col("embedding").as("cv"))
      .crossJoin(ev)
      .select(col("vec_id"), col("eval_id"),
        functions.VectorFunctions.cosine(col("cv"), col("ev")).as("cos"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("cos").desc, col("eval_id"))))
      .filter(col("rk") === 1 && col("cos") >= 0.25)
      .select(col("vec_id"), col("eval_id"),
        round(col("cos"), 6).as("cos"))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = ref.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "threshold flags nothing at sf0.001")
    assert(got.toSeq == want.toSeq)
    // scale shape: the corpus side is ONE codegen'd pass — no join, no
    // row inflation; the only exchange is the final tiny orderBy
    val plan = out.queryExecution.executedPlan.toString.linesIterator
      .takeWhile(!_.contains("Initial Plan")).mkString("\n")
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("v7 zero-norm vectors are never flagged (no NaN escape)") {
    import spark.implicits._
    // corpus row 10 is the zero vector: cos would be 0/0 = NaN, and
    // Spark's NaN-is-greatest comparisons would flag it; the kernel
    // defines zero-norm cosine as -1 instead. Row 11 aligns exactly
    // with the eval vector and must be flagged with cos 1.0.
    val dim = 4
    val e = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0),   // eval
      (10L, Array(0f, 0f, 0f, 0f), 1),  // zero corpus vector
      (11L, Array(2f, 0f, 0f, 0f), 1),  // aligned corpus vector
      (12L, Array(0f, 1f, 0f, 0f), 1)   // orthogonal corpus vector
    ).toDF("vec_id", "embedding", "label")
    assert(e.head().getSeq[Float](1).length == dim)
    val out = operators.Similarity.semanticDecontam(e, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((11L, 1L, 1.0)))
  }

  test("t11 hashed features equal a plain-Scala recompute; shuffle-free") {
    val out = operators.TextOps.queries("t11_hashed_features")(spark, sf)
    val rows = out.collect()
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").orderBy("doc_id").collect()
    assert(rows.length == docs.length)
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.take(13), 16) % 64).toInt
    }
    rows.zip(docs).take(50).foreach { case (r, d) =>
      assert(r.getLong(0) == d.getLong(0))
      val want = new Array[Long](64)
      d.getString(1).trim.split("\\s+").foreach(t => want(bucket(t)) += 1)
      val got = r.getString(1).split(",").map(_.toLong).toSeq
      assert(got == want.toSeq, s"doc ${d.getLong(0)}")
      assert(r.getLong(2) == want.count(_ > 0).toLong)
    }
    // per-row featurization: no exchange except the final orderBy
    val shuffles = out.queryExecution.executedPlan.toString.linesIterator
      .takeWhile(!_.contains("Initial Plan"))
      .count(l => l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(shuffles == 0, "feature extraction shuffled")
  }

  test("t14 classifier: sigmoid of weighted features, shuffle-free") {
    val out = operators.TextOps.queries("t14_quality_classifier")(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getDouble(1)
      assert(p > 0.0 && p < 1.0, s"doc ${r.getLong(0)}: prob $p")
      assert(r.getBoolean(2) == (p >= 0.5))
    }
    // probabilities must actually discriminate (weights not degenerate)
    assert(rows.map(_.getDouble(1)).distinct.length > 10)
    // one hand-check against an independent Scala recompute
    val d0 = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").orderBy("doc_id").head()
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.take(13), 16) % 64).toInt
    }
    val vec = new Array[Double](64)
    d0.getString(1).trim.split("\\s+").foreach(t => vec(bucket(t)) += 1)
    val wts = operators.TextOps.classifierWeights
    val total = vec.sum
    val dot = vec.indices.foldLeft(0.0)((a, i) => a + vec(i) * wts(i))
    val z = if (total > 0) 0.1 + dot / total else 0.1
    val want = BigDecimal(1.0 / (1.0 + math.exp(-z)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(rows.head.getDouble(1) - want) < 1e-9,
      s"hand-check: got ${rows.head.getDouble(1)}, want $want")
    // per-row inference: no exchange except the final orderBy
    val shuffles = out.queryExecution.executedPlan.toString.linesIterator
      .takeWhile(!_.contains("Initial Plan"))
      .count(l => l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(shuffles == 0, "classifier inference shuffled")
  }

  test("t12 bigram LM: conditionals sum to 1, counts match naive") {
    val dd = Tables.load(spark, sf, "documents")
    val table = operators.TextOps.bigramLmTable(dd).cache()
    // per-context probabilities are a distribution (rounding slack)
    val badSums = table.groupBy("w1").agg(sum("p").as("ps"))
      .filter(abs(col("ps") - 1.0) > 1e-3).count()
    assert(badSums == 0, "P(.|w1) does not sum to 1")
    // counts equal a naive per-doc recount for the top bigram
    val top = table.orderBy(col("c").desc, col("bigram")).limit(1)
      .collect().head
    val (bg, c) = (top.getString(1), top.getLong(2))
    val naive = dd.select(col("text")).collect().map { r =>
      val toks = r.getString(0).trim.split("\\s+")
      toks.sliding(2).count(p => p.length == 2 && p.mkString(" ") == bg)
    }.sum
    assert(naive.toLong == c, s"$bg: naive $naive vs $c")
    table.unpersist()
  }

  test("v8 semdedup keeps exactly one representative per cluster") {
    val out = operators.Similarity.queries("v8_semdedup")(spark, sf).cache()
    assert(out.count() ==
      Tables.load(spark, sf, "embeddings").count(), "row per corpus vector")
    // exactly one kept member per cluster, and it is the min-id member
    val multiKept = out.filter(col("kept")).groupBy("cluster")
      .agg(count(lit(1)).as("n")).filter(col("n") =!= 1).count()
    assert(multiKept == 0, "cluster with != 1 kept representative")
    val wrongRep = out.groupBy("cluster").agg(min("vec_id").as("mn"))
      .join(out.filter(col("kept")), "cluster")
      .filter(col("mn") =!= col("vec_id")).count()
    assert(wrongRep == 0, "kept representative is not the min member")
    // some clusters are non-trivial at sf0.001
    assert(out.filter(!col("kept")).count() > 0, "no duplicates dropped")
    out.unpersist()
  }

  test("v12 MMR greedy matches a plain-Scala replay over exact top-20") {
    val got = operators.Similarity.queries("v12_mmr_diverse")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn == 0.0) 0.0 else d / nn
    }
    val expect = (0L until 5L).flatMap { qid =>
      val qv = vecs(qid)
      val cand = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(20)
      var remaining = cand.map { case (id, c) => (id, c, 0.0) }
      var sel = Vector.empty[(Long, Long, Long)]
      for (step <- 1 to 5) {
        val (pid, _, _) = remaining
          .minBy { case (id, c, dv) => (-(0.7 * c - 0.3 * dv), id) }
        sel :+= ((qid, step.toLong, pid))
        remaining = remaining.filter(_._1 != pid).map { case (id, c, dv) =>
          (id, c, math.max(dv, cos(vecs(id), vecs(pid))))
        }
      }
      sel
    }
    assert(got == expect, "distributed greedy diverges from the replay")
    // diversity actually engaged: some pick is NOT the plain top-5
    val plain = (0L until 5L).flatMap { qid =>
      val qv = vecs(qid)
      vecs.toSeq.filter(_._1 != qid).map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5)
        .zipWithIndex.map { case ((id, _), i) => (qid, (i + 1).toLong, id) }
    }
    assert(got != plain, "MMR never deviated from plain top-5 (λ inert?)")
  }

  test("v12 kernel MMR equals the unrolled-dataflow twin row-for-row") {
    val e = Tables.load(spark, sf, "embeddings")
    val kernel = operators.Similarity
      .mmrDiverseTopKKernel(e, 20, 5, 0.7, 0.3).collect().map(_.toSeq).toSeq
    val dataflow = operators.Similarity
      .mmrDiverseTopK(e, 20, 5, 0.7, 0.3).collect().map(_.toSeq).toSeq
    assert(kernel == dataflow)
  }
}
