package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.core._
import graft.sources.GraftArray

/** Planning-level behavior of the connector: reported statistics
  * (reference `records` estimate, SURVEY §4) and runtime filtering
  * (the DPP/MRR-batched-key analog, J3). */
class ScanPlanningSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_plan").toString + "/arr"

  private val sch = ArraySchema(ArrayKind.Sparse,
    Seq(DimensionSpec("k", LongType)),
    Seq(AttributeSpec("v", DoubleType)))

  test("SupportsReportStatistics feeds exact row counts to Catalyst") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri,
      spark.range(0, 1000).select(col("id").as("k"), rand(7).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    val stats = scan.computeStats()
    assert(stats.rowCount.contains(BigInt(1000)), stats)
    // with a pruning filter, stats shrink to the surviving fragments
    val filtered = df.filter(col("k") >= 2000L) // outside any fragment
    val scan2 = filtered.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    assert(scan2.computeStats().rowCount.contains(BigInt(0)), scan2.computeStats())
  }

  test("runtime filtering prunes fragments from join-side dim values") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    // 4 disjoint fragments of 100 keys each
    for (base <- Seq(0L, 1000L, 2000L, 3000L))
      GraftArray.write(spark, uri, spark.range(base, base + 100)
        .select(col("id").as("k"), (col("id") % 10).cast("double").as("v")))
    val arr = spark.read.format("graftarray").option("path", uri).load()
    val keys = Seq(5L, 1050L).toDF("k") // hits fragments 1 and 2 only
    val joined = arr.join(keys, Seq("k"))
    val got = joined.orderBy("k").select("k", "v").as[(Long, Double)].collect()
    assert(got.toSeq == Seq((5L, 5.0), (1050L, 0.0)))
    // after execution, the scan's runtime-filtered partition set covers
    // at most 2 fragments (broadcast-exchange feeds filter())
    val scans = joined.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    val arrScan = scans.find(_.inputPartitions.nonEmpty)
    arrScan.foreach { sc =>
      val frags = sc.inputPartitions.collect {
        case p: graft.sources.v2.GraftInputPartition =>
          p.files.map(_._1.split("/frag_")(1).split("/")(0))
      }.flatten.distinct
      assert(frags.size <= 2, s"runtime filter did not prune: $frags")
    }
  }

  test("range-shaped runtime filters prune fragments (MRR super-ranges)") {
    import org.apache.spark.sql.sources.{And => SAnd, GreaterThanOrEqual, LessThan}
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    for (base <- Seq(0L, 1000L, 2000L, 3000L))
      GraftArray.write(spark, uri, spark.range(base, base + 100)
        .select(col("id").as("k"), lit(1.0).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.scan
      .asInstanceOf[graft.sources.v2.GraftScanImpl]
    def fragsNow(): Seq[String] = scan.planInputPartitions().collect {
      case p: graft.sources.v2.GraftInputPartition => p }
      .flatMap(_.files.map(_._1.split("/frag_")(1).split("/")(0)))
      .distinct.toSeq
    assert(fragsNow().size == 4)
    // a range filter (as a DPP-style join would produce) prunes to the
    // two fragments overlapping [1000, 3000)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      SAnd(GreaterThanOrEqual("k", 1000L), LessThan("k", 3000L))))
    val frags = fragsNow()
    assert(frags.size == 2, s"range runtime filter did not prune: $frags")
    // further narrowing composes (intervals intersect)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](LessThan("k", 1100L)))
    assert(fragsNow().size == 1, s"narrowing did not compose: ${fragsNow()}")
  }

  test("attribute-stats pruning skips files on merge-free scans") {
    val uri = tmp()
    // disjoint k ranges AND disjoint v ranges per fragment; dim preds
    // would not prune on v, so any skipping here is attr-stats-driven
    GraftArray.create(spark, uri, sch)
    for (i <- 0 until 4)
      GraftArray.write(spark, uri, spark.range(i * 100L, i * 100L + 100)
        .select(col("id").as("k"), (col("id").cast("double")).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    def files(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .head.scan.asInstanceOf[graft.sources.v2.GraftScanImpl]
        .planInputPartitions().collect {
          case p: graft.sources.v2.GraftInputPartition => p }
        .flatMap(_.files.map(_._1)).toSeq
    val all = files(df)
    val pruned = files(df.filter(col("v") >= 150.0 && col("v") <= 250.0))
    assert(pruned.size < all.size,
      s"attr pred pruned nothing: ${pruned.size} of ${all.size}")
    // correctness: pruned plan returns exactly the matching rows
    assert(df.filter(col("v") >= 150.0 && col("v") <= 250.0).count() == 101)
    // runtime attr filters (DPP on an attr join key) prune the same way
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.scan
      .asInstanceOf[graft.sources.v2.GraftScanImpl]
    assert(scan.filterAttributes().map(_.describe()).contains("v"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan("v", 100.0)))
    val narrowed = scan.planInputPartitions().collect {
      case p: graft.sources.v2.GraftInputPartition => p }.flatMap(_.files)
    assert(narrowed.size < all.size, "runtime attr filter pruned nothing")
  }

  test("attribute-stats pruning disables itself under latest-wins merge") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch) // no dups: overlap = merge
    GraftArray.write(spark, uri, spark.range(0, 100)
      .select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.write(spark, uri, spark.range(0, 100)
      .select(col("id").as("k"), lit(2.0).as("v"))) // newer, shadows all
    val df = spark.read.format("graftarray").option("path", uri).load()
    // v <= 1.0 matches no MERGED row (every latest row has v=2.0); if
    // the newer file were skipped from its stats, the old rows would
    // resurface and wrongly match
    assert(df.filter(col("v") <= 1.0).count() == 0)
    assert(df.filter(col("v") === 2.0).count() == 100)
  }

  test("ORDER BY dim0 LIMIT k prunes tail files (partial TopN push)") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    for (base <- Seq(0L, 1000L, 2000L, 3000L))
      GraftArray.write(spark, uri, spark.range(base, base + 100)
        .select(col("id").as("k"), col("id").cast("double").as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    def nFiles(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .head.scan.asInstanceOf[graft.sources.v2.GraftScanImpl]
        .planInputPartitions().collect {
          case p: graft.sources.v2.GraftInputPartition => p }
        .map(_.files.size).sum
    val all = nFiles(df)
    val asc = df.orderBy("k").limit(50)
    assert(nFiles(asc) < all, s"TopN pruned nothing of $all files")
    assert(asc.collect().map(_.getLong(0)).toSeq == (0L until 50L).toSeq)
    val desc = df.orderBy(col("k").desc).limit(50)
    assert(nFiles(desc) < all, "desc TopN pruned nothing")
    assert(desc.collect().map(_.getLong(0)).toSeq ==
      (3050L until 3100L).reverse.toSeq)
    // secondary sort keys ride along: primary-key pruning stays exact
    val multi = df.orderBy(col("k"), col("v").desc).limit(50)
    assert(multi.collect().map(_.getLong(0)).toSeq == (0L until 50L).toSeq)
  }

  test("TopN pruning stands down under tombstones (ghost-count hazard)") {
    // F1 holds k in [0,100); a later fragment deletes ALL of F1 and
    // writes [200,300). With planning-time fileRows, F1's 100 masked
    // rows would "sort before" the survivors and prune their file —
    // ORDER BY k LIMIT 10 must still return 200..209.
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri, spark.range(0, 100)
      .select(col("id").as("k"), col("id").cast("double").as("v")))
    GraftArray.commitTombstone(spark, uri,
      graft.sources.v2.PredicateSupport.Cmp("<=", "k", 100L))
    GraftArray.write(spark, uri, spark.range(200, 300)
      .select(col("id").as("k"), col("id").cast("double").as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    val got = df.orderBy("k").limit(10).collect().map(_.getLong(0)).toSeq
    assert(got == (200L until 210L).toSeq, s"got $got")
  }

  test("TopN pruning is exact under randomized disjoint layouts") {
    val rnd = new scala.util.Random(12345)
    for (_ <- 1 to 3) {
      val uri = tmp()
      GraftArray.create(spark, uri, sch)
      var lo = 0L
      val ranges = (0 until 2 + rnd.nextInt(3)).map { _ =>
        val start = lo + rnd.nextInt(100)
        val n = 50 + rnd.nextInt(200)
        lo = start + n + rnd.nextInt(50)
        (start, start + n)
      }
      rnd.shuffle(ranges).foreach { case (a, b) =>
        GraftArray.write(spark, uri, spark.range(a, b)
          .select(col("id").as("k"), col("id").cast("double").as("v")))
      }
      val df = spark.read.format("graftarray").option("path", uri).load()
      val expected = ranges.flatMap(r => r._1 until r._2).sorted
      for (asc <- Seq(true, false);
           k <- Seq(1, 7, 60, expected.size)) {
        val q = if (asc) df.orderBy("k").limit(k)
                else df.orderBy(col("k").desc).limit(k)
        val got = q.collect().map(_.getLong(0)).toSeq
        val want = if (asc) expected.take(k) else expected.reverse.take(k)
        assert(got == want, s"asc=$asc k=$k: got ${got.take(5)}…")
      }
    }
  }

  test("LIMIT over a scan stays exact, merged arrays included") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri,
      spark.range(0, 10000).select(col("id").as("k"),
        (col("id") % 7).cast("double").as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    assert(df.limit(5).count() == 5)
    // limit composed with a pushed filter keeps filter-then-limit order
    val got = df.filter(col("v") === 3.0).limit(4)
      .select("k").collect().map(_.getLong(0))
    assert(got.length == 4 && got.forall(k => k % 7 == 3))
    // an overlapping rewrite of every key: the 5 rows Spark's Limit
    // takes from the merge partitions are latest-wins rows
    GraftArray.write(spark, uri,
      spark.range(0, 10000).select(col("id").as("k"), lit(-1.0).as("v")))
    val merged = spark.read.format("graftarray").option("path", uri).load()
    val five = merged.limit(5).collect()
    assert(five.length == 5 && five.forall(_.getDouble(1) == -1.0),
      five.mkString(","))
    assert(five.map(_.getLong(0)).distinct.length == 5)
  }

  /** Two overlapping fragments of 4 range-clustered files each, the
    * second `n / 8` keys up (half a file), so that every file of one
    * overlaps a file of the other: ONE latest-wins component of 2n
    * rows, past the merge state one task may hold. */
  private val bigMerge = 140000L

  test("overlapping multi-file fragments split into range-slab partitions") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    // the case where one merge partition per overlap component would
    // put 2 × 140k rows through a single merge task
    val n = bigMerge
    assert(2 * n > graft.sources.v2.GraftScanImpl.MergeCells)
    GraftArray.write(spark, uri, spark.range(0, n).repartition(4)
      .select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.write(spark, uri, spark.range(n / 8, n / 8 + n).repartition(4)
      .select(col("id").as("k"), lit(2.0).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    assert(df.count() == n / 8 + n)
    // newest fragment wins at every coordinate it holds
    assert(df.filter(col("k") >= n / 8).agg(min("v"), max("v"))
      .as[(Double, Double)].head() == ((2.0, 2.0)))
    assert(df.filter(col("k") < n / 8).agg(min("v"), max("v"))
      .as[(Double, Double)].head() == ((1.0, 1.0)))
    val parts = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions }.flatten
    assert(parts.size > 1, s"overlap group planned ${parts.size} partition(s)")
    // slab bounds are set and rows are emitted exactly once (count above)
    val slabs = parts.collect {
      case p: graft.sources.v2.GraftInputPartition
        if p.slabLo.isDefined || p.slabHi.isDefined => p }
    assert(slabs.nonEmpty, "no slab-bounded partitions planned")
  }

  test("coincident string-MBR overlap group splits via hash ownership") {
    // two fully-overlapping single-file string-dim fragments: identical
    // per-file MBRs, nothing to cut ranges on — the round-2 fallback
    // collapsed this to ONE merge task. Hash ownership must keep it
    // parallel AND exactly-once.
    val uri = tmp()
    val ssch = ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("name", StringType)),
      Seq(AttributeSpec("v", DoubleType)))
    GraftArray.create(spark, uri, ssch)
    GraftArray.write(spark, uri, spark.range(0, 500).coalesce(1)
      .select(concat(lit("doc_"), col("id")).as("name"), lit(1.0).as("v")))
    GraftArray.write(spark, uri, spark.range(0, 500).coalesce(1)
      .select(concat(lit("doc_"), col("id")).as("name"), lit(2.0).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    assert(df.count() == 500)
    // newest fragment wins everywhere; no row lost or duplicated
    assert(df.agg(min("v"), max("v")).as[(Double, Double)].head() == ((2.0, 2.0)))
    val parts = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions }.flatten.collect {
      case p: graft.sources.v2.GraftInputPartition => p }
    assert(parts.size > 1,
      s"coincident string overlap group planned ${parts.size} partition(s)")
    assert(parts.forall(_.hashMod == parts.size))
    assert(parts.map(_.hashIdx).sorted == parts.indices)
  }

  test("overlapping fragments without per-file stats plan hash partitions") {
    // planner-level: a manifest with fragment-level MBRs but NO per-file
    // stats (e.g. written by an older/simpler client) must not collapse
    // the merge into one task
    val frags = Seq(
      FragmentMeta("f1", 1L, Seq("frag_f1/p0.parquet"), 100,
        stats = Map("k" -> ColumnStats(Some("0"), Some("99"), 0, None, None))),
      FragmentMeta("f2", 2L, Seq("frag_f2/p0.parquet"), 100,
        stats = Map("k" -> ColumnStats(Some("0"), Some("99"), 0, None, None))))
    val scan = new graft.sources.v2.GraftScanImpl(
      spark, "/tmp/nonexistent_graft_stats", sch, frags, sch.toStruct,
      Nil, Map.empty)
    val parts = scan.planInputPartitions().collect {
      case p: graft.sources.v2.GraftInputPartition => p }
    assert(parts.length == 2, s"planned ${parts.length} partition(s)")
    assert(parts.forall(p => p.hashMod == 2 && p.needDedup))
    assert(parts.map(_.hashIdx).sorted.toSeq == Seq(0, 1))
    // every sibling reads the whole group's files
    assert(parts.forall(_.files.size == 2))
  }

  test("decimal-dim overlap group slab-splits and merges correctly") {
    // slab bounds live in the manifest stats domain (unscaled longs);
    // decoded rows carry Decimal — the ownership filter must normalize,
    // not throw 'incomparable'
    val uri = tmp()
    val dsch = ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("price", DecimalType(10, 2))),
      Seq(AttributeSpec("v", DoubleType)))
    GraftArray.create(spark, uri, dsch)
    val n = bigMerge
    def rows(lo: Long, v: Double) = spark.range(lo, lo + n).repartition(4)
      .select((col("id").cast("decimal(10,2)") / 4).cast("decimal(10,2)")
        .as("price"), lit(v).as("v"))
    GraftArray.write(spark, uri, rows(0, 1.0))
    GraftArray.write(spark, uri, rows(n / 8, 2.0))
    val df = spark.read.format("graftarray").option("path", uri).load()
    assert(df.count() == n / 8 + n)
    val newer = col("price") >= lit(n / 8 / 4).cast("decimal(10,2)")
    assert(df.filter(newer).agg(min("v"), max("v"))
      .as[(Double, Double)].head() == ((2.0, 2.0)))
    assert(df.filter(!newer).agg(min("v"), max("v"))
      .as[(Double, Double)].head() == ((1.0, 1.0)))
    val parts = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions }.flatten
    assert(parts.size > 1, s"decimal overlap group planned ${parts.size}")
    assert(parts.exists {
      case p: graft.sources.v2.GraftInputPartition => p.slabLo.isDefined
      case _ => false
    }, "no slab-bounded partitions planned")
  }

  test("string-dim prefix predicate prunes fragments via [p, succ(p))") {
    val uri = tmp()
    val ssch = ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("name", StringType)),
      Seq(AttributeSpec("v", DoubleType)))
    GraftArray.create(spark, uri, ssch)
    GraftArray.write(spark, uri, spark.range(0, 100)
      .select(concat(lit("apple_"), col("id")).as("name"),
        lit(1.0).as("v")))
    GraftArray.write(spark, uri, spark.range(0, 100)
      .select(concat(lit("berry_"), col("id")).as("name"),
        lit(2.0).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
      .filter(col("name").startsWith("app"))
    assert(df.count() == 100)
    assert(df.agg(min("v"), max("v")).as[(Double, Double)].head() == ((1.0, 1.0)))
    val frags = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions }.flatten.collect {
      case p: graft.sources.v2.GraftInputPartition =>
        p.files.map(_._1.split("/frag_")(1).split("/")(0))
    }.flatten.distinct
    assert(frags.size == 1, s"prefix did not prune fragments: $frags")
  }

  test("disjoint-fragment and merge scans both run columnar") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri,
      spark.range(0, 1000).select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.write(spark, uri,
      spark.range(5000, 6000).select(col("id").as("k"), lit(2.0).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    assert(scan.supportsColumnar,
      "disjoint fragments should use the vectorized columnar reader")
    assert(df.count() == 2000)
    // pushed predicate still correct through the columnar path (Spark
    // re-applies it as a codegen filter over the batches)
    assert(df.filter(col("k") >= 5500L && col("v") === 2.0).count() == 500)
    // overlapping fragments (latest-wins merge) read columnar too
    val uri2 = tmp()
    GraftArray.create(spark, uri2, sch)
    GraftArray.write(spark, uri2,
      spark.range(0, 100).coalesce(1).select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.write(spark, uri2,
      spark.range(0, 100).coalesce(1).select(col("id").as("k"), lit(2.0).as("v")))
    val df2 = spark.read.format("graftarray").option("path", uri2).load()
    val scan2 = df2.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    assert(scan2.supportsColumnar, "merge partitions read columnar")
    assert(df2.count() == 100)
  }

  test("mixed disjoint + overlapping fragments scan columnar, not crash") {
    // one disjoint fragment (a simple partition) next to an overlapping
    // pair (slab merge partitions): Spark rejects scans whose
    // partitions disagree on row-vs-columnar ("Cannot mix row-based and
    // columnar input partitions"), so every partition kind must answer
    // the same
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri, spark.range(0, 500).coalesce(1)
      .select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.write(spark, uri, spark.range(0, 500).coalesce(1)
      .select(col("id").as("k"), lit(2.0).as("v")))
    GraftArray.write(spark, uri, spark.range(5000, 5500).coalesce(1)
      .select(col("id").as("k"), lit(3.0).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    val parts = scan.inputPartitions.collect {
      case p: graft.sources.v2.GraftInputPartition => p }
    // the plan genuinely mixes simple and merge partitions
    assert(parts.exists(p => !p.needDedup && p.slabLo.isEmpty &&
      p.slabHi.isEmpty && p.hashMod == 0), "no simple partition planned")
    assert(parts.exists(p => p.needDedup || p.slabLo.isDefined ||
      p.slabHi.isDefined || p.hashMod > 0), "no merge partition planned")
    // uniform columnar execution, correct merge result
    assert(scan.supportsColumnar, "mixed plan must be uniformly columnar")
    assert(df.count() == 1000)
    assert(df.filter(col("k") < 500L).agg(min("v"), max("v"))
      .as[(Double, Double)].head() == ((2.0, 2.0)))
    assert(df.filter(col("k") >= 5000L).agg(min("v"), max("v"))
      .as[(Double, Double)].head() == ((3.0, 3.0)))
  }

  test("columnar scan handles schema evolution with null vectors") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri,
      spark.range(0, 50).select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.addColumn(spark, uri,
      AttributeSpec("extra", LongType, nullable = true))
    GraftArray.write(spark, uri,
      spark.range(100, 150).select(col("id").as("k"), lit(2.0).as("v"),
        col("id").as("extra")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    val got = df.orderBy("k").select("k", "extra")
      .as[(Long, Option[Long])].collect()
    assert(got.length == 100)
    assert(got.take(50).forall(_._2.isEmpty)) // old fragment → nulls
    assert(got.drop(50).forall(r => r._2.contains(r._1)))
  }

  test("dense scan materializes fills in-reader (no opt-in flag)") {
    val uri = tmp()
    val dsch = ArraySchema(ArrayKind.Dense,
      Seq(DimensionSpec("r", LongType, Some("0"), Some("9"), Some(10L)),
        DimensionSpec("c", LongType, Some("0"), Some("9"), Some(10L))),
      Seq(AttributeSpec("v", LongType, nullable = true, fillValue = Some("-1")),
        AttributeSpec("s", StringType, nullable = true))) // no fill → null
    GraftArray.create(spark, uri, dsch)
    // write 10 scattered cells of the 100-cell domain
    GraftArray.write(spark, uri, spark.range(0, 10)
      .select(col("id").as("r"), ((col("id") * 3) % 10).as("c"),
        col("id").as("v"), concat(lit("w"), col("id")).as("s")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    // bare scan covers the whole bounded domain
    assert(df.count() == 100)
    // written cells keep their values; unwritten read fill / null
    val written = df.filter(col("v") =!= -1L)
    assert(written.count() == 10)
    assert(df.filter(col("v") === -1L && col("s").isNull).count() == 90)
    // pushed dim range constrains fills too
    assert(df.filter(col("r") < 2L).count() == 20)
    assert(df.filter(col("r") === 0L && col("c") === 5L)
      .select("v").as[Long].head() == -1L)
    // aggregates must NOT answer from written-cell stats (fills count)
    val agg = df.agg(count(lit(1)).as("n"), min(col("v")).as("mn"))
    assert(!agg.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(agg.as[(Long, Long)].head() == ((100L, -1L)))
    // latest-wins still applies to written cells under fill semantics
    GraftArray.write(spark, uri, Seq((0L, 0L, 777L, "new"))
      .toDF("r", "c", "v", "s"))
    val df2 = spark.read.format("graftarray").option("path", uri).load()
    assert(df2.count() == 100)
    assert(df2.filter(col("r") === 0L && col("c") === 0L)
      .select("v").as[Long].head() == 777L)
  }

  test("dense fill converts decimal and binary fill values to catalyst form") {
    // fill values are stored in manifest string form (decimal = unscaled
    // long, binary = base64); the fill reader must convert — raw storage
    // values in the InternalRow threw ClassCastException downstream
    val uri = tmp()
    val fillBytes = Array[Byte](1, 2, 3)
    val dsch = ArraySchema(ArrayKind.Dense,
      Seq(DimensionSpec("r", LongType, Some("0"), Some("9"), Some(10L))),
      Seq(AttributeSpec("price", DecimalType(10, 2), nullable = true,
          fillValue = Some("1999")), // unscaled → 19.99
        AttributeSpec("blob", BinaryType, nullable = true,
          fillValue = Some(java.util.Base64.getEncoder
            .encodeToString(fillBytes)))))
    GraftArray.create(spark, uri, dsch)
    GraftArray.write(spark, uri, Seq(
      (0L, BigDecimal("1.50"), Array[Byte](9)),
      (9L, BigDecimal("2.50"), Array[Byte](8)))
      .toDF("r", "price", "blob")
      .select(col("r"), col("price").cast(DecimalType(10, 2)).as("price"),
        col("blob")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    assert(df.count() == 10)
    val fills = df.filter(col("r") > 0L && col("r") < 9L)
      .select("price", "blob").collect()
    assert(fills.length == 8)
    assert(fills.forall(_.getDecimal(0) ==
      new java.math.BigDecimal("19.99")), fills.mkString(","))
    assert(fills.forall(r =>
      r.getAs[Array[Byte]](1).sameElements(fillBytes)))
    // written cells unaffected
    assert(df.filter(col("r") === 0L).select("price").collect()
      .head.getDecimal(0) == new java.math.BigDecimal("1.50"))
  }

  test("dense fill covers the non-empty domain, not the declared domain") {
    // [build_subarray mytile-range.cc:1189–1358]: dense reads span the
    // bounding box of written fragments ∩ declared bounds — an empty
    // array scans empty; sparse writes in a huge domain fill only
    // their bounding box
    val uri = tmp()
    val dsch = ArraySchema(ArrayKind.Dense,
      Seq(DimensionSpec("r", LongType, Some("0"), Some("999999"), Some(100L))),
      Seq(AttributeSpec("v", LongType, nullable = true, fillValue = Some("0"))))
    GraftArray.create(spark, uri, dsch)
    val empty = spark.read.format("graftarray").option("path", uri).load()
    assert(empty.count() == 0, "empty dense array must scan empty")
    // write rows 100–109 and 200–204 → non-empty domain [100, 204]
    GraftArray.write(spark, uri, spark.range(100, 110)
      .select(col("id").as("r"), col("id").as("v")))
    GraftArray.write(spark, uri, spark.range(200, 205)
      .select(col("id").as("r"), col("id").as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    assert(df.count() == 105) // 204 − 100 + 1, NOT a million
    assert(df.filter(col("v") === 0L).count() == 90) // fills between
    assert(df.agg(min("r"), max("r")).as[(Long, Long)].head() == ((100L, 204L)))
  }

  test("UTF-8 string pushdown: non-ASCII dims prune without dropping rows") {
    // [t/utf8_pushdown.test] — ranges and prefixes over strings with
    // multi-byte and supplementary characters. Pruning compares in
    // code-point order (TypedValue.utf8Compare); a UTF-16 comparison
    // would mis-order the supplementary block vs U+E000–U+FFFF and
    // could prune fragments that hold matches.
    val uri = tmp()
    val ssch = ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("word", StringType)),
      Seq(AttributeSpec("v", LongType)))
    GraftArray.create(spark, uri, ssch)
    val supp = new String(Character.toChars(0x1F600)) // non-BMP
    val words = Seq("apple", "café", "caffè", "straße", "strasse",
      "ﬀ-ligature", "￿bmp-max", supp + "emoji", supp + "zz",
      "中文", "日本語", "한국어")
    GraftArray.write(spark, uri,
      words.zipWithIndex.map { case (w, i) => (w, i.toLong) }
        .toDF("word", "v").repartition(3))
    val df = spark.read.format("graftarray").option("path", uri).load()
    val truth = words.zipWithIndex.map { case (w, i) => (w, i.toLong) }

    def check(p: org.apache.spark.sql.Column,
        expect: ((String, Long)) => Boolean): Unit = {
      val got = df.filter(p).orderBy("v")
        .as[(String, Long)].collect().toSeq
      assert(got == truth.filter(expect).sortBy(_._2),
        s"predicate $p")
    }
    check(col("word") >= "caf" && col("word") < "cb",
      w => w._1 >= "caf" && w._1 < "cb")
    check(col("word").startsWith("stra"), _._1.startsWith("stra"))
    check(col("word").startsWith(supp), _._1.startsWith(supp))
    // range spanning the BMP/supplementary boundary: UTF-16 order
    // would put U+FFFF above the emoji and drop it
    check(col("word") > "￿",
      w => TypedValue.utf8Compare(w._1, "￿") > 0)
    check(col("word") === "中文", _._1 == "中文")
  }

  test("metadata columns _frag_id/_commit_ts report row provenance") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    val t1 = GraftArray.write(spark, uri, spark.range(0, 100).coalesce(1)
      .select(col("id").as("k"), lit(1.0).as("v")))
    val t2 = GraftArray.write(spark, uri, spark.range(500, 600).coalesce(1)
      .select(col("id").as("k"), lit(2.0).as("v")))
    val frags = GraftArray.fragments(spark, uri)
    val idByTs = frags.map(f => f.timestamp -> f.id).toMap
    val df = spark.read.format("graftarray").option("path", uri).load()
      .select(col("k"), col("v"), col("_frag_id"), col("_commit_ts"))
    // disjoint fragments: provenance rides the COLUMNAR path
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    assert(scan.supportsColumnar, "metadata read should stay columnar")
    val rows = df.as[(Long, Double, String, Long)].collect()
    assert(rows.length == 200)
    assert(rows.filter(_._1 < 500).forall(r =>
      r._3 == idByTs(t1) && r._4 == t1))
    assert(rows.filter(_._1 >= 500).forall(r =>
      r._3 == idByTs(t2) && r._4 == t2))
    // latest-wins merge: the winning version's fragment
    val t3 = GraftArray.write(spark, uri, spark.range(0, 50).coalesce(1)
      .select(col("id").as("k"), lit(3.0).as("v")))
    val idByTs2 = GraftArray.fragments(spark, uri)
      .map(f => f.timestamp -> f.id).toMap
    val merged = spark.read.format("graftarray").option("path", uri).load()
      .select(col("k"), col("_frag_id"), col("_commit_ts"))
      .as[(Long, String, Long)].collect()
    assert(merged.length == 200)
    assert(merged.filter(_._1 < 50).forall(r =>
      r._2 == idByTs2(t3) && r._3 == t3))
    assert(merged.filter(r => r._1 >= 50 && r._1 < 500)
      .forall(r => r._2 == idByTs2(t1)))
    // provenance composes with window reads: CDC-style "changed rows"
    val changed = spark.read.format("graftarray").option("path", uri)
      .option("sinceTimestamp", t3.toString).load()
    assert(changed.select("_commit_ts").distinct().as[Long]
      .collect().toSeq == Seq(t3))
    // predicates on metadata columns evaluate (residual-only, no prune)
    assert(spark.read.format("graftarray").option("path", uri).load()
      .filter(col("_commit_ts") === t2).count() == 100)
  }

  test("user columns shadow metadata column names; fills read null") {
    // a REAL attribute named _frag_id must win over the metadata column
    val uri = tmp()
    val ssch = ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("_frag_id", StringType)))
    GraftArray.create(spark, uri, ssch)
    GraftArray.write(spark, uri,
      Seq((1L, "mine")).toDF("k", "_frag_id"))
    val got = spark.read.format("graftarray").option("path", uri).load()
      .select("_frag_id").as[String].collect()
    assert(got.toSeq == Seq("mine"))
    // dense fill cells are virtual — never committed — so provenance
    // reads null there, real values on written cells
    val dUri = tmp()
    val dsch = ArraySchema(ArrayKind.Dense,
      Seq(DimensionSpec("r", LongType, Some("0"), Some("4"), Some(5L))),
      Seq(AttributeSpec("v", LongType, nullable = true, fillValue = Some("-1"))))
    GraftArray.create(spark, dUri, dsch)
    GraftArray.write(spark, dUri, Seq((0L, 0L), (4L, 4L)).toDF("r", "v"))
    val rows = spark.read.format("graftarray").option("path", dUri).load()
      .select(col("r"), col("v"), col("_frag_id")).orderBy("r")
      .as[(Long, Long, Option[String])].collect()
    assert(rows.length == 5)
    assert(rows.filter(_._2 >= 0).forall(_._3.isDefined))
    assert(rows.filter(_._2 == -1L).forall(_._3.isEmpty))
  }

  test("provenance predicates prune fragments only when merge-safe") {
    def fragsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.inputPartitions }.flatten.collect {
        case p: graft.sources.v2.GraftInputPartition =>
          p.files.map(_._1.split("/frag_")(1).split("/")(0))
      }.flatten.distinct.toSeq

    // disjoint fragments (merge-free): equality prunes to one fragment
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    val t1 = GraftArray.write(spark, uri, spark.range(0, 100)
      .select(col("id").as("k"), lit(1.0).as("v")))
    val t2 = GraftArray.write(spark, uri, spark.range(500, 600)
      .select(col("id").as("k"), lit(2.0).as("v")))
    val eq = spark.read.format("graftarray").option("path", uri).load()
      .filter(col("_commit_ts") === t2)
    assert(fragsOf(eq).size == 1, s"expected 1 fragment: ${fragsOf(eq)}")
    assert(eq.count() == 100)
    assert(eq.agg(min("k")).as[Long].head() == 500L)

    // overlapping fragments (latest-wins): k 0–9 at t1, k 0–4
    // overwritten at t2
    val uri2 = tmp()
    GraftArray.create(spark, uri2, sch)
    val s1 = GraftArray.write(spark, uri2, spark.range(0, 10).coalesce(1)
      .select(col("id").as("k"), lit(1.0).as("v")))
    val s2 = GraftArray.write(spark, uri2, spark.range(0, 5).coalesce(1)
      .select(col("id").as("k"), lit(2.0).as("v")))
    val df2 = spark.read.format("graftarray").option("path", uri2).load()
    // UPPER bound must NOT prune (it would resurface overwritten
    // versions) — semantics are "winners committed ≤ t1" = k 5–9
    val upper = df2.filter(col("_commit_ts") <= s1)
    assert(fragsOf(upper).size == 2, s"unsafe prune: ${fragsOf(upper)}")
    assert(upper.orderBy("k").as[(Long, Double)].collect().toSeq ==
      (5L until 10L).map((_, 1.0)))
    // LOWER bound prunes the old fragment (always safe) = k 0–4
    val lower = df2.filter(col("_commit_ts") >= s2)
    assert(fragsOf(lower).size == 1, s"no prune: ${fragsOf(lower)}")
    assert(lower.orderBy("k").as[(Long, Double)].collect().toSeq ==
      (0L until 5L).map((_, 2.0)))
  }

  test("dim > Long.MaxValue matches nothing (no +1 wrap into consumption)") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri, spark.range(0, 100)
      .select(col("id").as("k"), lit(1.0).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    assert(df.filter(col("k") > Long.MaxValue).count() == 0)
    assert(df.filter(col("k") < Long.MinValue).count() == 0)
    // the aggregate fast path must agree (this wrapped to full-count
    // once predicates became consumable)
    val agg = df.filter(col("k") > Long.MaxValue)
      .agg(count(lit(1))).collect()(0).getLong(0)
    assert(agg == 0, s"aggregate over impossible range returned $agg")
  }

  test("empty pushed range plans zero partitions (empty-scan path)") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri,
      spark.range(0, 100).select(col("id").as("k"), lit(1.0).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
      .filter(col("k") > 50L && col("k") < 40L)
    assert(df.count() == 0)
    val parts = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions }.flatten
    assert(parts.isEmpty, s"expected 0 partitions, got ${parts.size}")
  }

  test("ST_* constant-geometry predicates rewrite to dim ranges and prune") {
    val uri = tmp()
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("x", DoubleType), DimensionSpec("y", DoubleType)),
      Seq(AttributeSpec("v", LongType))))
    // two disjoint spatial fragments: x∈[0,10) and x∈[100,110)
    GraftArray.write(spark, uri, spark.range(0, 10).select(
      col("id").cast("double").as("x"), col("id").cast("double").as("y"),
      col("id").as("v")))
    GraftArray.write(spark, uri, spark.range(100, 110).select(
      col("id").cast("double").as("x"), col("id").cast("double").as("y"),
      col("id").as("v")))
    val cat = "gst"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      java.nio.file.Files.createTempDirectory("graft_st").toString)
    spark.read.format("graftarray").option("path", uri).load()
      .createOrReplaceTempView("st_pts")
    val hex = graft.functions.Wkb.box(2.0, 2.0, 7.0, 7.0)
      .map(b => f"${b & 0xff}%02X").mkString
    val df = spark.sql(s"SELECT v FROM st_pts WHERE " +
      s"$cat.st_intersects($cat.st_point(x, y), X'$hex')")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (2L to 7L))
    // the far fragment never plans a partition (MBR rewrite pruned it)
    val frags = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions }.flatten.collect {
      case p: graft.sources.v2.GraftInputPartition =>
        p.files.map(_._1.split("/frag_")(1).split("/")(0))
    }.flatten.distinct
    assert(frags.size <= 1, s"spatial rewrite did not prune: $frags")
    // st_within over st_geomfromwkb takes the same path
    val df2 = spark.sql(s"SELECT v FROM st_pts WHERE " +
      s"$cat.st_within($cat.st_point(x, y), $cat.st_geomfromwkb(X'$hex'))")
    assert(df2.collect().map(_.getLong(0)).sorted.toSeq == (2L to 7L))
    // non-constant geometry stays a row-wise function (still correct)
    val df3 = spark.sql(s"SELECT v FROM st_pts WHERE " +
      s"$cat.st_intersects($cat.st_point(x, y), $cat.st_point(x, y))")
    assert(df3.count() == 20)
  }

  test("latest-wins merge path decodes files vectorized, not via Groups") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    // overlapping fragments → slab-merge partitions
    GraftArray.write(spark, uri, spark.range(0, 2000).coalesce(2)
      .select(col("id").as("k"), lit(1.0).as("v")))
    GraftArray.write(spark, uri, spark.range(0, 2000).coalesce(2)
      .select(col("id").as("k"), lit(2.0).as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    assert(scan.supportsColumnar, "merge plan reports columnar to Spark")
    // merged result stays exact through the vectorized decode (the
    // only decoder there is)
    assert(df.count() == 2000)
    assert(df.agg(min("v"), max("v")).as[(Double, Double)].head() ==
      ((2.0, 2.0)))
  }

  test("LIST columns in the projection scan columnar, merges included") {
    val uri = tmp()
    GraftArray.create(spark, uri, ArraySchema(ArrayKind.Sparse,
      Seq(DimensionSpec("k", LongType)),
      Seq(AttributeSpec("emb", ArrayType(FloatType)))))
    GraftArray.write(spark, uri, spark.range(0, 100)
      .select(col("id").as("k"),
        array(col("id").cast("float"), lit(1.0f)).as("emb")))
    def load() = spark.read.format("graftarray").option("path", uri).load()
    def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    val embs = load().select("k", "emb")
    assert(scanOf(embs).supportsColumnar,
      "a disjoint LIST projection should scan columnar")
    val want = (0L until 100L).map(k => (k, Seq(k.toFloat, 1.0f)))
    assert(embs.as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq == want)
    assert(load().selectExpr("aggregate(emb, 0D, (a, x) -> a + x)")
      .as[Double].collect().sum == (0 until 100).map(_ + 1.0).sum)
    // an overlapping second fragment forces latest-wins merge slabs:
    // the LIST projection still reads columnar and the newer version wins
    GraftArray.write(spark, uri, spark.range(50, 100)
      .select(col("id").as("k"), array(lit(9.0f), lit(9.0f)).as("emb")))
    val merged = load().select("k", "emb")
    assert(scanOf(merged).supportsColumnar, "merge plan reports columnar")
    assert(merged.as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq ==
      want.take(50) ++ (50L until 100L).map(k => (k, Seq(9.0f, 9.0f))))
    assert(load().select("k").count() == 100)
  }

  test("one reader factory per scan until a runtime filter narrows it") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch)
    GraftArray.write(spark, uri, spark.range(0, 100)
      .select(col("id").as("k"), col("id").cast("double").as("v")))
    val df = spark.read.format("graftarray").option("path", uri).load()
      .filter(col("v") >= 10.0)
    assert(df.count() == 90)
    val execs = (df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b } ++
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b })
    val scan = execs.head.scan.asInstanceOf[graft.sources.v2.GraftScanImpl]
    val first = scan.toBatch.createReaderFactory()
    assert(scan.toBatch.createReaderFactory() eq first)
    // every copy of the exec node holds the scan's one factory
    assert(execs.forall(_.readerFactory eq first))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThan("k", 50L)))
    val narrowed = scan.toBatch.createReaderFactory()
    assert(narrowed ne first)
    assert(scan.toBatch.createReaderFactory() eq narrowed)
  }

  test("clustered scans report output ordering: redundant sorts elided") {
    val uri = tmp()
    GraftArray.create(spark, uri, sch) // ROW_MAJOR default
    GraftArray.write(spark, uri, spark.range(0, 1000)
      .select(col("id").as("k"), rand(11).as("v")))
    // a per-partition sort over the ordered scan is redundant — the
    // reported ordering reaches BatchScanExec.outputOrdering and
    // RemoveRedundantSorts drops the SortExec
    // [ref: index-ordered reads, ha_mytile.cc:3501–3519]
    val q = spark.read.format("graftarray").option("path", uri).load()
      .filter(col("v") >= 0.0).sortWithinPartitions("k")
    assert(q.count() == 1000)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort ["), s"ordered scan still sorts:\n$plan")

    // an OVERLAPPING second fragment forces latest-wins merge slabs →
    // the scan withdraws its ordering and the sort comes back
    GraftArray.write(spark, uri, spark.range(500, 600)
      .select(col("id").as("k"), lit(9.0).as("v")))
    val q2 = spark.read.format("graftarray").option("path", uri).load()
      .sortWithinPartitions("k")
    assert(q2.count() == 1000)
    assert(q2.queryExecution.executedPlan.toString.contains("Sort ["),
      "merge scan must keep its sort")
  }

  test("SMB shape: co-bucketed single-fragment arrays join with no sort") {
    // the 100 TB join shape [SURVEY §7.4.4]: co-bucketed layouts give
    // KeyGroupedPartitioning (no exchange) and the recorded cell-order
    // sort gives per-partition ordering (no SortExec) — a sort-merge
    // join whose inputs stream straight off the files
    val wh = java.nio.file.Files.createTempDirectory("graft_smb").toString
    val cat = "gsmb" + java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    for (t <- Seq("a", "b"))
      spark.sql(s"""CREATE TABLE $cat.$t (k BIGINT, v DOUBLE)
        |TBLPROPERTIES('graft.dimensions'='k', 'graft.buckets'='4',
        |  'graft.allows_dups'='true')""".stripMargin)
    for ((t, mul) <- Seq(("a", 1.0), ("b", 10.0)))
      GraftArray.write(spark, s"$wh/$t", spark.range(0, 1000)
        .select(col("id").as("k"), (col("id") * mul).cast("double").as("v")))
    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.join.preferSortMergeJoin",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val q = spark.sql(
        s"SELECT a.k, a.v, b.v AS w FROM $cat.a a JOIN $cat.b b ON a.k = b.k")
      val joins = q.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joins.nonEmpty,
        s"expected SMJ:\n${q.queryExecution.executedPlan}")
      val sorts = joins.head.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sorts.isEmpty,
        s"SMB inputs still sort:\n${q.queryExecution.executedPlan}")
      val rows = q.collect()
      assert(rows.length == 1000)
      assert(rows.forall(r => r.getDouble(2) == r.getDouble(1) * 10.0))
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DSv2 INSERT sorts each part file by cell order and records it") {
    // the catalog write path declares RequiresDistributionAndOrdering,
    // so even an unsorted INSERT lands dim-sorted files whose manifest
    // carries sortedBy — keeping the ordering report valid across both
    // write paths
    val wh = java.nio.file.Files.createTempDirectory("graft_ord").toString
    val cat = "gord" + java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES('graft.dimensions'='k')""")
    // deliberately unsorted single-partition input
    spark.range(0, 500)
      .select((lit(499) - col("id")).as("k"), rand(3).as("v"))
      .coalesce(1)
      .writeTo(s"$cat.t").append()
    val frags = GraftArray.fragments(spark, s"$wh/t")
    assert(frags.nonEmpty && frags.forall(_.sortedBy == Seq("k")),
      frags.map(_.sortedBy).toString)
    // the raw part file really is sorted by the dim
    val file = frags.head.files.head
    val raw = spark.read.parquet(s"$wh/t/$file")
      .select("k").as[Long].collect()
    assert(raw.toSeq == raw.sorted.toSeq, "file not dim-sorted")
    // and a redundant per-partition sort over the catalog table is
    // elided (the ordering report holds on the DSv2-written fragment)
    val q = spark.table(s"$cat.t").sortWithinPartitions("k")
    assert(q.count() == 500)
    assert(!q.queryExecution.executedPlan.toString.contains("Sort ["),
      q.queryExecution.executedPlan.toString)
  }
}
