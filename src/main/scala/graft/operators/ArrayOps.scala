package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.core._
import graft.sources.GraftArray

/** Connector round-trips for the driver's oracle gate: every query
  * creates a fresh graft array from a source parquet table, pushes data
  * through the fragment-write path, reads it back through the DSv2
  * scan (pushdown and all), and the DuckDB oracle states what the
  * result must equal in plain SQL over the original table. This proves
  * S1/S7/S8/S10/S12, P1–P5/P8–P10 and A1–A7 end-to-end, not just in
  * unit tests.
  */
object ArrayOps {

  // every created temp array is registered for recursive deletion at
  // JVM exit — bench iterates these queries, and without the hook each
  // iteration leaks a full table copy under /tmp until the OS cleans
  // it (File.deleteOnExit cannot remove non-empty directories)
  private def freshUri(name: String): String =
    graft.core.TempDirs.fresh(s"graft_$name") + "/arr"

  /** lineitemSchema's column list — derived, so the five queries that
    * project lineitem for the array write can never drift from the
    * declared array schema. */
  private lazy val lineitemCols: Seq[String] = lineitemSchema.columnNames

  private val lineitemSchema = ArraySchema(
    kind = ArrayKind.Sparse,
    dims = Seq(
      DimensionSpec("l_orderkey", LongType),
      DimensionSpec("l_linenumber", IntegerType)),
    attrs = Seq(
      AttributeSpec("l_quantity", DoubleType),
      AttributeSpec("l_extendedprice", DoubleType),
      AttributeSpec("l_returnflag", StringType),
      AttributeSpec("l_shipdate", TimestampType)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S10+S8+S1+P4/P5: create array ← lineitem, scan back with dim
    // range + attr predicate pushed into the array reader.
    "arr1_roundtrip_filter" -> ((s, d) => {
      val uri = freshUri("rt")
      GraftArray.create(s, uri, lineitemSchema)
      GraftArray.write(s, uri, Tables.load(s, d, "lineitem")
        .select(lineitemCols.map(col): _*))
      s.read.format("graftarray").option("path", uri).load()
        .filter(col("l_orderkey").between(100L, 2000L) &&
          col("l_returnflag") === "A" && col("l_quantity") > 10.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // A1–A7: aggregates answered from fragment statistics (stats-only
    // scan — see ArrayConnectorSpec plan assertion).
    "arr2_agg_pushdown" -> ((s, d) => {
      val uri = freshUri("agg")
      GraftArray.create(s, uri, lineitemSchema)
      GraftArray.write(s, uri, Tables.load(s, d, "lineitem")
        .select(lineitemCols.map(col): _*))
      s.read.format("graftarray").option("path", uri).load()
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"))
    }),

    // Storage-layout maintenance: `CALL cat.rebucket('t', n)` evolves
    // the bucket count and rewrites the visible content as ONE
    // bucket-complete fragment. The two DML INSERTs here are never
    // bucket-complete (the KeyGroupedPartitioning gate rejects them),
    // so before the CALL the table reads under UnknownPartitioning;
    // after it, one fragment bucketed by 4 re-arms shuffle-free joins
    // (RebucketSpec asserts both plan states). The published nf = 1
    // is the falsifiable rewrite witness: skipping the rewrite leaves
    // 2 fragments.
    "arr32_rebucket" -> ((s, d) => {
      val cat = "grb32"
      graft.sources.GraftCatalogs.ensure(s, cat, "graft_rbkq")
      s.sql(s"DROP TABLE IF EXISTS $cat.ords")
      s.sql(s"""CREATE TABLE $cat.ords (o_orderkey BIGINT, o_custkey BIGINT,
        |  o_totalprice DOUBLE)
        |TBLPROPERTIES('graft.dimensions'='o_orderkey',
        |  'graft.buckets'='2')""".stripMargin)
      val o = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      o.filter(col("o_orderkey") % 2 === 0)
        .createOrReplaceTempView(s"src0_$cat")
      o.filter(col("o_orderkey") % 2 === 1)
        .createOrReplaceTempView(s"src1_$cat")
      s.sql(s"INSERT INTO $cat.ords SELECT * FROM src0_$cat")
      s.sql(s"INSERT INTO $cat.ords SELECT * FROM src1_$cat")
      s.sql(s"CALL $cat.rebucket('ords', 4)")
      s.sql(s"""SELECT o.o_custkey, count(*) AS n,
        |  round(sum(o.o_totalprice), 2) AS total, f.nf
        |FROM $cat.ords o CROSS JOIN
        |  (SELECT count(DISTINCT _frag_id) AS nf FROM $cat.ords) f
        |GROUP BY o.o_custkey, f.nf
        |ORDER BY o.o_custkey""".stripMargin)
    }),

    // Storage-partitioned join (round 5): two arrays hash-bucketed the
    // same way on their join dimension (`graft.buckets`) join task-by-
    // task with NO shuffle on either side — the scan reports
    // KeyGroupedPartitioning over the catalog's `bucket(n, dim0)`
    // function. BucketedJoinSpec proves the shuffle-free plan; this
    // query proves the bucketed write→scan→join path end-to-end.
    "j8_bucketed_join" -> ((s, d) => {
      val cat = "gbk" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      val wh = graft.core.TempDirs.fresh("graft_bktq")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      // left enabled for the session deliberately: the returned plan
      // executes lazily after this function returns, and the confs
      // only affect scans that REPORT key grouping (bucketed graft
      // arrays) — every other query's plan is untouched
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.sql(s"""CREATE TABLE $cat.cust (c_custkey BIGINT, c_acctbal DOUBLE)
        |TBLPROPERTIES('graft.dimensions'='c_custkey', 'graft.buckets'='8',
        |  'graft.allows_dups'='true')""".stripMargin)
      s.sql(s"""CREATE TABLE $cat.ords (o_custkey BIGINT, n_orders BIGINT,
        |  total DOUBLE)
        |TBLPROPERTIES('graft.dimensions'='o_custkey', 'graft.buckets'='8',
        |  'graft.allows_dups'='true')""".stripMargin)
      GraftArray.write(s, s"$wh/cust",
        Tables.load(s, d, "customer").select("c_custkey", "c_acctbal"))
      GraftArray.write(s, s"$wh/ords",
        Tables.load(s, d, "orders").groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("total")))
      s.sql(s"""SELECT c.c_custkey, round(c.c_acctbal, 2) AS acctbal,
        |  o.n_orders, o.total
        |FROM $cat.cust c JOIN $cat.ords o ON o.o_custkey = c.c_custkey
        |ORDER BY c.c_custkey""".stripMargin)
    }),

    // TopN pushdown (round 5): ORDER BY dim0 LIMIT k plans only the
    // files that can contribute to the first k rows (clustered-index-
    // order reads, partial push — Spark re-sorts the kept superset, so
    // the secondary key stays exact).
    "arr25_topn" -> ((s, d) => {
      val uri = freshUri("topn")
      GraftArray.create(s, uri, lineitemSchema)
      GraftArray.write(s, uri, Tables.load(s, d, "lineitem")
        .select(lineitemCols.map(col): _*))
      s.read.format("graftarray").option("path", uri).load()
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 2).as("qty"))
        .orderBy("l_orderkey", "l_linenumber").limit(20)
    }),

    // A1 under pushed ranges (round 5): aggregates over a dim range
    // answer from the stats of the covered files alone
    // [ha_mytile.cc:156–194] — the fragment split on the same bound
    // guarantees whole-fragment coverage at any sf.
    "arr24_agg_range" -> ((s, d) => {
      val uri = freshUri("aggr")
      GraftArray.create(s, uri, lineitemSchema)
      val li = Tables.load(s, d, "lineitem")
        .select(lineitemCols.map(col): _*)
      GraftArray.write(s, uri, li.filter(col("l_orderkey") <= 3000L))
      GraftArray.write(s, uri, li.filter(col("l_orderkey") > 3000L))
      s.read.format("graftarray").option("path", uri).load()
        .filter(col("l_orderkey") > 3000L)
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"))
    }),

    // P7 via the SQL surface (round 5): a constant-geometry
    // ST_INTERSECTS call over double dims is RECOGNIZED and rewritten
    // to dim ranges (PredicateSupport.spatialRewrite — the reference's
    // WKB→MBR→subarray path, ha_mytile.cc:2312–2507), pruning
    // fragments/files; same answer as p7_spatial_mbr's manual helper.
    "p7b_spatial_fn" -> ((s, d) => {
      val uri = freshUri("spat")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("x", DoubleType), DimensionSpec("y", DoubleType)),
        Seq(AttributeSpec("p_partkey", LongType)), allowsDups = true)
      GraftArray.create(s, uri, sch)
      GraftArray.write(s, uri, Tables.load(s, d, "part").select(
        col("p_size").cast("double").as("x"),
        col("p_retailprice").as("y"), col("p_partkey")))
      val cat = "gsp" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        graft.core.TempDirs.fresh("graft_spat"))
      val v = s"spat_$cat"
      s.read.format("graftarray").option("path", uri).load()
        .createOrReplaceTempView(v)
      val hex = graft.functions.Wkb.box(10.0, 500.0, 40.0, 1500.0)
        .map(b => f"${b & 0xff}%02X").mkString
      s.sql(
        s"""SELECT p_partkey, x, y FROM $v
           |WHERE $cat.st_intersects($cat.st_point(x, y), X'$hex')
           |ORDER BY p_partkey, x, y""".stripMargin)
    }),

    // P7 GEOMETRY-COLUMN form (round 6) — the reference's
    // t/spatial_index.test layout: a WKB geometry ATTRIBUTE beside
    // `_X`/`_Y` midpoint dims, with PAD_X/PAD_Y metadata bounding the
    // max geometry extent [ha_mytile.cc:2316–2434]. The constant-side
    // MBR, expanded ±pad/2, prunes on the dims (Approx rewrite); the
    // row-wise st_intersects over the stored WKB stays as Spark's
    // residual and decides exactly.
    "p7c_spatial_geomcol" -> ((s, d) => {
      val uri = freshUri("geoc")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("_X", DoubleType), DimensionSpec("_Y", DoubleType)),
        Seq(AttributeSpec("wkb_geometry", BinaryType),
          AttributeSpec("p_partkey", LongType)), allowsDups = true)
      GraftArray.create(s, uri, sch)
      // per-row boxes around (p_size, p_retailprice) midpoints with
      // deterministic half-extents ≤ (1.2, 60) — PAD = full widths
      val src = Tables.load(s, d, "part").select(
        col("p_size").cast("double").as("_X"),
        col("p_retailprice").as("_Y"),
        ((col("p_partkey") % 5).cast("double") * 0.3).as("wx"),
        ((col("p_partkey") % 7).cast("double") * 10.0).as("wy"),
        col("p_partkey"))
      GraftArray.write(s, uri, src.select(col("_X"), col("_Y"),
        graft.functions.expressions.Kernels.wkbBox(
          col("_X") - col("wx"), col("_Y") - col("wy"),
          col("_X") + col("wx"), col("_Y") + col("wy"))
          .as("wkb_geometry"),
        col("p_partkey")))
      GraftArray.putMetadata(s, uri, Map(
        "GEOMETRY_ATTRIBUTE_NAME" -> "wkb_geometry",
        "PAD_X" -> "2.4", "PAD_Y" -> "120.0"))
      val cat = "ggc" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        graft.core.TempDirs.fresh("graft_geoc"))
      val v = s"geoc_$cat"
      s.read.format("graftarray").option("path", uri).load()
        .createOrReplaceTempView(v)
      val hex = graft.functions.Wkb.box(10.0, 500.0, 40.0, 1500.0)
        .map(b => f"${b & 0xff}%02X").mkString
      s.sql(
        s"""SELECT p_partkey, _X AS x, _Y AS y FROM $v
           |WHERE $cat.st_intersects($cat.st_geomfromwkb(wkb_geometry), X'$hex')
           |ORDER BY p_partkey, x, y""".stripMargin)
    }),

    // S7: two fragments, read as-of the first commit.
    "arr3_timetravel" -> ((s, d) => {
      val uri = freshUri("tt")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("o_orderkey", LongType)),
        Seq(AttributeSpec("o_totalprice", DoubleType),
          AttributeSpec("o_orderstatus", StringType)))
      GraftArray.create(s, uri, sch)
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val t1 = GraftArray.write(s, uri, orders.filter(col("o_orderkey") <= 500L))
      GraftArray.write(s, uri, orders.filter(col("o_orderkey") > 500L))
      // full view has all rows; as-of t1 only the first commit
      val asOf = s.read.format("graftarray").option("path", uri)
        .option("asOfTimestamp", t1.toString).load()
      asOf.select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderkey")
    }),

    // S7 window reads: fragments committed in [since, asOf] only — the
    // incremental "what changed since ts" view (TileDB timestamp_start/
    // timestamp_end; the reference exposes only the end via open_at).
    // f1 (keys ≤500) predates the window and is invisible; f2
    // (500<keys≤1000) and the f3 upsert (keys ≤200, price×2) are in it.
    "arr17_incremental" -> ((s, d) => {
      val uri = freshUri("inc")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("o_orderkey", LongType)),
        Seq(AttributeSpec("o_totalprice", DoubleType)))
      GraftArray.create(s, uri, sch)
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
      GraftArray.write(s, uri, orders.filter(col("o_orderkey") <= 500L))
      val t2 = GraftArray.write(s, uri,
        orders.filter(col("o_orderkey") > 500L && col("o_orderkey") <= 1000L))
      val t3 = GraftArray.write(s, uri, orders.filter(col("o_orderkey") <= 200L)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      s.read.format("graftarray").option("path", uri)
        .option("sinceTimestamp", t2.toString)
        .option("asOfTimestamp", t3.toString).load()
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderkey")
    }),

    // Incremental dedup — S7's time-travel window composed with the
    // dedup family, the production daily-crawl loop: documents commit
    // to an array in two fragments (base corpus, then the doc_id>=400
    // increment); the increment alone streams back through the WINDOW
    // read, and Dedup.incrementalDedup reports each increment doc's
    // fingerprint twin — base twin if history holds one, else the
    // earliest increment twin (base scanned once behind a broadcast
    // fingerprint semi-filter — it never re-shuffles wholesale). This
    // synthetic corpus has all-distinct fingerprints at oracle scale,
    // so the oracle proves the all-unique answer (is_dup = false
    // everywhere — same pattern as d6's provably-empty span set);
    // DedupSpec injects real cross-commit duplicates.
    "arr26_incremental_dedup" -> ((s, d) => {
      val uri = freshUri("incdd")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("doc_id", LongType)),
        Seq(AttributeSpec("fp", StringType)))
      GraftArray.create(s, uri, sch)
      val f = Tables.load(s, d, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      val t1 = GraftArray.write(s, uri, f.filter(col("doc_id") < 400L))
      val t2 = GraftArray.write(s, uri, f.filter(col("doc_id") >= 400L))
      // the window read is INCLUSIVE of `since` ([since, asOf] —
      // arr17 semantics), so the increment starts at the second
      // commit's own timestamp
      val base = s.read.format("graftarray").option("path", uri)
        .option("asOfTimestamp", t1.toString).load()
      val inc = s.read.format("graftarray").option("path", uri)
        .option("sinceTimestamp", t2.toString).load()
      Dedup.incrementalDedup(base, inc)
    }),

    // Latest-wins fragment semantics: second overlapping fragment
    // overwrites every 10th customer's balance with 2×.
    "arr4_latest_wins" -> ((s, d) => {
      val uri = freshUri("lw")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("c_custkey", LongType)),
        Seq(AttributeSpec("c_acctbal", DoubleType),
          AttributeSpec("c_name", StringType)))
      GraftArray.create(s, uri, sch)
      val cust = Tables.load(s, d, "customer")
        .select("c_custkey", "c_acctbal", "c_name")
      GraftArray.write(s, uri, cust)
      GraftArray.write(s, uri, cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2))
      s.read.format("graftarray").option("path", uri).load()
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
        .orderBy("c_custkey")
    }),

    // Consolidation + vacuum (reference OPTIMIZE TABLE hook,
    // HA_CONCURRENT_OPTIMIZE ha_mytile.cc:2948): three overlapping
    // upsert fragments merge into one; query results must be
    // indistinguishable from the unconsolidated latest-wins view.
    // Incremental materialized aggregate over the time-travel window
    // (the 100 TB stats-maintenance shape): per-source stats built
    // once from the base, then maintained from the INCREMENT WINDOW
    // READ ONLY (`sinceTimestamp` — the base is never rescanned) and
    // merged into the stats array via latest-wins upsert of the
    // AFFECTED sources only. The oracle is the full recompute over
    // everything: any base leakage into the window would double-count
    // and hash-mismatch, so "window = increment only" is oracle-
    // enforced, not just claimed.
    "arr34_incremental_stats" -> ((s, d) => {
      val uriD = freshUri("incd")
      val uriS = freshUri("incs")
      GraftArray.create(s, uriD, ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("doc_id", LongType)),
        Seq(AttributeSpec("source", StringType),
          AttributeSpec("n_chars", LongType))))
      GraftArray.create(s, uriS, ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("source", StringType)),
        Seq(AttributeSpec("n_docs", LongType),
          AttributeSpec("n_chars", LongType))))
      val dd = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      def agg(df: DataFrame) = df.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val base = dd.filter(col("doc_id") % 3 =!= 0)
      val t0 = GraftArray.write(s, uriD, base)
      GraftArray.write(s, uriS, agg(base))
      GraftArray.write(s, uriD, dd.filter(col("doc_id") % 3 === 0))
      val window = s.read.format("graftarray").option("path", uriD)
        .option("sinceTimestamp", (t0 + 1).toString).load()
      val old = s.read.format("graftarray").option("path", uriS).load()
        .select(col("source"), col("n_docs").as("od"),
          col("n_chars").as("oc"))
      val merged = agg(window).join(old, Seq("source"), "left")
        .select(col("source"),
          (col("n_docs") + coalesce(col("od"), lit(0L))).as("n_docs"),
          (col("n_chars") + coalesce(col("oc"), lit(0L))).as("n_chars"))
      GraftArray.write(s, uriS, merged)
      s.read.format("graftarray").option("path", uriS).load()
        .orderBy("source")
    }),

    // Point-in-time restore ("undo the bad ingest"): good load at ts1,
    // a bad second write corrupting half the keys (latest-wins would
    // serve it), then rollback(ts1) — a NEW commit whose content is
    // the ts1 view, replacing everything visible. The read-back must
    // equal the GOOD data and nf = 1 is the restore witness; the bad
    // instant stays time-travelable until vacuum (RollbackSpec).
    "arr33_rollback" -> ((s, d) => {
      val uri = freshUri("rbk")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("p_partkey", LongType)),
        Seq(AttributeSpec("p_size", IntegerType)))
      GraftArray.create(s, uri, sch)
      val good = Tables.load(s, d, "part").select("p_partkey", "p_size")
      val ts1 = GraftArray.write(s, uri, good)
      GraftArray.write(s, uri, good.filter(col("p_partkey") % 2 === 0)
        .withColumn("p_size", col("p_size") * 100))
      GraftArray.rollback(s, uri, ts1)
      val back = s.read.format("graftarray").option("path", uri).load()
      back.crossJoin(broadcast(
          back.agg(countDistinct(col("_frag_id")).as("nf"))))
        .select(col("p_partkey"), col("p_size"), col("nf"))
        .orderBy("p_partkey")
    }),

    // Fragment deletion by timestamp window (TileDB's
    // Array::delete_fragments — the bad-ingest-removal / TTL verb,
    // distinct from rollback which ADDS a restoring commit): three
    // write waves, the middle "bad re-price" wave deleted outright —
    // its upserts vanish and the shadowed wave-1 versions RESURFACE,
    // while wave 3 (committed after the window) is untouched.
    "arr36_delete_fragments" -> ((s, d) => {
      val uri = freshUri("delf")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("c_custkey", LongType)),
        Seq(AttributeSpec("c_acctbal", DoubleType)))
      GraftArray.create(s, uri, sch)
      val cust = Tables.load(s, d, "customer")
        .select("c_custkey", "c_acctbal")
      GraftArray.write(s, uri, cust)
      GraftArray.write(s, uri, cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2)) // the bad wave
      GraftArray.write(s, uri, cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1))
      val bad = GraftArray.fragments(s, uri).sortBy(_.timestamp).apply(1)
      val n = GraftArray.deleteFragments(s, uri,
        bad.timestamp, bad.timestamp)
      s.read.format("graftarray").option("path", uri).load()
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
        .withColumn("n_removed", lit(n.toLong))
        .orderBy("c_custkey")
    }),

    // Size-tiered compaction policy (arr18's full consolidation is the
    // wrong tool after a streaming burst: it rewrites the big fragment
    // too). Five tiny slice writes + one bulk write, then
    // consolidateSmall(maxRows=1000) merges ONLY the adjacent small
    // run — the bulk fragment is never rewritten. Both the data AND
    // the policy outcome are oracle-checked: expected fragment count /
    // runs derive from the slice row counts in SQL (the st9 lesson —
    // never hardcode a count the corpus distribution controls).
    "arr35_compact_small" -> ((s, d) => {
      val uri = freshUri("csml")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("o_orderkey", LongType)),
        Seq(AttributeSpec("o_totalprice", DoubleType)))
      GraftArray.create(s, uri, sch)
      val ord = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
      // threshold derives from the corpus (count/100 sits between the
      // ~count/1000 slices and the ~count bulk at ANY sf — a fixed
      // 1000 would flip slice classification when the corpus scales
      // past it), and empty slices are skipped (a rows=0 fragment is
      // invisible to the oracle's GROUP BY slice counts)
      val thr = ord.count() / 100
      (0 until 5).foreach { k =>
        val sl = ord.filter(col("o_orderkey") % 1000 === k)
        // emptiness decided inside the write job (the writer tasks'
        // row counts) — no separate isEmpty job per slice
        GraftArray.writeNonEmpty(s, uri, sl, origin = None)
      }
      GraftArray.write(s, uri, ord.filter(col("o_orderkey") % 1000 >= 5))
      val (runs, _) = GraftArray.consolidateSmall(s, uri, thr)
      GraftArray.vacuum(s, uri)
      val nf = GraftArray.fragments(s, uri).size
      s.read.format("graftarray").option("path", uri).load()
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("total"))
        .withColumn("n_fragments", lit(nf.toLong))
        .withColumn("compacted_runs", lit(runs.toLong))
        .orderBy("bucket")
    }),

    "arr18_consolidate" -> ((s, d) => {
      val uri = freshUri("cons")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("c_custkey", LongType)),
        Seq(AttributeSpec("c_acctbal", DoubleType)))
      GraftArray.create(s, uri, sch)
      val cust = Tables.load(s, d, "customer").select("c_custkey", "c_acctbal")
      GraftArray.write(s, uri, cust)
      GraftArray.write(s, uri, cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2))
      GraftArray.write(s, uri, cust.filter(col("c_custkey") <= 100L)
        .withColumn("c_acctbal", lit(0.11)))
      GraftArray.consolidate(s, uri)
      GraftArray.vacuum(s, uri)
      s.read.format("graftarray").option("path", uri).load()
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
        .orderBy("c_custkey")
    }),

    // DELETE FROM via delete-condition tombstones (the storage model's
    // delete queries; the reference plugin is INSERT-only — additive):
    // a tombstone masks matching cells of EARLIER fragments only, so
    // rows re-inserted after the delete survive (latest-wins + delete
    // ordering is the manifest timeline).
    "arr20_delete" -> ((s, d) => {
      val wh = freshUri("del").stripSuffix("/arr")
      val cat = "gdel" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""CREATE TABLE $cat.ord (o_orderkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES('graft.dimensions'='o_orderkey')""")
      Tables.load(s, d, "orders").select("o_orderkey", "o_totalprice")
        .writeTo(s"$cat.ord").append()
      // SQL DELETE takes dimension predicates (exact row semantics on
      // the latest-wins view; attribute conditions go through
      // GraftArray.commitTombstone — DeleteSpec)
      s.sql(s"DELETE FROM $cat.ord WHERE o_orderkey >= 2000")
      // re-insert after the delete: these rows survive it
      Tables.load(s, d, "orders").filter(col("o_orderkey") <= 100L)
        .select(col("o_orderkey"), lit(1.23).as("o_totalprice"))
        .writeTo(s"$cat.ord").append()
      s.table(s"$cat.ord")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderkey")
    }),

    // Row-level UPDATE + MERGE via the delta rewrite (SupportsDelta):
    // updates are upserted versions, MERGE's delete branch writes
    // coordinate files in the same atomic fragment commit. Additive —
    // the reference plugin is INSERT-only.
    "arr21_update_merge" -> ((s, d) => {
      val wh = freshUri("rl").stripSuffix("/arr")
      val cat = "grl" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""CREATE TABLE $cat.cust (c_custkey BIGINT, c_acctbal DOUBLE)
        TBLPROPERTIES('graft.dimensions'='c_custkey')""")
      Tables.load(s, d, "customer").select("c_custkey", "c_acctbal")
        .writeTo(s"$cat.cust").append()
      s.sql(s"UPDATE $cat.cust SET c_acctbal = c_acctbal + 100.0 " +
        "WHERE c_custkey % 7 = 0")
      val src = "rl_src_" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      Tables.load(s, d, "customer")
        .filter(col("c_custkey") <= 50L)
        .select(col("c_custkey").as("k"),
          when(col("c_custkey") % 2 === 0, -1.0).otherwise(55.5).as("nv"))
        .union(s.createDataFrame(Seq((1000001L, 1.0), (1000002L, 2.0)))
          .toDF("k", "nv"))
        .createOrReplaceTempView(src)
      s.sql(
        s"""MERGE INTO $cat.cust t USING $src ON t.c_custkey = $src.k
           |WHEN MATCHED AND $src.nv < 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET c_acctbal = $src.nv
           |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal)
           |  VALUES ($src.k, $src.nv)""".stripMargin)
      s.table(s"$cat.cust")
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
        .orderBy("c_custkey")
    }),

    // INSERT OVERWRITE: the committed fragment carries the new data
    // files AND the delete predicate that unmasks the replaced rows —
    // one atomic manifest commit. Dim-range overwrite replaces a key
    // range; rows outside it are untouched. Additive — the reference
    // plugin is INSERT-only.
    "arr22_overwrite" -> ((s, d) => {
      val wh = freshUri("ow").stripSuffix("/arr")
      val cat = "gow" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""CREATE TABLE $cat.cust (c_custkey BIGINT, c_acctbal DOUBLE)
        TBLPROPERTIES('graft.dimensions'='c_custkey')""")
      Tables.load(s, d, "customer").select("c_custkey", "c_acctbal")
        .writeTo(s"$cat.cust").append()
      // replace the key range ≤200 with doubled balances plus one new
      // key — atomically (delete-pred + data in one fragment)
      Tables.load(s, d, "customer")
        .filter(col("c_custkey") <= 200L)
        .select(col("c_custkey"),
          (col("c_acctbal") * 2).as("c_acctbal"))
        .union(s.createDataFrame(Seq((2000001L, 42.0)))
          .toDF("c_custkey", "c_acctbal"))
        .writeTo(s"$cat.cust")
        .overwrite(col("c_custkey") <= 200L)
      s.table(s"$cat.cust")
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
        .orderBy("c_custkey")
    }),

    // Heterogeneous dimensions (reference t/heterogeneus_dimensions
    // .test): a (string, long) composite coordinate drives latest-wins
    // upserts and per-dim pushdown — string-prefix range on dim0, long
    // range on dim1.
    "arr23_hetero_dims" -> ((s, d) => {
      val wh = freshUri("het").stripSuffix("/arr")
      val cat = "ghet" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""CREATE TABLE $cat.het
        (c_mktsegment STRING, c_custkey BIGINT, c_acctbal DOUBLE)
        TBLPROPERTIES('graft.dimensions'='c_mktsegment,c_custkey')""")
      val cust = Tables.load(s, d, "customer")
        .select("c_mktsegment", "c_custkey", "c_acctbal")
      cust.writeTo(s"$cat.het").append()
      // upsert newer versions for part of the composite key space
      cust.filter(col("c_mktsegment") === "BUILDING" &&
          col("c_custkey") <= 100L)
        .select(col("c_mktsegment"), col("c_custkey"),
          lit(0.0).as("c_acctbal"))
        .writeTo(s"$cat.het").append()
      s.table(s"$cat.het")
        .filter(col("c_mktsegment") >= "B" && col("c_mktsegment") < "G" &&
          col("c_custkey") <= 500L)
        .select(col("c_mktsegment"), col("c_custkey"),
          round(col("c_acctbal"), 2).as("bal"))
        .orderBy("c_mktsegment", "c_custkey")
    }),

    // Fragment-provenance metadata columns (_frag_id/_commit_ts via
    // SupportsMetadataColumns): after an upsert, per-fragment row
    // counts and sums — fragment 1 keeps the rows the upsert did NOT
    // touch, fragment 2 owns the upserted coordinates (latest-wins).
    "arr19_provenance" -> ((s, d) => {
      val uri = freshUri("prov")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("c_custkey", LongType)),
        Seq(AttributeSpec("c_acctbal", DoubleType)))
      GraftArray.create(s, uri, sch)
      val cust = Tables.load(s, d, "customer").select("c_custkey", "c_acctbal")
      GraftArray.write(s, uri, cust)
      GraftArray.write(s, uri, cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2))
      val w = org.apache.spark.sql.expressions.Window.orderBy("_commit_ts")
      s.read.format("graftarray").option("path", uri).load()
        .groupBy(col("_commit_ts"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
        .withColumn("src", row_number().over(w).cast("long"))
        .select("src", "n", "bal")
        .orderBy("src")
    }),

    // S12: add a column with a fill value; old fragment reads the fill,
    // new fragment carries real values.
    "arr5_evolution" -> ((s, d) => {
      val uri = freshUri("evo")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("n_nationkey", IntegerType)),
        Seq(AttributeSpec("n_name", StringType)))
      GraftArray.create(s, uri, sch)
      val nation = Tables.load(s, d, "nation")
      GraftArray.write(s, uri,
        nation.filter(col("n_nationkey") < 10).select("n_nationkey", "n_name"))
      GraftArray.addColumn(s, uri,
        AttributeSpec("region", IntegerType, nullable = true,
          fillValue = Some("-1")))
      GraftArray.write(s, uri,
        nation.filter(col("n_nationkey") >= 10)
          .select(col("n_nationkey"), col("n_name"),
            col("n_regionkey").as("region")))
      GraftArray.load(s, uri)
        .select("n_nationkey", "n_name", "region")
        .orderBy("n_nationkey")
    }),

    // Heterogeneous dims (string + int) with a string-dim range pushed
    // [t/heterogeneus_dimensions.test, t/string_dim.test].
    "arr7_string_dim" -> ((s, d) => {
      val uri = freshUri("sd")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("p_brand", StringType),
          DimensionSpec("p_partkey", LongType)),
        Seq(AttributeSpec("p_size", IntegerType),
          AttributeSpec("p_retailprice", DoubleType)))
      GraftArray.create(s, uri, sch)
      GraftArray.write(s, uri, Tables.load(s, d, "part")
        .select("p_brand", "p_partkey", "p_size", "p_retailprice"))
      s.read.format("graftarray").option("path", uri).load()
        .filter(col("p_brand") >= "Brand#2" && col("p_brand") <= "Brand#4" &&
          col("p_size") >= 20)
        .select("p_brand", "p_partkey", "p_size")
        .orderBy("p_brand", "p_partkey")
    }),

    // Dense array + fill-value materialization over a bounded 5×5
    // domain [quickstart_dense fixture; fill_in.test]. The BARE DSv2
    // scan materializes fills (reference dense-read semantics,
    // ha_mytile.cc:1088–1164) — no opt-in flag.
    "arr8_dense_fill" -> ((s, d) => {
      val uri = freshUri("dense")
      val sch = ArraySchema(ArrayKind.Dense,
        Seq(DimensionSpec("r", LongType, Some("0"), Some("4"), Some(5L)),
          DimensionSpec("c", LongType, Some("0"), Some("4"), Some(5L))),
        Seq(AttributeSpec("name", StringType, nullable = true,
          fillValue = Some("(fill)"))))
      GraftArray.create(s, uri, sch)
      // write 25-key nation as a 5×5 grid but only even nationkeys
      GraftArray.write(s, uri, Tables.load(s, d, "nation")
        .filter(col("n_nationkey") % 2 === 0)
        .select((col("n_nationkey") % 5).cast("long").as("r"),
          (col("n_nationkey") / 5).cast("long").as("c"),
          col("n_name").as("name")))
      s.read.format("graftarray").option("path", uri).load()
        .orderBy("r", "c")
    }),

    // S13: CSV ingestion — documents → csv file → array → scan
    // (LOAD DATA INFILE analog, t/csv.test).
    // x14's curriculum made PHYSICAL (round 9): the (stage, ord)
    // training order stored in an array whose LEADING dimension is
    // the quality stage, so "stream stage 0 first" is a pushed dim
    // predicate served by file pruning (the v16 pattern applied to
    // the text side). Precision of the claim: the clustered write
    // RANGE-partitions on (stage, doc_id), so each of the P files
    // covers a contiguous stage range — at most P−1 boundary files
    // straddle two stages, and the stage-0 read prunes to the files
    // whose stage MBR covers 0 (within one boundary file of optimal,
    // at ANY corpus size). The oracle recomputes stage 0
    // relationally.
    "arr30_curriculum_store" -> ((s, d) => {
      val uri = freshUri("curr")
      val q = round(graft.functions.TextFunctions.qualityScore(col("text")), 4)
      val stage = when(q >= 0.7, 0L).when(q >= 0.6, 1L)
        .when(q >= 0.5, 2L).otherwise(3L)
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("stage", LongType),
          DimensionSpec("doc_id", LongType)),
        Seq(AttributeSpec("quality", DoubleType),
          AttributeSpec("n_tokens", LongType),
          AttributeSpec("text", StringType)))
      GraftArray.create(s, uri, sch)
      GraftArray.write(s, uri, Tables.load(s, d, "documents")
        .select(stage.as("stage"), col("doc_id"), q.as("quality"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("n_tokens"),
          col("text")),
        partitions = Some(8))
      s.read.format("graftarray").option("path", uri).load()
        .filter(col("stage") === 0L)
        .select(col("doc_id"), col("quality"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // Snapshot diff (CDC between two time-travel reads): base commit,
    // then an update commit + an insert commit + a dim-range DELETE
    // tombstone; diff(asOf t1, asOf t2) classifies every key as
    // added / updated / deleted (unchanged keys are excluded — CDC
    // output is the CHANGE set, not the table). The diff is two
    // pruned snapshot scans + ONE full-outer join keyed on the
    // dimension — on a bucketed layout (`graft.buckets`) that join is
    // shuffle-free (the j8 storage-partitioned path), so "what changed
    // between yesterday and today" costs two scans and no corpus
    // shuffle. Prices compare RAW (the ×2 update is IEEE-exact);
    // only the published columns round.
    "arr31_snapshot_diff" -> ((s, d) => {
      val uri = freshUri("sdiff")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("o_orderkey", LongType)),
        Seq(AttributeSpec("o_totalprice", DoubleType)))
      GraftArray.create(s, uri, sch)
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
      val t1 = GraftArray.write(s, uri,
        orders.filter(col("o_orderkey") <= 500L))
      GraftArray.write(s, uri, orders.filter(col("o_orderkey") <= 200L)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      GraftArray.write(s, uri,
        orders.filter(col("o_orderkey") > 500L && col("o_orderkey") <= 800L))
      import graft.sources.v2.PredicateSupport
      val t2 = GraftArray.commitTombstone(s, uri, PredicateSupport.AndP(
        PredicateSupport.Cmp(">=", "o_orderkey", 100L),
        PredicateSupport.Cmp("<=", "o_orderkey", 150L)))
      def snap(ts: Long) = s.read.format("graftarray")
        .option("path", uri).option("asOfTimestamp", ts.toString).load()
      snap(t1).select(col("o_orderkey"), col("o_totalprice").as("v_old"))
        .join(snap(t2).select(col("o_orderkey"),
          col("o_totalprice").as("v_new")), Seq("o_orderkey"), "full_outer")
        .withColumn("change",
          when(col("v_old").isNull, "added")
            .when(col("v_new").isNull, "deleted")
            .when(col("v_old") =!= col("v_new"), "updated")
            .otherwise("unchanged"))
        .filter(col("change") =!= "unchanged")
        .select(col("o_orderkey"), col("change"),
          round(col("v_old"), 2).as("price_old"),
          round(col("v_new"), 2).as("price_new"))
        .orderBy("o_orderkey")
    }),

    "arr9_csv_ingest" -> ((s, d) => {
      val csvDir = freshUri("csv").stripSuffix("/arr") + "/docs_csv"
      val docs = Tables.load(s, d, "documents")
        .select("doc_id", "lang", "n_chars")
      docs.write.option("header", "true").csv(csvDir)
      val uri = freshUri("csvarr")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("doc_id", LongType)),
        Seq(AttributeSpec("lang", StringType),
          AttributeSpec("n_chars", LongType)))
      GraftArray.create(s, uri, sch)
      GraftArray.write(s, uri, s.read
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
        .option("header", "true").csv(csvDir))
      s.read.format("graftarray").option("path", uri).load()
        .groupBy("lang").agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    }),

    // JSON ingestion (source-format breadth next to arr9's CSV): the
    // documents table round-trips through newline-delimited JSON with
    // a NESTED meta struct, is flattened schema-on-read (explicit
    // schema — no sampling pass at 100 TB), lands in an array, and
    // aggregates off the array scan. The oracle recomputes straight
    // from the source table, proving the ingest is lossless.
    "arr27_json_ingest" -> ((s, d) => {
      val jsonDir = freshUri("json").stripSuffix("/arr") + "/docs_json"
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          struct(col("lang"), col("source")).as("meta"), col("n_chars"))
        .write.json(jsonDir)
      val uri = freshUri("jsonarr")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("doc_id", LongType)),
        Seq(AttributeSpec("lang", StringType),
          AttributeSpec("source", StringType),
          AttributeSpec("n_chars", LongType)))
      GraftArray.create(s, uri, sch)
      GraftArray.write(s, uri, s.read
        .schema("doc_id BIGINT, meta STRUCT<lang: STRING, source: STRING>, n_chars BIGINT")
        .json(jsonDir)
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.source").as("source"), col("n_chars")))
      s.read.format("graftarray").option("path", uri).load()
        .groupBy("lang", "source").agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"))
        .orderBy("lang", "source")
    }),

    // INSERT INTO ... SELECT through the pure-SQL route [ref:
    // mysql-test/mytile/t/insert_into_select.test]: DDL-created array,
    // one INSERT..SELECT load (per-task fragment writes — the insert
    // parallelizes with the SELECT's partitioning, no driver funnel),
    // filtered read-back.
    "arr29_insert_select" -> ((s, d) => {
      // ONE catalog name + warehouse per session (not per call):
      // bench iterates this query, and a fresh random catalog each
      // run leaked a conf entry, a temp view and a table copy per
      // iteration. DROP + re-CREATE makes each run self-contained.
      val cat = "gis29"
      graft.sources.GraftCatalogs.ensure(s, cat, "graft_insq")
      Tables.load(s, d, "supplier").createOrReplaceTempView(s"src_$cat")
      s.sql(s"DROP TABLE IF EXISTS $cat.sup")
      s.sql(s"""CREATE TABLE $cat.sup (s_suppkey BIGINT, s_name STRING,
        |  s_nationkey INT, s_acctbal DOUBLE)
        |TBLPROPERTIES('graft.dimensions'='s_suppkey')""".stripMargin)
      s.sql(s"""INSERT INTO $cat.sup
        |SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM src_$cat WHERE s_nationkey >= 10""".stripMargin)
      s.sql(s"""SELECT s_suppkey, s_name, s_nationkey,
        |  round(s_acctbal, 2) AS bal
        |FROM $cat.sup WHERE s_suppkey % 2 = 0
        |ORDER BY s_suppkey""".stripMargin)
    }),

    // Multi-value attributes (reference cell_val_num>1 → ArrayType,
    // SURVEY §1.2): embeddings stored IN the array format, ANN top-k
    // served straight off the array scan.
    "arr10_embedding_store" -> ((s, d) => {
      val uri = freshUri("emb")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("vec_id", LongType)),
        Seq(AttributeSpec("embedding", ArrayType(FloatType, containsNull = false)),
          AttributeSpec("label", IntegerType)))
      GraftArray.create(s, uri, sch)
      GraftArray.write(s, uri, Tables.load(s, d, "embeddings"))
      val e = s.read.format("graftarray").option("path", uri).load()
      import graft.functions.VectorFunctions._
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(col("qv"), col("embedding")))
      // bounded top-k aggregation — no global window over scored rows
      Similarity.topkSelect(scored, 5)
    }),

    // A6 string parity: MIN/MAX over a string attribute answered from
    // fragment stats when provably untruncated (≤32-byte guard — the
    // reference's cap, ha_mytile.cc:316–339). Plan asserted stats-only
    // in ArrayConnectorSpec.
    "arr11_string_agg" -> ((s, d) => {
      val uri = freshUri("sagg")
      GraftArray.create(s, uri, lineitemSchema)
      GraftArray.write(s, uri, Tables.load(s, d, "lineitem")
        .select(lineitemCols.map(col): _*))
      s.read.format("graftarray").option("path", uri).load()
        .agg(min(col("l_returnflag")).as("mn_rf"),
          max(col("l_returnflag")).as("mx_rf"),
          count(lit(1)).as("cnt"))
    }),

    // P4 string parity: LIKE 'p%' on a string dimension becomes the
    // range [p, succ(p)) and prunes fragments/files (reference string
    // ranges, mytile-range.cc:37–133). Pruning asserted in
    // ScanPlanningSpec.
    "arr12_prefix_dim" -> ((s, d) => {
      val uri = freshUri("pfx")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("p_brand", StringType),
          DimensionSpec("p_partkey", LongType)),
        Seq(AttributeSpec("p_size", IntegerType)))
      GraftArray.create(s, uri, sch)
      GraftArray.write(s, uri, Tables.load(s, d, "part")
        .select("p_brand", "p_partkey", "p_size"))
      s.read.format("graftarray").option("path", uri).load()
        .filter(col("p_brand").startsWith("Brand#3") && col("p_size") < 15)
        .select("p_brand", "p_partkey", "p_size")
        .orderBy("p_brand", "p_partkey")
    }),

    // §1.2 storage-type surface [mytile.cc:14–264; data_types.test]:
    // unsigned u8–u64, TIME, and sub-µs datetime declared via
    // graft.type.<col>; boundary values go through the guarded DSv2
    // writer with the WRITE-edge StorageFunctions conversions and come
    // back through the READ-edge ones. Unsigned maxima must survive
    // exactly (u64 as Decimal(20,0) → fixed-len-byte-array storage).
    "arr13_dtypes" -> ((s, d) => {
      import graft.functions.StorageFunctions._
      val wh = freshUri("dt").stripSuffix("/arr")
      // catalog instances are cached per name by Spark — a fresh name
      // per invocation keeps the query re-runnable (bench iterates)
      val cat = "gdt" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(
        s"""CREATE TABLE $cat.dtypes (
          k BIGINT, u8 SMALLINT, u16 INT, u32 BIGINT, u64 DECIMAL(20,0),
          tsec BIGINT, dns BIGINT)
          TBLPROPERTIES('graft.dimensions'='k',
            'graft.type.u8'='UINT8', 'graft.type.u16'='UINT16',
            'graft.type.u32'='UINT32', 'graft.type.u64'='UINT64',
            'graft.type.tsec'='TIME_SEC', 'graft.type.dns'='DATETIME_NS')""")
      val staged = s.sql(
        """SELECT * FROM VALUES
           (1L, CAST(0 AS SMALLINT), 0, 0L, CAST(0 AS DECIMAL(20,0)),
            0L, 0L),
           (2L, CAST(255 AS SMALLINT), 65535, 4294967295L,
            CAST('18446744073709551615' AS DECIMAL(20,0)), 86399L,
            1704067200123456L)
           t(k, u8, u16, u32, u64, sec_of_day, us_epoch)""")
        .select(col("k"), col("u8"), col("u16"), col("u32"), col("u64"),
          // write edge: seconds-of-day → stored µs-of-day;
          // µs timestamp → stored raw ns count
          timeToMicros(col("sec_of_day"), "TIME_SEC").as("tsec"),
          timestampToDatetime(timestamp_micros(col("us_epoch")),
            "DATETIME_NS").as("dns"))
      staged.writeTo(s"$cat.dtypes").append()
      s.table(s"$cat.dtypes").select(
        col("k"),
        col("u8").cast("long").as("u8"),
        col("u16").cast("long").as("u16"),
        col("u32"),
        col("u64").cast("string").as("u64"),
        // read edge: µs-of-day → seconds count; ns count → µs timestamp
        microsToTime(col("tsec"), "TIME_SEC").as("sec_of_day"),
        unix_micros(datetimeToTimestamp(col("dns"), "DATETIME_NS"))
          .as("us_epoch"))
        .orderBy("k")
    }),

    // §1.2 charset string types [mytile.cc:218–224, 896–923]: a
    // STRING_UTF16 attribute ingested from raw UTF-16LE bytes (the
    // interchange form an external system hands over), decoded at the
    // write edge, stored, read back, re-encoded at the read edge —
    // mirroring the reference's charset conversion of
    // STRING_UTF16/UCS2 columns to TEXT. The UTF-16 octet count
    // differs from the UTF-8 one on the non-ASCII suffix ('é' is two
    // UTF-8 bytes, '漢' three; each is one 2-byte UTF-16 unit), so
    // u16_octets == 2·chars proves both conversions really ran.
    "arr28_utf16" -> ((s, d) => {
      import graft.functions.StorageFunctions._
      val uri = freshUri("u16")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("n_nationkey", IntegerType)),
        Seq(AttributeSpec("name", StringType,
          storageType = Some("STRING_UTF16"))))
      GraftArray.create(s, uri, sch)
      val raw = Tables.load(s, d, "nation").select(col("n_nationkey"),
        encode(concat(col("n_name"), lit("·é漢")), "UTF-16LE").as("b"))
      GraftArray.write(s, uri, raw.select(col("n_nationkey"),
        storageBytesToString(col("b"), "STRING_UTF16").as("name")))
      s.read.format("graftarray").option("path", uri).load()
        .select(col("n_nationkey"), col("name"),
          octet_length(stringToStorageBytes(col("name"), "STRING_UTF16"))
            .cast("long").as("u16_octets"))
        .orderBy("n_nationkey")
    }),

    // ENUM attribute parity [ha_mytile.cc:1330–1351; t/enum.test]:
    // o_orderstatus declared as an enumeration, domain-guarded on
    // write, and — deliberately better than the reference, which bails
    // on pushing conditions over enum attrs (ha_mytile.cc:2557–2562) —
    // the equality predicate is accepted for pushdown here (storage
    // keeps the string value; SQL semantics are identical).
    "arr14_enum" -> ((s, d) => {
      val wh = freshUri("enum").stripSuffix("/arr")
      // catalog instances are cached per name by Spark — a fresh name
      // per invocation keeps the query re-runnable (bench iterates)
      val cat = "gen" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(
        s"""CREATE TABLE $cat.ord (
          o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
          TBLPROPERTIES('graft.dimensions'='o_orderkey',
            'graft.enum.o_orderstatus'='F,O,P')""")
      Tables.load(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .writeTo(s"$cat.ord").append()
      s.table(s"$cat.ord")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderkey")
    }),

    // Encryption parity [ha_mytile.cc:75, 3440–3472; t/encryption.test]:
    // AES-GCM parquet modular encryption (footer + all columns), key
    // supplied via session conf and never persisted. The query round-
    // trips nation through an encrypted array; EncryptionSpec proves a
    // wrong key fails and plaintext tools can't read the files.
    "arr15_encrypted" -> ((s, d) => {
      val wh = freshUri("enc").stripSuffix("/arr")
      // catalog instances are cached per name by Spark — a fresh name
      // per invocation keeps the query re-runnable (bench iterates)
      val cat = "gx" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.conf.set(graft.core.EncryptionKeys.ConfKey,
        "000102030405060708090a0b0c0d0e0f")
      s.sql(
        s"""CREATE TABLE $cat.nat (
          n_nationkey INT, n_name STRING, n_regionkey INT)
          TBLPROPERTIES('graft.dimensions'='n_nationkey',
            'graft.encrypted'='true')""")
      Tables.load(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .writeTo(s"$cat.nat").append()
      s.table(s"$cat.nat")
        .filter(col("n_regionkey") <= 2)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // S14 subset registration [ha_mytile.cc:1192–1197;
    // t/create_allow_subset_existing_array.test]: a second table over
    // an EXISTING array exposing a column subset (dims + l_quantity),
    // queried directly — the array keeps full ownership of fragments.
    "arr16_subset" -> ((s, d) => {
      val wh = freshUri("sub").stripSuffix("/arr")
      // catalog instances are cached per name by Spark — a fresh name
      // per invocation keeps the query re-runnable (bench iterates)
      val cat = "gsb" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(
        s"""CREATE TABLE $cat.li (
          l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE,
          l_returnflag STRING)
          TBLPROPERTIES('graft.dimensions'='l_orderkey,l_linenumber')""")
      Tables.load(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .writeTo(s"$cat.li").append()
      s.sql(
        s"""CREATE TABLE $cat.li_qty (
          l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE)
          TBLPROPERTIES('graft.subset_of'='li',
            'graft.allow_subset'='true')""")
      s.table(s"$cat.li_qty")
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("qty"),
          count(lit(1)).cast("long").as("n"))
        .filter(col("qty") > 150.0)
        .orderBy("l_orderkey")
    }),

    // S6: metadata key/value virtual table.
    "arr6_metadata" -> ((s, d) => {
      val uri = freshUri("meta")
      val sch = ArraySchema(ArrayKind.Sparse,
        Seq(DimensionSpec("k", LongType)),
        Seq(AttributeSpec("v", StringType)))
      GraftArray.create(s, uri, sch)
      GraftArray.putMetadata(s, uri, Map("engine" -> "graft", "version" -> "0"))
      GraftArray.putMetadata(s, uri, Map("version" -> "1"))
      GraftArray.metadata(s, uri).orderBy("key")
    })
  )

  val oracles: Map[String, String] = Map(
    "arr1_roundtrip_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         strftime(l_shipdate, '%Y-%m-%d') AS ship
         FROM lineitem
         WHERE l_orderkey BETWEEN 100 AND 2000 AND l_returnflag = 'A'
         AND l_quantity > 10.0
         ORDER BY l_orderkey, l_linenumber""",
    "arr2_agg_pushdown" ->
      """SELECT count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
         min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
         round(avg(l_extendedprice), 4) AS avg_price FROM lineitem""",
    "arr25_topn" ->
      """SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
         FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 20""",
    // arr32: the rebucketed table holds exactly the inserted orders;
    // nf = 1 is the rewrite postcondition (2 DML fragments merged into
    // one bucket-complete fragment by the CALL)
    "arr32_rebucket" ->
      """SELECT o_custkey, count(*) AS n,
         round(sum(o_totalprice), 2) AS total, 1::BIGINT AS nf
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "j8_bucketed_join" ->
      """SELECT c.c_custkey, round(c.c_acctbal, 2) AS acctbal,
         o.n_orders, o.total
         FROM customer c
         JOIN (SELECT o_custkey, count(*) AS n_orders,
                 round(sum(o_totalprice), 2) AS total
               FROM orders GROUP BY o_custkey) o
           ON o.o_custkey = c.c_custkey
         ORDER BY c.c_custkey""",
    "arr24_agg_range" ->
      """SELECT count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
         min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
         round(avg(l_extendedprice), 4) AS avg_price FROM lineitem
         WHERE l_orderkey > 3000""",
    "p7b_spatial_fn" ->
      """SELECT p_partkey, CAST(p_size AS DOUBLE) AS x,
         p_retailprice AS y FROM part
         WHERE p_size BETWEEN 10 AND 40
           AND p_retailprice BETWEEN 500.0 AND 1500.0
         ORDER BY p_partkey, x, y""",
    // box [x±wx, y±wy] intersects [10,40]×[500,1500] — the same IEEE
    // double arithmetic the Spark-side WKB round-trip performs
    "p7c_spatial_geomcol" ->
      """SELECT p_partkey, x, y FROM (
           SELECT p_partkey, CAST(p_size AS DOUBLE) AS x,
             p_retailprice AS y,
             (p_partkey % 5) * 0.3 AS wx, (p_partkey % 7) * 10.0 AS wy
           FROM part)
         WHERE x - wx <= 40.0 AND x + wx >= 10.0
           AND y - wy <= 1500.0 AND y + wy >= 500.0
         ORDER BY p_partkey, x, y""",
    "arr3_timetravel" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
         WHERE o_orderkey <= 500 ORDER BY o_orderkey""",
    "arr17_incremental" ->
      """SELECT o_orderkey, round(price, 2) AS price FROM (
           SELECT o_orderkey, o_totalprice * 2 AS price FROM orders
           WHERE o_orderkey <= 200
           UNION ALL
           SELECT o_orderkey, o_totalprice AS price FROM orders
           WHERE o_orderkey > 500 AND o_orderkey <= 1000)
         ORDER BY o_orderkey""",
    // arr26: global earliest-fingerprint twin restricted to the
    // increment (doc_id >= 400) — the window-read composition replay
    "arr26_incremental_dedup" ->
      """WITH f AS (SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents),
         m AS (SELECT fp, min(doc_id) AS dup_of FROM f GROUP BY fp)
       SELECT f.doc_id, m.dup_of, f.doc_id <> m.dup_of AS is_dup
       FROM f JOIN m USING (fp) WHERE f.doc_id >= 400
       ORDER BY f.doc_id""",
    "arr4_latest_wins" ->
      """SELECT c_custkey,
         round(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2
                    ELSE c_acctbal END, 2) AS bal
         FROM customer ORDER BY c_custkey""",
    // arr34: the incrementally-maintained stats must equal the full
    // recompute — base leakage into the window would double-count
    "arr34_incremental_stats" ->
      """SELECT source, count(*) AS n_docs, sum(n_chars)::bigint AS n_chars
         FROM documents GROUP BY source ORDER BY source""",
    // arr33: rollback restores the pre-corruption content exactly;
    // nf = 1 is the single-restore-fragment witness
    "arr33_rollback" ->
      """SELECT p_partkey, p_size, 1::BIGINT AS nf
         FROM part ORDER BY p_partkey""",
    // arr36: the bad wave's *2 upserts vanish; wave 3's +1 upserts
    // survive (committed after the deleted window)
    "arr36_delete_fragments" ->
      """SELECT c_custkey,
         round(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1
                    ELSE c_acctbal END, 2) AS bal,
         1::bigint AS n_removed
         FROM customer ORDER BY c_custkey""",

    // arr35: the policy outcome replays from the slice rule — the
    // present (non-empty) slices 0..4 are written first and adjacent,
    // merging to ONE fragment iff >= 2 of them are small at the
    // count/100 threshold; the bulk slice always stays its own
    // fragment. Adjacency note: under the count/100 threshold every
    // 0..4 slice (~count/1000 rows) classifies small at ANY corpus
    // size, so the "one consecutive run" shape is threshold-stable,
    // not an accident of one sf.
    "arr35_compact_small" ->
      """WITH thr AS (SELECT count(*) // 100 AS t FROM orders),
         sl AS (
           SELECT CASE WHEN o_orderkey % 1000 < 5
                       THEN o_orderkey % 1000 ELSE 5 END AS slice,
             count(*) AS n
           FROM orders GROUP BY 1),
         pol AS (SELECT
             (CASE WHEN sum(CASE WHEN slice < 5 AND n <= t
                                 THEN 1 ELSE 0 END) >= 2 THEN 1
                   ELSE sum(CASE WHEN slice < 5 AND n <= t
                                 THEN 1 ELSE 0 END) END
              + sum(CASE WHEN slice < 5 AND n > t THEN 1 ELSE 0 END)
              + max(CASE WHEN slice = 5 THEN 1 ELSE 0 END))::bigint AS nf,
             (CASE WHEN sum(CASE WHEN slice < 5 AND n <= t
                                 THEN 1 ELSE 0 END) >= 2
                   THEN 1 ELSE 0 END)::bigint AS runs
           FROM sl, thr)
       SELECT o_orderkey % 10 AS bucket, count(*) AS n,
         round(sum(o_totalprice), 2) AS total,
         pol.nf AS n_fragments, pol.runs AS compacted_runs
       FROM orders, pol GROUP BY bucket, pol.nf, pol.runs
       ORDER BY bucket""",

    "arr18_consolidate" ->
      """SELECT c_custkey,
         round(CASE WHEN c_custkey <= 100 THEN 0.11
                    WHEN c_custkey % 10 = 0 THEN c_acctbal * 2
                    ELSE c_acctbal END, 2) AS bal
         FROM customer ORDER BY c_custkey""",
    "arr20_delete" ->
      """SELECT o_orderkey, round(p, 2) AS price FROM (
           SELECT o_orderkey, 1.23 AS p FROM orders WHERE o_orderkey <= 100
           UNION ALL
           SELECT o_orderkey, o_totalprice AS p FROM orders
           WHERE o_orderkey > 100 AND o_orderkey < 2000)
         ORDER BY o_orderkey""",
    "arr21_update_merge" ->
      """WITH upd AS (
           SELECT c_custkey AS k,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS bal
           FROM customer),
         merged AS (
           SELECT k,
             CASE WHEN k <= 50 AND k % 2 <> 0 THEN 55.5 ELSE bal END AS bal
           FROM upd WHERE NOT (k <= 50 AND k % 2 = 0)
           UNION ALL SELECT 1000001, 1.0 UNION ALL SELECT 1000002, 2.0)
       SELECT k AS c_custkey, round(bal, 2) AS bal FROM merged
       ORDER BY c_custkey""",
    "arr22_overwrite" ->
      """SELECT c_custkey,
           round(CASE WHEN c_custkey <= 200 THEN c_acctbal * 2
                 ELSE c_acctbal END, 2) AS bal
         FROM customer
         UNION ALL SELECT 2000001::BIGINT, 42.0
         ORDER BY c_custkey""",
    "arr23_hetero_dims" ->
      """SELECT c_mktsegment, c_custkey,
           round(CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey <= 100
                 THEN 0.0 ELSE c_acctbal END, 2) AS bal
         FROM customer
         WHERE c_mktsegment >= 'B' AND c_mktsegment < 'G'
           AND c_custkey <= 500
         ORDER BY c_mktsegment, c_custkey""",
    "arr19_provenance" ->
      """SELECT 1::BIGINT AS src,
           count(*) FILTER (WHERE c_custkey % 10 <> 0)::BIGINT AS n,
           round(sum(c_acctbal) FILTER (WHERE c_custkey % 10 <> 0), 2) AS bal
         FROM customer
         UNION ALL
         SELECT 2::BIGINT,
           count(*) FILTER (WHERE c_custkey % 10 = 0)::BIGINT,
           round(sum(c_acctbal * 2) FILTER (WHERE c_custkey % 10 = 0), 2)
         FROM customer
         ORDER BY src""",
    "arr5_evolution" ->
      """SELECT n_nationkey, n_name,
         CASE WHEN n_nationkey < 10 THEN -1 ELSE n_regionkey END AS region
         FROM nation ORDER BY n_nationkey""",
    "arr6_metadata" ->
      """SELECT * FROM (VALUES ('engine', 'graft'), ('version', '1'))
         t(key, value) ORDER BY key""",
    "arr14_enum" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
         FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey""",
    "arr15_encrypted" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         WHERE n_regionkey <= 2 ORDER BY n_nationkey""",
    "arr16_subset" ->
      """SELECT l_orderkey, round(sum(l_quantity), 2) AS qty,
         count(*) AS n FROM lineitem GROUP BY l_orderkey
         HAVING round(sum(l_quantity), 2) > 150.0 ORDER BY l_orderkey""",
    "arr13_dtypes" ->
      """SELECT * FROM (VALUES
         (1::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT, '0',
          0::BIGINT, 0::BIGINT),
         (2::BIGINT, 255::BIGINT, 65535::BIGINT, 4294967295::BIGINT,
          '18446744073709551615', 86399::BIGINT, 1704067200123456::BIGINT))
         t(k, u8, u16, u32, u64, sec_of_day, us_epoch) ORDER BY k""",
    "arr28_utf16" ->
      """SELECT n_nationkey, n_name || '·é漢' AS name,
         2 * length(n_name || '·é漢') AS u16_octets
         FROM nation ORDER BY n_nationkey""",
    "arr7_string_dim" ->
      """SELECT p_brand, p_partkey, p_size FROM part
         WHERE p_brand >= 'Brand#2' AND p_brand <= 'Brand#4' AND p_size >= 20
         ORDER BY p_brand, p_partkey""",
    "arr11_string_agg" ->
      """SELECT min(l_returnflag) AS mn_rf, max(l_returnflag) AS mx_rf,
         count(*) AS cnt FROM lineitem""",
    "arr12_prefix_dim" ->
      """SELECT p_brand, p_partkey, p_size FROM part
         WHERE p_brand LIKE 'Brand#3%' AND p_size < 15
         ORDER BY p_brand, p_partkey""",
    "arr8_dense_fill" ->
      """SELECT g.r, g.c, coalesce(n.n_name, '(fill)') AS name
         FROM (SELECT a.range AS r, b.range AS c
               FROM range(0, 5) a, range(0, 5) b) g
         LEFT JOIN (SELECT n_nationkey % 5 AS r, n_nationkey // 5 AS c, n_name
                    FROM nation WHERE n_nationkey % 2 = 0) n
         ON g.r = n.r AND g.c = n.c
         ORDER BY g.r, g.c""",
    "arr9_csv_ingest" ->
      """SELECT lang, count(*) AS n, sum(n_chars)::bigint AS chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "arr27_json_ingest" ->
      """SELECT lang, source, count(*) AS n, sum(n_chars)::bigint AS chars
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "arr29_insert_select" ->
      """SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS bal
         FROM supplier WHERE s_nationkey >= 10 AND s_suppkey % 2 = 0
         ORDER BY s_suppkey""",
    // arr30: the t2/x14 quality+stage rules recomputed relationally —
    // stage 0 is quality >= 0.7 on the 4dp-rounded score
    "arr30_curriculum_store" -> {
      s"""WITH q AS (${graft.operators.TextOps.qualitySql})
       SELECT doc_id, quality, n_tokens FROM q
       WHERE quality >= 0.7 ORDER BY doc_id"""
    },
    // arr31: both snapshots replayed relationally — t1 = keys ≤ 500,
    // t2 = keys ≤ 800 minus the [100,150] tombstone with the ×2
    // update below 200; CDC classes from the same full outer join
    "arr31_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
         t1 AS (SELECT k, p FROM o WHERE k <= 500),
         t2 AS (SELECT k, CASE WHEN k <= 200 THEN p * 2 ELSE p END AS p
           FROM o WHERE k <= 800 AND NOT (k BETWEEN 100 AND 150))
       SELECT coalesce(t1.k, t2.k) AS o_orderkey,
         CASE WHEN t1.k IS NULL THEN 'added'
              WHEN t2.k IS NULL THEN 'deleted'
              ELSE 'updated' END AS change,
         round(t1.p, 2) AS price_old, round(t2.p, 2) AS price_new
       FROM t1 FULL JOIN t2 ON t1.k = t2.k
       WHERE t1.k IS NULL OR t2.k IS NULL OR t1.p <> t2.p
       ORDER BY o_orderkey""",
    "arr10_embedding_store" ->
      """SELECT query_id, vec_id, rk, round(cos, 6) AS cos FROM (
         SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
           list_sum([a.embedding[i]::double * b.embedding[i]::double
                     for i in range(1, len(a.embedding) + 1)]) /
           (sqrt(list_sum([a.embedding[i]::double * a.embedding[i]::double
                     for i in range(1, len(a.embedding) + 1)])) *
            sqrt(list_sum([b.embedding[i]::double * b.embedding[i]::double
                     for i in range(1, len(b.embedding) + 1)]))) AS cos,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY
             list_sum([a.embedding[i]::double * b.embedding[i]::double
                       for i in range(1, len(a.embedding) + 1)]) /
             (sqrt(list_sum([a.embedding[i]::double * a.embedding[i]::double
                       for i in range(1, len(a.embedding) + 1)])) *
              sqrt(list_sum([b.embedding[i]::double * b.embedding[i]::double
                       for i in range(1, len(b.embedding) + 1)]))) DESC,
             b.vec_id) AS rk
         FROM (SELECT * FROM embeddings WHERE vec_id < 3) a
         JOIN embeddings b ON a.vec_id <> b.vec_id)
         WHERE rk <= 5 ORDER BY query_id, rk"""
  )
}
