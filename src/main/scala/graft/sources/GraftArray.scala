package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

/** User-facing array-table API — the Spark rebuild of the reference's
  * handler surface: CREATE (S10), INSERT-as-fragment (S8/S9), scan with
  * fragment semantics (S1), time travel (S7), metadata table (S6),
  * schema evolution (S12), DROP (S11).
  *
  * Every read goes through the one DSv2 scan (`graftarray`), like the
  * reference's single read path; fragment-level pruning and latest-wins
  * dedup are the two pieces the reference implements in its storage
  * layer and the scan adds on top:
  *
  *  - **latest-wins** [SURVEY §1.1 fragments]: newer fragment overwrites
  *    older at equal coordinates when `allowsDups=false`. When fragment
  *    MBRs are pairwise disjoint over the dims this is a no-op; only
  *    overlapping fragments pay an in-reader merge per dim0 slab — the
  *    100 TB design is tile-aligned writes so overlap is rare
  *    (SURVEY §7.4.4).
  *  - **dense fill values**: unwritten cells of a bounded dense
  *    array's domain materialize as fill values [ha_mytile.cc:1088–1164]
  *    in the DSv2 scan's fill partitions, which read columnar like
  *    every other partition; `load` returns written cells only.
  *
  * Every write goes through the one fragment writer
  * (`GraftBatchWrite`/`GraftDataWriter`), like the reference's single
  * `write_row` → `flush_write` path that bulk insert reuses
  * [ha_mytile.cc:3158–3410]: SQL INSERT reaches it through Spark's V2
  * append, `write`, the streaming sink, consolidation and rollback
  * after clustering cells by the array's layout.
  */
object GraftArray {

  // ---- DDL ----------------------------------------------------------

  def create(spark: SparkSession, uri: String, schema: ArraySchema): Unit =
    store(spark, uri).createTable(schema, now())

  def drop(spark: SparkSession, uri: String, deleteArrays: Boolean = true): Unit =
    // honors the reference's mytile_delete_arrays gate [ha_mytile.cc:2903]
    if (deleteArrays) store(spark, uri).dropTable()

  def exists(spark: SparkSession, uri: String): Boolean =
    store(spark, uri).exists()

  /** ALTER TABLE ADD COLUMN (schema evolution, S12). Existing fragments
    * keep their files; reads reconcile via fill value / null. */
  def addColumn(spark: SparkSession, uri: String, attr: AttributeSpec): Unit = {
    val st = store(spark, uri)
    val s = st.loadSchema()
    require(!s.columnNames.contains(attr.name), s"column ${attr.name} exists")
    st.evolveSchema(s.copy(attrs = s.attrs :+ attr), now())
  }

  /** ALTER TABLE DROP COLUMN (attributes only — dims are the key). */
  def dropColumn(spark: SparkSession, uri: String, name: String): Unit = {
    val st = store(spark, uri)
    val s = st.loadSchema()
    require(s.attrs.exists(_.name == name), s"no attribute $name")
    st.evolveSchema(s.copy(attrs = s.attrs.filterNot(_.name == name)), now())
  }

  // ---- write (INSERT → new immutable fragment) ----------------------

  /** Append `df` as one fragment, clustered by the array's cell order
    * into `partitions` files (default: one per input partition), or one
    * file per bucket, and written by the same fragment writer as SQL
    * INSERT, whose guards reject null dimension values (dims are the
    * coordinate key [ha_mytile.cc:3166–3171]), out-of-domain
    * storage-typed values, values outside an enum and characters
    * outside a charset. Returns the fragment timestamp (time-travel
    * handle). */
  def write(spark: SparkSession, uri: String, df: DataFrame,
      origin: Option[String] = None,
      partitions: Option[Int] = None): Long =
    writeFragment(spark, uri, df, origin, partitions = partitions).get

  /** Write only when the input has rows; an empty input leaves the
    * array untouched and returns None. Emptiness is the writer tasks'
    * own row count, so no separate `isEmpty` job runs first (the
    * streaming sink writes through here once per micro-batch). */
  private[graft] def writeNonEmpty(spark: SparkSession, uri: String,
      df: DataFrame, origin: Option[String]): Option[Long] =
    writeFragment(spark, uri, df, origin, skipIfEmpty = true)

  /** Clusters `df` by the array's layout and commits it as one fragment
    * through [[GraftBatchWrite.run]]. `commitTs`/`replaces` are
    * consolidation's and rollback's hooks: commit the rewritten
    * fragment at the originals' max timestamp (or now) superseding
    * them. Only those rewrites may write an encrypted array here; the
    * writer re-encrypts with the session key. */
  private def writeFragment(spark: SparkSession, uri: String,
      df: DataFrame, origin: Option[String],
      commitTs: Option[Long] = None, replaces: Seq[String] = Nil,
      partitions: Option[Int] = None,
      skipIfEmpty: Boolean = false): Option[Long] = {
    val schema = store(spark, uri).loadSchema()
    require(!schema.encrypted || replaces.nonEmpty, "encrypted arrays " +
      "write through the DSv2 path only (INSERT INTO via the graft catalog)")
    val cols = schema.columnNames
    require(df.columns.toSeq.sorted == cols.sorted,
      s"schema mismatch: ${df.columns.toSeq.sorted} vs ${cols.sorted}")
    // conform input to the array's column types (parquet physical type
    // must match the schema exactly for the readers); sameType skips
    // nullability-only differences, which cast refuses to tighten
    val inTypes = df.schema.map(f => f.name -> f.dataType).toMap
    val typed = df.select(cols.map { c =>
      val want = schema.dataTypeOf(c)
      if (org.apache.spark.sql.graftshim.ColumnBridge.sameType(
        inTypes(c), want)) col(c)
      else col(c).cast(want).as(c)
    }: _*)
    val clustered = schema.buckets match {
      // bucketed layout: task i holds exactly bucket i (identity
      // partitioner — `repartition(n, expr)` would re-hash the bucket
      // id and mix buckets per task), rows sorted by dims within. The
      // file written by task i is bucket i, recorded in the manifest.
      case Some(n) => bucketByDim0(schema, typed, n)
      case None => clusterByCellOrder(schema, typed, partitions)
    }
    new graft.sources.v2.GraftBatchWrite(spark, uri, schema,
      clustered.schema, commitTs, replaces, origin,
      skipIfEmpty = skipIfEmpty, bucketed = schema.buckets.isDefined)
      .run(clustered)
  }

  /** The column order this write path physically sorts each file by —
    * must mirror [[clusterByCellOrder]]/[[bucketByDim0]] exactly (a
    * HILBERT declaration that fails its preconditions falls back to
    * the ROW_MAJOR sort, so it IS dim-sorted). Recorded per fragment;
    * the scan reports it as output ordering when every visible
    * fragment agrees [ha_mytile.cc:3501–3519]. */
  private[graft] def sortedByOf(schema: ArraySchema): Seq[String] =
    schema.buckets match {
      case Some(_) => schema.dimNames
      case None => schema.cellOrder match {
        case "UNORDERED" => Nil
        case "HILBERT" if schema.dims.size >= 2 && schema.dims.size <= 63 &&
          schema.dims.forall(d => TypedValue.isIntegral(d.dataType) &&
            d.lowerBound.isDefined) => Nil
        case "COL_MAJOR" | "COLUMN_MAJOR" => schema.dimNames.reverse
        case _ => schema.dimNames
      }
    }

  /** Bucketed physical layout: `pmod(hash(dim0), n)` (Spark murmur3,
    * seed 42) routed so partition i — and therefore part file i —
    * holds exactly bucket i; rows sort by the dim tuple within each
    * bucket. The same hash is exposed as the catalog SQL function
    * `bucket(n, key)`, which the scan reports in its
    * KeyGroupedPartitioning so Spark can plan storage-partitioned
    * (shuffle-free) joins between co-bucketed arrays.
    *
    * Identity routing WITHOUT an RDD round-trip (which paid full row
    * ser/deser per bucketed write): `repartition(n, expr)` places a
    * row at `pmod(murmur3(expr), n)`, so route bucket b through a
    * PROBE integer chosen (on the driver, against the same
    * Murmur3_x86_32 Spark's hash() uses) to land exactly on partition
    * b. The probe lookup is a literal-array element_at — the whole
    * write stays a columnar plan-level shuffle. */
  private def bucketByDim0(schema: ArraySchema, df: DataFrame,
      n: Int): DataFrame = {
    val d0 = schema.dims.head.name
    require(TypedValue.isIntegral(schema.dims.head.dataType),
      s"graft.buckets requires an integral first dimension, got ${schema.dims.head.dataType}")
    // probes(b) = smallest int i with pmod(hashInt(i, 42), n) == b
    val probes = new Array[Int](n)
    val seen = new Array[Boolean](n)
    var found = 0
    var i = 0
    while (found < n) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(i, 42)
      val b = ((h % n) + n) % n
      if (!seen(b)) { seen(b) = true; probes(b) = i; found += 1 }
      i += 1
    }
    val bCol = "_graft_bucket"
    val rCol = "_graft_route"
    df.withColumn(bCol, pmod(hash(col(d0).cast("long")), lit(n)))
      .withColumn(rCol,
        element_at(array(probes.map(lit).toSeq: _*), col(bCol) + 1))
      .repartition(n, col(rCol))
      .sortWithinPartitions(schema.dimNames.map(col): _*)
      .drop(bCol, rCol)
  }

  /** Physical clustering per the array's `cell_order` before a fragment
    * is written [ref: cell/tile order ha_mytile.cc:71–73, 1380–1395]:
    * ROW_MAJOR / COL_MAJOR range-partition + sort by the dims (giving
    * files tight, near-disjoint MBRs → file-level scan pruning);
    * HILBERT clusters ANY number (≥2) of bounded integral dims along a
    * Hilbert curve [t/hilbert.test; TileDB's Hilbert order is n-D] —
    * 2-D keeps the rot-and-fold kernel, d-D uses the Skilling
    * transpose with bits = min(20, 63/d); UNORDERED writes as-is. */
  private def clusterByCellOrder(schema: ArraySchema, df: DataFrame,
      partitions: Option[Int] = None): DataFrame = {
    val dims = schema.dims
    // explicit partition count — AQE would otherwise coalesce the range
    // shuffle and collapse the per-file MBR granularity; defaults to the
    // input's partitioning
    def parts: Int =
      partitions.getOrElse(math.max(df.rdd.getNumPartitions, 1))
    schema.cellOrder match {
      case "UNORDERED" => partitions.fold(df)(df.coalesce)
      case "HILBERT" if dims.size >= 2 && dims.size <= 63 &&
        dims.forall(d => TypedValue.isIntegral(d.dataType) &&
          d.lowerBound.isDefined) =>
        val bits = math.min(20, 63 / dims.size)
        def off(i: Int) =
          (col(dims(i).name).cast("long") - dims(i).lowerBound.get.toLong)
            .bitwiseAND(lit((1L << bits) - 1))
        val h =
          if (dims.size == 2)
            graft.functions.expressions.Kernels.hilbert2d(
              off(0), off(1), bits)
          else graft.functions.expressions.Kernels.hilbertNd(
            array(dims.indices.map(off): _*), bits)
        df.withColumn("_graft_h", h)
          .repartitionByRange(parts, col("_graft_h"))
          .sortWithinPartitions("_graft_h")
          .drop("_graft_h")
      case "COL_MAJOR" | "COLUMN_MAJOR" =>
        val order = dims.reverse.map(d => col(d.name))
        df.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*)
      case _ => // ROW_MAJOR default
        val order = dims.map(d => col(d.name))
        df.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*)
    }
  }

  // ---- read ---------------------------------------------------------

  /** Scan the array as a DataFrame.
    *
    * @param asOf   time-travel timestamp (millis); fragments committed
    *               after it are invisible [open_at semantics]
    * @param since  window start (millis, inclusive) — incremental view
    *               of fragments committed in `[since, asOf]`
    */
  def load(spark: SparkSession, uri: String, asOf: Option[Long] = None,
      since: Option[Long] = None): DataFrame = {
    val schema = store(spark, uri).loadSchema(asOf)
    require(!schema.encrypted, "encrypted arrays read through the DSv2 " +
      "path only (spark.read.format(\"graftarray\") or the graft catalog)")
    scan(spark, uri, asOf, since,
      rawCells = schema.kind == ArrayKind.Dense)
  }

  /** The array through the DSv2 scan: latest-wins and tombstone
    * masking over the fragments visible in `[since, asOf]`, with
    * evolution fills applied. `rawCells` keeps a dense array's unwritten
    * cells virtual (written cells only). */
  private def scan(spark: SparkSession, uri: String, asOf: Option[Long],
      since: Option[Long], rawCells: Boolean): DataFrame = {
    var r = spark.read.format("graftarray").option("path", uri)
    if (rawCells) r = r.option("graft.internal.raw_cells", "true")
    asOf.foreach(t => r = r.option("asOfTimestamp", t.toString))
    since.foreach(t => r = r.option("sinceTimestamp", t.toString))
    r.load()
  }

  // ---- consolidation & vacuum ---------------------------------------
  // Fragment-count growth is the dominant metadata hazard at scale
  // (every write is a fragment; object stores hate small files). The
  // reference declares the OPTIMIZE TABLE capability for this
  // [HA_CONCURRENT_OPTIMIZE, ha_mytile.cc:2948]; the underlying array
  // storage model maintains arrays with consolidate-then-vacuum, which
  // is what these implement Spark-side: one distributed merge job, one
  // atomic manifest commit.

  /** Merge the fragments visible in `[since, asOf]` into ONE new
    * fragment committed at their max timestamp, superseding them
    * (`replaces`). Readers atomically switch to the consolidated
    * fragment; time travel to any instant before that max timestamp
    * still sees the originals (until vacuum). Latest-wins against
    * fragments outside the window is unchanged: within-window versions
    * collapse to the window's winner at the window's max timestamp.
    * The merge runs inside the DSv2 scan (latest-wins and tombstone
    * masking), and the rewrite goes through the one fragment writer
    * (re-encrypting an encrypted array with the session key), which
    * re-clusters cells into files sized from the merged data, restoring
    * per-file MBR pruning that many small interleaved fragments had
    * destroyed.
    * Returns the consolidated fragment's timestamp, or None if fewer
    * than two fragments were eligible. */
  def consolidate(spark: SparkSession, uri: String,
      since: Option[Long] = None, asOf: Option[Long] = None,
      /** Rewrite even a single already-merged data fragment — the
        * rebucket path needs the rewrite for its LAYOUT, not for a
        * merge. Full consolidation only. */
      force: Boolean = false): Option[Long] = {
    val frags = store(spark, uri).listFragments(asOf, since)
    def isTomb(f: FragmentMeta) =
      f.deletePred.isDefined || f.deleteCoordFiles.nonEmpty
    val dataN = frags.count(!isTomb(_))
    // worth doing iff there is a merge (≥2 data fragments), a delete
    // to apply physically, or (full only) pure tombstones to reclaim
    val anyTomb = frags.exists(isTomb)
    if (frags.isEmpty || (!force && dataN < 2 && !anyTomb)) return None
    if (dataN == 0 && since.isDefined) return None // tombstone-only window
    // a windowed merge cannot absorb a fragment that carries BOTH
    // data and a delete marker (row-level MERGE coordinate files,
    // INSERT OVERWRITE predicate): its tombstone masks pre-window
    // rows, but leaving it out of the merge would surface its DATA
    // files twice — full consolidation handles these
    if (since.isDefined && frags.exists(f =>
      f.deleteCoordFiles.nonEmpty ||
        (f.deletePred.isDefined && f.files.nonEmpty)))
      return None
    val maxTs = frags.map(_.timestamp).max
    // Windowed consolidation must NOT absorb tombstones: an in-window
    // tombstone also masks PRE-window fragments, and hiding it would
    // unmask them. Full consolidation (no since) replaces every
    // visible fragment, so nothing older remains to unmask — this is
    // also the ONLY reclamation path for tombstones, so windowed-only
    // maintenance regimes should run a periodic full consolidation.
    // The merged fragment commits at maxTs ≥ every in-window
    // tombstone's timestamp, so surviving tombstones never re-mask it.
    val replaced =
      if (since.isDefined) frags.filterNot(isTomb) else frags
    val merged = scan(spark, uri, asOf, since, rawCells = true)
    // the write re-clusters cells, restoring per-file MBR pruning
    writeFragment(spark, uri, merged,
      origin = Some(s"consolidate:${replaced.size}"),
      commitTs = Some(maxTs), replaces = replaced.map(_.id),
      partitions = Some(mergedFiles(spark, merged)))
    Some(maxTs)
  }

  /** File count for a consolidated or restored fragment, from the
    * merged size by AQE's coalescing rule: one file per
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` of the
    * scan's size estimate, at least one and at most
    * `spark.sql.shuffle.partitions`. The scan's own partitioning counts
    * input files and merge slabs, not merged bytes. */
  private def mergedFiles(spark: SparkSession, merged: DataFrame): Int = {
    val size = merged.queryExecution.optimizedPlan.stats.sizeInBytes
    val perFile = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    ((size + perFile - 1) / perFile).min(cap).max(1).toInt
  }

  /** Physically delete the fragments committed in `[lo, hi]` — the
    * storage model's history-surgery verb (TileDB's
    * `Array::delete_fragments`, the TTL-expiry / bad-ingest-removal
    * API). Unlike rollback (which ADDS a commit and preserves
    * history), this removes the window's commits outright: versions
    * the window shadowed resurface under latest-wins, and time travel
    * into the window no longer sees its writes. Safety rules:
    *  1. an in-window CONSOLIDATED fragment whose absorbed originals
    *     are already vacuumed is refused — it carries content
    *     committed OUTSIDE the window, and the originals no longer
    *     exist to resurface;
    *  2. out-of-window fragments are never touched — including
    *     consolidated ones replacing in-window originals (those
    *     originals die here, which is exactly the cleanup vacuum
    *     would have done).
    * Deletion is post-order (the vacuum rule): a consolidated victim
    * outlives the victims it replaces, so every intermediate state a
    * crash could leave behind is still a readable timeline. Returns
    * the number of fragments removed.
    *
    * Superseded-victim caveat (spec-pinned): an in-window fragment
    * that an OUT-of-window consolidated fragment already absorbed is
    * removed from history, but its content lives on inside the
    * consolidated fragment — the current read is unchanged. That is
    * the storage model's contract too: consolidation bakes the
    * window's writes into a later commit, so "remove the bad wave"
    * must run BEFORE full consolidation (or target the consolidated
    * fragment's own window, pre-vacuum). Callers removing bad data
    * should check the visible read afterwards, not the removed
    * count. */
  def deleteFragments(spark: SparkSession, uri: String,
      lo: Long, hi: Long): Int = {
    val st = store(spark, uri)
    val all = st.listFragmentsRaw()
    val existing = all.map(_.id).toSet
    val victims = all.filter(f => f.timestamp >= lo && f.timestamp <= hi)
    victims.foreach { f =>
      val missing = f.replaces.filterNot(existing.contains)
      require(missing.isEmpty,
        s"delete_fragments: fragment ${f.id} absorbed already-vacuumed " +
          s"fragments ${missing.mkString(",")} — deleting it would destroy " +
          "data committed outside [" + lo + ", " + hi + "]")
    }
    removeFragments(spark, uri, victims)
  }

  /** Size-tiered SMALL-fragment compaction — the policy form of
    * consolidation the reference's storage engine runs as incremental
    * "consolidation steps" over adjacent small fragments (TileDB's
    * step_min/max_frags + size-ratio policy behind the plugin's
    * OPTIMIZE TABLE hook, ha_mytile.cc:2948): streaming ingest leaves
    * trails of tiny fragments whose per-fragment planning cost
    * eventually dominates, but FULL consolidation would rewrite the
    * big fragments too. Walks the visible timeline and
    * windowed-consolidates each maximal run of >= 2 CONSECUTIVE data
    * fragments with rows <= maxRows — rewrite cost is O(small data),
    * never O(table); large fragments are never touched. Tombstone-
    * carrying fragments break runs (windowed consolidation's own
    * safety rule), and a run whose [first, last] timestamp window
    * would capture a fragment OUTSIDE the run (timestamp tie with a
    * neighbor) is skipped conservatively — the id-set check makes the
    * window exact, not heuristic. Returns (runs compacted, fragments
    * absorbed). */
  def consolidateSmall(spark: SparkSession, uri: String,
      maxRows: Long): (Int, Int) = {
    val st = store(spark, uri)
    def isTomb(f: FragmentMeta) =
      f.deletePred.isDefined || f.deleteCoordFiles.nonEmpty
    val frags = st.listFragments()
    val runs = scala.collection.mutable.ArrayBuffer[Seq[FragmentMeta]]()
    val cur = scala.collection.mutable.ArrayBuffer[FragmentMeta]()
    frags.foreach { f =>
      if (!isTomb(f) && f.rows <= maxRows) cur += f
      else { if (cur.size >= 2) runs += cur.toSeq; cur.clear() }
    }
    if (cur.size >= 2) runs += cur.toSeq
    var done = 0
    var absorbed = 0
    runs.foreach { run =>
      val lo = run.head.timestamp
      val hi = run.last.timestamp
      val window = st.listFragments(asOf = Some(hi), since = Some(lo))
      if (window.map(_.id) == run.map(_.id) &&
          consolidate(spark, uri, since = Some(lo), asOf = Some(hi))
            .isDefined) {
        done += 1
        absorbed += run.size
      }
    }
    (done, absorbed)
  }

  /** `CALL cat.rollback('t', ts)` — point-in-time restore as a NEW
    * immutable commit (never a history rewrite): the latest-wins view
    * AS OF `ts` (tombstones applied, dense fills kept virtual) is
    * rewritten as one fragment that `replaces` EVERYTHING currently
    * visible, committing at now(). Post-rollback reads see exactly the
    * `ts` content; the bad period stays time-travelable until vacuum
    * reclaims it — the undo-a-bad-ingest admin verb with the same
    * history-for-space trade as consolidation. Rolling back to before
    * the first fragment empties the table (documented; the view is
    * legitimately empty there). Returns the restore fragment's
    * timestamp, or None when nothing newer than `ts` exists. */
  def rollback(spark: SparkSession, uri: String, asOfTs: Long)
      : Option[Long] = {
    val frags = store(spark, uri).listFragments(None)
    if (!frags.exists(_.timestamp > asOfTs)) return None
    val view = scan(spark, uri, Some(asOfTs), None, rawCells = true)
    writeFragment(spark, uri, view, origin = Some(s"rollback:$asOfTs"),
      replaces = frags.map(_.id),
      partitions = Some(mergedFiles(spark, view)))
  }

  /** `CALL cat.rebucket('t', n)` — change the storage bucket count:
    * evolve the schema (a NEW version; time travel keeps the old one)
    * and rewrite the visible content as ONE consolidated fragment laid
    * out bucket-complete under the new count. The scan's
    * KeyGroupedPartitioning gate requires EVERY visible fragment to
    * match the schema's count, so this rewrite is what (re-)arms
    * shuffle-free storage-partitioned joins / GROUP BY after the
    * count changes — or after DSv2/DML fragments (never
    * bucket-complete) degraded the layout. `n <= 0` removes
    * bucketing. Pre-rebucket time-travel reads degrade safely to
    * UnknownPartitioning (old schema count vs. new fragment count
    * fails the gate): correct rows, conservative layout. Returns the
    * rewritten fragment's timestamp; None when nothing was rewritten
    * (empty array — the schema still evolves). */
  def rebucket(spark: SparkSession, uri: String, n: Int): Option[Long] = {
    val st = store(spark, uri)
    val s = st.loadSchema()
    require(!s.encrypted, "rebucket is unsupported on encrypted arrays")
    val nb = if (n > 0) Some(n) else None
    if (s.buckets == nb) return None
    st.evolveSchema(s.copy(buckets = nb), now())
    consolidate(spark, uri, force = true)
  }

  /** Fragment origin tags are the streaming sink's replay ledger
    * (EventPipeline.commitStreamBatch). Before [[removeFragments]]
    * deletes tagged manifests, promote each sink's highest destroyed
    * batchId to a high-water mark in array metadata, so a replay of any
    * removed batch is still recognized. One metadata commit per removal
    * that destroys tags; batch commits write none. */
  private def carryStreamLedger(spark: SparkSession, uri: String,
      victims: Seq[FragmentMeta]): Unit = {
    val tags = victims.flatMap(_.origin).flatMap { o =>
      if (!o.startsWith("stream:")) None
      else {
        val rest = o.stripPrefix("stream:")
        val cut = rest.lastIndexOf(':') // sinkId may itself contain ':'
        if (cut < 0) None
        else scala.util.Try(rest.take(cut) -> rest.drop(cut + 1).toLong)
          .toOption
      }
    }
    if (tags.nonEmpty) {
      val st = store(spark, uri)
      val cur = st.loadMetadata()
      val updates = tags.groupBy(_._1).flatMap { case (sink, xs) =>
        val hi = xs.map(_._2).max
        val key = s"graft.stream.$sink.last_batch"
        if (cur.get(key).exists(_.toLong >= hi)) None
        else Some(key -> hi.toString)
      }
      if (updates.nonEmpty) putMetadata(spark, uri, updates)
    }
  }

  /** Reclaim fragments superseded by consolidation: delete their
    * manifests and data directories. Irreversible — time travel to
    * pre-consolidation instants afterwards sees the consolidated
    * content only (the same history-for-space trade the storage
    * model's vacuum makes). Returns the number removed. */
  def vacuum(spark: SparkSession, uri: String): Int = {
    val all = store(spark, uri).listFragmentsRaw()
    val replaced = all.flatMap(_.replaces).toSet
    removeFragments(spark, uri, all.filter(f => replaced.contains(f.id)))
  }

  /** Delete `victims` (vacuum, delete_fragments) after carrying their
    * stream ledger forward. Deletion order matters under nested
    * consolidation: a victim that itself replaces other victims (an
    * intermediate consolidated fragment) must outlive them — if it
    * were deleted first and the removal crashed, its orphans would
    * resurface next to the final consolidated fragment as duplicates.
    * Post-order keeps every intermediate state readable. Returns the
    * number removed. */
  private def removeFragments(spark: SparkSession, uri: String,
      victims: Seq[FragmentMeta]): Int = {
    val st = store(spark, uri)
    carryStreamLedger(spark, uri, victims)
    val byId = victims.map(f => f.id -> f).toMap
    val done = scala.collection.mutable.Set.empty[String]
    def rm(f: FragmentMeta): Unit = if (!done.contains(f.id)) {
      done += f.id // mark first: replaces cycles are malformed, not loops
      f.replaces.flatMap(byId.get).foreach(rm)
      st.removeFragment(f)
    }
    victims.foreach(rm)
    victims.size
  }

  /** `uri@metadata` — key/value metadata as a 2-column table
    * [ref: mytile-metadata.cc:40–105, discovery 475–583]. */
  def metadata(spark: SparkSession, uri: String,
      asOf: Option[Long] = None): DataFrame = {
    import scala.jdk.CollectionConverters._
    val kv = store(spark, uri).loadMetadata(asOf)
    spark.createDataFrame(
      kv.toSeq.sortBy(_._1)
        .map { case (k, v) => org.apache.spark.sql.Row(k, v) }.asJava,
      StructType(Seq(StructField("key", StringType, nullable = false),
        StructField("value", StringType))))
  }

  def putMetadata(spark: SparkSession, uri: String,
      kv: Map[String, String]): Unit =
    store(spark, uri).putMetadata(kv, now())

  // ---- helpers ------------------------------------------------------

  /** Visible fragment manifests (driver-side, manifest-sized — never
    * touches data files). */
  def fragments(spark: SparkSession, uri: String): Seq[FragmentMeta] =
    store(spark, uri).listFragments()

  /** Commit a delete-condition tombstone: CELLS (stored versions) of
    * every EARLIER fragment matching `pred` are masked from reads
    * at/after this commit (time travel below it is untouched). This is
    * the storage model's per-version delete condition — an attribute
    * predicate can mask a coordinate's visible version while an older
    * version survives and becomes visible again. SQL DELETE restricts
    * itself to dimension predicates for exact row semantics; this API
    * offers the full surface. Manifest-only — no data I/O;
    * consolidation+vacuum later reclaims masked rows physically. */
  def commitTombstone(spark: SparkSession, uri: String,
      pred: graft.sources.v2.PredicateSupport.Pred): Long = {
    val st = store(spark, uri)
    val schema = st.loadSchema()
    // TrueP (TRUNCATE) carries no values, so the plaintext leak that
    // blocks value-bearing predicates does not apply to it
    require(!schema.encrypted ||
        pred == graft.sources.v2.PredicateSupport.TrueP,
      "delete conditions on encrypted arrays are not supported (the " +
        "predicate would persist in plaintext next to encrypted files)")
    val unknown = pred.refs.diff(schema.columnNames.toSet)
    require(unknown.isEmpty,
      s"delete predicate references unknown columns: ${unknown.mkString(", ")}")
    val ts = now()
    st.commitFragment(FragmentMeta(
      java.util.UUID.randomUUID.toString.take(12), ts, Nil, 0L, Map.empty,
      deletePred = Some(graft.sources.v2.PredJson.toJson(pred))))
    ts
  }

  private[graft] def store(spark: SparkSession, uri: String): FragmentStore =
    new FragmentStore(uri, spark.sparkContext.hadoopConfiguration)

  private val lastTs = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Strictly increasing commit timestamp (millis). */
  private[graft] def now(): Long =
    lastTs.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))
}

/** Fragment pruning: pushed dim ranges ∩ fragment MBRs (P10) and the
  * disjointness test that lets scans skip latest-wins dedup. */
object FragmentPruning {

  /** Can any row of a file with per-column stats `st` satisfy every
    * constraint in `cons`? The ONE file-level stats test shared by
    * partition planning (GraftScanImpl.selectFiles) and the aggregate
    * consumption proof (GraftScanBuilder.survivingFiles) — keeping
    * the two callers in lockstep is what makes predicate consumption
    * sound. Missing stats keep the file conservatively. */
  def fileOverlaps(schema: ArraySchema, st: Map[String, ColumnStats],
      cons: Map[String, graft.core.RangeAlgebra.DimConstraint]): Boolean =
    cons.forall { case (colName, c) =>
      val dt = schema.dataTypeOf(colName)
      st.get(colName) match {
        case Some(cs) => (cs.min, cs.max) match {
          case (Some(mn), Some(mx)) => c.overlapsMbr(
            TypedValue.parse(dt, mn), TypedValue.parse(dt, mx))
          case _ => true
        }
        case None => true
      }
    }

  /** Parsed dim MBRs of a fragment or a file; `None` bound = unknown
    * stats (conservatively overlaps everything on that side). Parsed
    * ONCE — overlap analysis runs over these, never re-reading
    * manifests. */
  type Box = IndexedSeq[(Option[Any], Option[Any])]

  /** The dim box of one stats map (a fragment's or a file's). */
  def parseBox(stats: Map[String, ColumnStats], schema: ArraySchema): Box =
    schema.dims.map { d =>
      val st = stats.get(d.name)
      (st.flatMap(_.min).map(TypedValue.parse(d.dataType, _)),
        st.flatMap(_.max).map(TypedValue.parse(d.dataType, _)))
    }.toIndexedSeq

  /** Do boxes `a` and `b` overlap in every dim from index `from` on?
    * A dim separates iff a KNOWN max lies strictly below a KNOWN min —
    * an unknown bound on the other side cannot undo that separation
    * (a recorded max is the actual max), so partially-known stats
    * still prune; fully-unknown dims overlap conservatively. */
  private def boxesOverlap(a: Box, b: Box, from: Int,
      ord: Ordering[Any]): Boolean =
    !(from until a.size).exists { d =>
      val ((mn1, mx1), (mn2, mx2)) = (a(d), b(d))
      (for (x <- mx1; n <- mn2) yield ord.compare(x, n) < 0)
        .getOrElse(false) ||
        (for (x <- mx2; n <- mn1) yield ord.compare(x, n) < 0)
          .getOrElse(false)
    }

  /** Visit every overlapping fragment pair via a dim0 sweep: sort by
    * dim0 lower bound, keep an active set pruned by dim0 upper bound,
    * and full-check only dim0-overlapping candidates. O(n log n + k·d)
    * for k true overlap pairs — a streaming-ingested table with tens
    * of thousands of time/key-ordered fragments plans in linear-ish
    * driver time instead of the naive O(n²·d) with per-pair stat
    * re-parsing. Worst case (all fragments mutually overlapping in
    * dim0) degrades to O(n²) CHEAP comparisons, no parsing.
    * `onPair` returns false to stop the sweep early. */
  def forEachOverlappingPair(boxes: IndexedSeq[Box],
      onPair: (Int, Int) => Boolean): Unit = {
    if (boxes.size < 2) return
    val ord = TypedValue.ordering
    // None lower bound = -inf → sorts first
    val order = boxes.indices.sortWith { (i, j) =>
      (boxes(i).head._1, boxes(j).head._1) match {
        case (None, None) => i < j
        case (None, _) => true
        case (_, None) => false
        case (Some(a), Some(b)) =>
          val c = ord.compare(a, b); if (c != 0) c < 0 else i < j
      }
    }
    val active = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- order) {
      val lo = boxes(i).head._1
      // evict actives whose dim0 max is strictly below i's dim0 min
      // (None max = +inf, never evicted; None lo = -inf, evicts none)
      lo.foreach { l =>
        var w = 0
        var r = 0
        while (r < active.size) {
          val keep = boxes(active(r)).head._2 match {
            case Some(mx) => ord.compare(mx, l) >= 0
            case None => true
          }
          if (keep) { active(w) = active(r); w += 1 }
          r += 1
        }
        active.takeInPlace(w)
      }
      // actives have dim0 lower ≤ lo and dim0 upper ≥ lo → dim0
      // overlaps; check the remaining dims only
      var a = 0
      while (a < active.size) {
        val j = active(a)
        if (boxesOverlap(boxes(i), boxes(j), 1, ord) &&
          !onPair(math.min(i, j), math.max(i, j))) return
        a += 1
      }
      active += i
    }
  }

  /** Do any two fragments overlap in dim-MBR space? Sweep-based over
    * fragment *metadata* (manifest-sized, not data-sized). */
  def pairwiseDisjoint(frags: Seq[FragmentMeta], schema: ArraySchema): Boolean = {
    var disjoint = true
    forEachOverlappingPair(frags.map(f => parseBox(f.stats, schema)).toIndexedSeq,
      (_, _) => { disjoint = false; false })
    disjoint
  }

  /** Fragments whose MBR intersects every pushed dim constraint. */
  def select(frags: Seq[FragmentMeta], schema: ArraySchema,
      constraints: Map[String, RangeAlgebra.DimConstraint]): Seq[FragmentMeta] =
    frags.filter { f =>
      constraints.forall { case (dim, c) =>
        val dt = schema.dataTypeOf(dim)
        f.stats.get(dim) match {
          case Some(st) => (st.min, st.max) match {
            case (Some(mn), Some(mx)) =>
              c.overlapsMbr(TypedValue.parse(dt, mn), TypedValue.parse(dt, mx))
            case _ => true // no stats → can't prune
          }
          case None => true
        }
      }
    }
}
