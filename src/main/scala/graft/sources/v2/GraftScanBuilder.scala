package graft.sources.v2

import java.util.OptionalLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import graft.core._
import graft.core.RangeAlgebra.DimConstraint
import graft.sources.FragmentPruning
import graft.sources.v2.PredicateSupport.Pred

/** ScanBuilder implementing the reference's three pushdown channels on
  * the DSv2 interfaces (SURVEY §0):
  *
  *  A. dim predicates → [[DimConstraint]]s → fragment pruning
  *     (subarray analog, P4/P8–P10)
  *  B. attr predicates → file skipping from per-file stats, then
  *     Spark's Filter over the scan's batches (QueryCondition, P5)
  *  C. aggregates → fragment-statistics fast path (A1–A7) — COUNT /
  *     MIN / MAX / SUM / AVG answered with zero data I/O when exact
  *
  * plus column pruning (P1), statistics (SupportsReportStatistics) and
  * runtime filtering (DPP analog, J3).
  */
class GraftScanBuilder(
    spark: SparkSession,
    uri: String,
    schema: ArraySchema,
    frags: Seq[FragmentMeta],
    asOf: Option[Long],
    /** Disable dense fill materialization: emit WRITTEN cells only
      * (consolidation's view — fills must stay virtual). */
    rawCells: Boolean = false,
    /** Streaming admission-control defaults (read options
      * maxFragmentsPerTrigger / maxRowsPerTrigger). */
    streamMaxFrags: Option[Int] = None,
    streamMaxRows: Option[Long] = None)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownV2Filters
  with SupportsPushDownAggregates
  with SupportsPushDownTopN {

  private val fullStruct = schema.toStruct
  private var requiredStruct: StructType = fullStruct
  private var pushed: Array[V2Predicate] = Array.empty
  private var preds: Seq[Pred] = Nil
  private var aggValues: Option[Seq[Any]] = None
  private var aggSchema: StructType = _
  private var topN: Option[(Boolean, Int)] = None

  // ---- TopN pushdown: ORDER BY dim0 LIMIT k file pruning -----------
  /** Accept when the PRIMARY sort key is the first dimension (the
    * cell-order clustering key — the reference reads LIMIT queries in
    * clustered-index order the same way): planning can then drop every
    * file that provably cannot contribute to the first k rows. Partial
    * push — Spark re-sorts and re-limits on top, so deeper sort keys
    * and tie-breaking stay exact. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    val accepted = orders.headOption.flatMap { o =>
      o.expression() match {
        case r: NamedReference if r.fieldNames.length == 1 &&
            r.fieldNames.head == schema.dims.head.name =>
          Some(o.direction() == SortDirection.ASCENDING)
        case _ => None
      }
    }
    accepted.foreach(asc => topN = Some((asc, n)))
    accepted.isDefined
  }
  override def isPartiallyPushed(): Boolean = true

  // ---- P1: column pruning ------------------------------------------
  override def pruneColumns(required: StructType): Unit =
    // preserve our field order/metadata; Spark's order, our types.
    // Metadata columns (_frag_id/_commit_ts) are not in fullStruct —
    // resolve them from their definitions so provenance reads prune
    // like any other projection
    requiredStruct = StructType(required.fieldNames.flatMap(n =>
      fullStruct.fields.find(_.name == n)
        .orElse(GraftMetaCols.structField(n))))

  // ---- P2–P6: predicate pushdown -----------------------------------
  /** Schema augmented with the provenance metadata columns (when not
    * shadowed by user columns) so predicates on them convert:
    * `_commit_ts > X` prunes whole FRAGMENTS from their manifest
    * timestamps — an incremental read expressed as a plain WHERE. */
  private val predSchema: ArraySchema = {
    val extra = GraftMetaCols.fields.collect {
      case (n, f) if !schema.columnNames.contains(n) =>
        AttributeSpec(n, f.dataType)
    }.toSeq
    if (extra.isEmpty) schema else schema.copy(attrs = schema.attrs ++ extra)
  }

  /** Spatial-pushdown metadata (geometry attribute name, PAD_X/PAD_Y)
    * — the reference loads the same keys before its spatial rewrite
    * [ha_mytile.cc:2316–2320, 2380–2391]. Failure-safe: an unreadable
    * metadata file only disables the geometry-column rewrite. */
  private lazy val spatialMeta: PredicateSupport.SpatialMeta =
    PredicateSupport.SpatialMeta.fromMetadata(
      scala.util.Try(graft.sources.GraftArray.store(spark, uri)
        .loadMetadata(asOf)).getOrElse(Map.empty))

  override def pushPredicates(predicates: Array[V2Predicate]): Array[V2Predicate] = {
    val converted: Array[(V2Predicate, Option[Pred])] =
      predicates.map(p =>
        p -> PredicateSupport.convert(p, predSchema, spatialMeta))
    pushed = converted.collect { case (p, Some(_)) => p }
    preds = converted.flatMap(_._2).toSeq
    // Predicates are returned as residual BY DEFAULT: accepted ones
    // still drive fragment/file pruning (subarray analog), but Spark
    // keeps its own codegen Filter over the scan's ColumnarBatches —
    // the same contract as the built-in parquet source. The data
    // readers evaluate no pushed predicate.
    //
    // EXCEPTION — exact coverage: a dim predicate PROVABLY true on
    // every file that survives MBR pruning is enforced entirely by the
    // pruning itself, so it is consumed (no residual): no row of a
    // planned file can violate it. Fill partitions, whose cells lie in
    // no file, still evaluate every pushed predicate in-reader.
    // Consumption is what unlocks Spark's aggregate pushdown under dim
    // ranges — Spark only pushes aggregates when no post-scan filter
    // remains — matching the reference's aggregates-under-pushed-
    // subarray [ha_mytile.cc:156–194, 634–640].
    val constraints = PredicateSupport.dimConstraints(preds, schema)
    lazy val files = survivingFiles(constraints)
    def mbrOf(f: FragmentMeta, rel: String)(c: String): Option[(Any, Any)] =
      f.fileStats.get(rel).flatMap(_.get(c)).flatMap { cs =>
        val dt = schema.dataTypeOf(c)
        for (mn <- cs.min; mx <- cs.max)
          yield (TypedValue.parse(dt, mn), TypedValue.parse(dt, mx))
      }
    val (consumedPairs, residual) = converted.partition {
      case (_, Some(pr)) => files.forall { case (f, rel) =>
        PredicateSupport.provablyTrueOnMbr(pr, schema, mbrOf(f, rel)) }
      case (_, None) => false
    }
    consumed = consumedPairs.flatMap(_._2).toSeq
    residual.map(_._1)
  }
  override def pushedPredicates(): Array[V2Predicate] = pushed

  /** Preds fully enforced by file-level pruning (no residual left with
    * Spark) — when nonempty, tryAggregate answers from the stats of
    * the SELECTED files rather than whole fragments. */
  private var consumed: Seq[Pred] = Nil

  /** Data files surviving fragment+file MBR pruning under
    * `constraints` — the same per-file test partition planning applies
    * (GraftScanImpl.selectFiles), paired with their owning fragment. */
  private def survivingFiles(constraints: Map[String, DimConstraint])
      : Seq[(FragmentMeta, String)] =
    if (constraints.exists(_._2.definitelyEmpty)) Nil
    else FragmentPruning.select(frags, schema, constraints).flatMap { f =>
      f.files.filter { rel =>
        f.fileStats.get(rel) match {
          case Some(st) => FragmentPruning.fileOverlaps(schema, st, constraints)
          case None => true // no per-file stats → keep (can't prune)
        }
      }.map(f -> _)
    }

  // ---- A1–A7: aggregate pushdown from fragment stats ----------------
  // Spark calls supportCompletePushDown then pushAggregation on the
  // SAME Aggregation; tryAggregate sweeps every fragment box + file
  // MBR, so memoize the last evaluation instead of paying the
  // driver-side planning cost twice per pushed aggregate.
  private var lastAgg: Option[(Aggregation, Option[(Seq[Any], StructType)])] =
    None
  private def tryAggregateCached(agg: Aggregation)
      : Option[(Seq[Any], StructType)] = lastAgg match {
    case Some((a, r)) if a eq agg => r
    case _ =>
      val r = tryAggregate(agg)
      lastAgg = Some((agg, r))
      r
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    tryAggregateCached(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    tryAggregateCached(agg) match {
      case Some((values, st)) =>
        aggValues = Some(values); aggSchema = st; true
      case None => false
    }

  /** Stats-only evaluation, or None when any gate fails. Gates follow
    * the reference [aggregate_is_supported, ha_mytile.cc:567–605] plus
    * exactness requirements of the stats path:
    *  - no GROUP BY; no predicates EXCEPT consumed dim ranges (whose
    *    truth was proven file-level — aggregate-under-range,
    *    ha_mytile.cc:156–194)
    *  - latest-wins must be a no-op (dups allowed or disjoint MBRs)
    *  - COUNT not on dense (fill-value semantics)
    *  - MIN/MAX numeric/datetime/decimal always; strings gated by the
    *    32-byte truncation guard (reference caps string aggs the same
    *    way, ha_mytile.cc:316–339)
    */
  private def tryAggregate(agg: Aggregation): Option[(Seq[Any], StructType)] = {
    if (agg.groupByExpressions().nonEmpty) return None
    // pushed predicates block the stats path unless EVERY one was
    // consumed (fully enforced by file-level pruning) — then the
    // aggregate answers from the stats of the selected files alone
    // (aggregate-under-range; reference ha_mytile.cc:156–194). Any
    // residual predicate means Spark keeps a Filter and never offers
    // the aggregate anyway; this gate is the defensive mirror.
    if (pushed.length > consumed.length) return None
    // Delete markers mask rows that fragment statistics still count —
    // stats cannot answer exactly while anything OLDER than a marker
    // is live. But a marker with nothing older to mask is inert: drop
    // history behind the newest TrueP tombstone (TRUNCATE / full
    // INSERT OVERWRITE — same manifest-level pruning the scan does),
    // then gate only if a remaining marker still has older data rows
    // in range. The common refresh pattern — rewrite the table via
    // INSERT OVERWRITE — keeps O(1) stats aggregates this way.
    val fullMaskTs = this.frags.collect {
      case f if f.deletePred.exists(
          PredJson.fromJson(_) == PredicateSupport.TrueP) => f.timestamp
    }.maxOption
    val visible = fullMaskTs match {
      case Some(ts) => this.frags.filter(_.timestamp >= ts)
      case None => this.frags
    }
    def isMarker(f: FragmentMeta) =
      f.deletePred.isDefined || f.deleteCoordFiles.nonEmpty
    if (visible.exists(m => isMarker(m) &&
        visible.exists(f => f.timestamp < m.timestamp && f.rows > 0)))
      return None
    // surviving markers are inert; files-less ones carry no stats and
    // would otherwise fail the per-fragment stats-presence checks
    val frags = visible.filterNot(f => // shadows the full list below
      f.files.isEmpty && isMarker(f))
    // a fillable dense array's scan materializes fill cells, which
    // written-cell statistics know nothing about — no aggregate may
    // answer from stats (superset of the reference's COUNT gate,
    // ha_mytile.cc:598–601)
    if (schema.kind == ArrayKind.Dense &&
      schema.dims.forall(d => TypedValue.isIntegral(d.dataType) &&
        d.lowerBound.isDefined && d.upperBound.isDefined)) return None
    if (!schema.allowsDups && frags.size > 1 &&
      !FragmentPruning.pairwiseDisjoint(frags, schema)) return None
    // Stat units: whole fragments normally; the SELECTED FILES when
    // the scan consumed dim-range predicates — only data inside the
    // pushed range may contribute. Consumption proved every row of
    // every selected file satisfies the predicates, so file-level
    // min/max/sum/nullCount answer the range aggregate exactly. A
    // selected file without per-file rows/stats (pre-round-5 manifest)
    // forces the real-scan fallback.
    val units: Seq[(Long, Map[String, ColumnStats])] =
      if (consumed.isEmpty) frags.map(f => (f.rows, f.stats))
      else {
        val visibleIds = frags.map(_.id).toSet
        val picked = survivingFiles(
          PredicateSupport.dimConstraints(preds, schema))
          .filter { case (f, _) => visibleIds.contains(f.id) }
        var missing = false
        val us = picked.groupBy(_._1.id).values.toSeq.flatMap { fs =>
          val f = fs.head._1
          // fragment fully inside the range → its fragment-level stats
          // are exact (and carry sums even when per-file stats don't,
          // as in manifests from the earlier footer-derived writer)
          if (fs.size == f.files.size) Seq((f.rows, f.stats))
          else fs.map { case (_, rel) =>
            if (!f.fileRows.contains(rel) || !f.fileStats.contains(rel)) {
              missing = true; (0L, Map.empty[String, ColumnStats])
            } else (f.fileRows(rel), f.fileStats(rel))
          }
        }
        if (missing) return None
        us
      }
    val totalRows = units.map(_._1).sum
    val ord = TypedValue.ordering

    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head).filter(schema.columnNames.contains)
      case _ => None
    }
    def statsOf(c: String): Seq[ColumnStats] = units.flatMap(_._2.get(c))
    def minMaxable(c: String): Boolean = schema.dataTypeOf(c) match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | _: DecimalType => true
      case StringType =>
        // strings only when provably untruncated. The invariant this
        // leans on is the WRITER's, not the stat length per se: graft
        // manifests record full min/max values (GraftDataWriter never
        // truncates), so any stat ≤ 32 bytes is
        // exact. The 32-byte cap mirrors the reference's string-agg
        // gate [ha_mytile.cc:316–339] and additionally shields against
        // a hypothetical future writer that truncates at ≥ 32 bytes;
        // if manifest stats ever become truncatable below that, this
        // gate must learn the writer's truncation length.
        statsOf(c).forall(s => (s.min.toSeq ++ s.max.toSeq)
          .forall(_.getBytes("UTF-8").length <= 32))
      case _ => false
    }
    def minMax(c: String, wantMin: Boolean): Option[Any] = {
      val dt = schema.dataTypeOf(c)
      val ss = statsOf(c)
      if (ss.size != units.size) return None // a unit lacks stats
      val vals = ss.flatMap(s => (if (wantMin) s.min else s.max)
        .map(TypedValue.parse(dt, _)))
      // all-null fragments contribute no value; need ≥1 overall or null
      val nonNullRows = totalRows - ss.map(_.nullCount).sum
      if (nonNullRows == 0) Some(null)
      else if (vals.isEmpty) None
      else Some(if (wantMin) vals.min(ord) else vals.max(ord))
    }
    def sumOf(c: String): Option[Any] = {
      val ss = statsOf(c)
      if (ss.size != units.size) return None
      // SQL sum over zero non-null values is NULL, not 0
      if (totalRows - ss.map(_.nullCount).sum == 0) return Some(null)
      // cross-fragment addition must not wrap: Spark's sum(decimal) has
      // +10 digits of headroom, so a wrapped Long here would silently
      // diverge — overflow falls back to a real scan. (For pure integral
      // columns Spark's own non-ANSI sum wraps mod 2^64, which per-
      // fragment wrapped partials would reproduce, but exactness-or-
      // fallback is the simpler invariant and the overflow is equally
      // astronomical.)
      def exactLongSum(parts: Seq[Option[Long]]): Option[Any] =
        if (parts.forall(_.isDefined))
          try Some(parts.flatten.foldLeft(0L)(Math.addExact))
          catch { case _: ArithmeticException => None }
        else if (totalRows == 0) Some(null) else None
      schema.dataTypeOf(c) match {
        case ByteType | ShortType | IntegerType | LongType =>
          exactLongSum(ss.map(_.sumLong))
        case FloatType | DoubleType =>
          val parts = ss.map(_.sumDouble)
          if (parts.forall(_.isDefined)) Some(parts.flatten.sum)
          else if (totalRows == 0) Some(null) else None
        case _: DecimalType => // manifest sums are unscaled longs
          exactLongSum(ss.map(_.sumLong))
        case _ => None
      }
    }
    def outType(c: String): DataType = schema.dataTypeOf(c)

    val results = agg.aggregateExpressions().map {
      case _: CountStar =>
        if (schema.kind == ArrayKind.Dense) None // [ha_mytile.cc:598–601]
        else Some((totalRows, LongType))
      case c: Count if !c.isDistinct =>
        colName(c.column).flatMap { n =>
          if (schema.kind == ArrayKind.Dense) None
          else statsOf(n) match {
            case ss if ss.size == units.size =>
              Some((totalRows - ss.map(_.nullCount).sum, LongType))
            case _ => None
          }
        }
      case m: Min =>
        colName(m.column).filter(minMaxable)
          .flatMap(n => minMax(n, wantMin = true).map((_, outType(n))))
      case m: Max =>
        colName(m.column).filter(minMaxable)
          .flatMap(n => minMax(n, wantMin = false).map((_, outType(n))))
      case s: Sum if !s.isDistinct =>
        colName(s.column).flatMap { n =>
          sumOf(n).map { v =>
            schema.dataTypeOf(n) match {
              case FloatType | DoubleType => (v, DoubleType)
              // Spark's sum(decimal(p,s)) widens to decimal(p+10, s)
              case dt: DecimalType =>
                (v, DecimalType(math.min(dt.precision + 10, 38), dt.scale))
              case _ => (v, LongType)
            }
          }
        }
      case a: Avg if !a.isDistinct =>
        // decimal AVG stays unpushed (result scale semantics differ);
        // Spark computes it exactly from the data
        colName(a.column).filterNot(n =>
          schema.dataTypeOf(n).isInstanceOf[DecimalType]).flatMap { n =>
          val cnt = statsOf(n) match {
            case ss if ss.size == units.size =>
              Some(totalRows - ss.map(_.nullCount).sum)
            case _ => None
          }
          (sumOf(n), cnt) match {
            case (Some(null), _) => Some((null, DoubleType))
            case (Some(s), Some(c)) if c > 0 =>
              val sd = s match {
                case l: Long => l.toDouble; case d: Double => d
              }
              Some((sd / c, DoubleType))
            case _ => None
          }
        }
      case _ => None
    }
    if (results.exists(_.isEmpty)) None
    else {
      val vs = results.map(_.get)
      Some((vs.map(_._1).toSeq, StructType(vs.zipWithIndex.map {
        case ((_, dt), i) => StructField(s"agg_$i", dt)
      })))
    }
  }

  // ---- build --------------------------------------------------------
  override def build(): Scan = {
    aggValues match {
      case Some(vals) => new GraftAggScan(vals, aggSchema)
      case None =>
        val constraints =
          PredicateSupport.dimConstraints(preds, schema)
        new GraftScanImpl(spark, uri, schema, frags, requiredStruct,
          preds, constraints, rawCells, streamMaxFrags,
          streamMaxRows, topN)
    }
  }
}

/** Normal data scan with fragment pruning, statistics and runtime
  * (DPP-style) re-pruning. */
class GraftScanImpl(
    spark: SparkSession,
    uri: String,
    schema: ArraySchema,
    allFrags: Seq[FragmentMeta],
    requiredStruct: StructType,
    preds: Seq[Pred],
    initialConstraints: Map[String, DimConstraint],
    rawCells: Boolean = false,
    streamMaxFrags: Option[Int] = None,
    streamMaxRows: Option[Long] = None,
    topN: Option[(Boolean, Int)] = None)
  extends Scan with Batch
  with SupportsReportStatistics with SupportsRuntimeFiltering
  with SupportsReportPartitioning with SupportsReportOrdering {

  /** Set once any runtime filter narrows this scan: runtime-filtered
    * row counts are no longer the planning-time counts, so count-based
    * top-N file pruning stands down (constraint pruning still runs). */
  private var runtimeNarrowed = false

  private var constraints = initialConstraints

  /** Per-ATTRIBUTE value constraints from the AND-decomposition of the
    * pushed predicates (plus runtime filters below) — used ONLY to
    * skip whole files from their per-file min/max stats, the
    * parquet-row-group-pruning analog for attributes. Sound because
    * every extracted leaf is null-rejecting (a NULL attr fails the
    * predicate), so deciding from non-null min/max cannot drop a
    * passing row. Gated on `mergeFree`: under latest-wins merge,
    * skipping a NEWER file could resurface the older version of a
    * coordinate it shadows (same rule as provenance pruning). */
  private var attrCons: Map[String, DimConstraint] =
    PredicateSupport.columnConstraints(preds, schema,
      c => !schema.dimNames.contains(c))

  /** Fragment pruning from provenance predicates: `_commit_ts` and
    * `_frag_id` are fragment-CONSTANT, so conjunctive (AND-reachable)
    * leaves on them eliminate whole fragments from the manifest alone
    * — `WHERE _commit_ts > X` is an incremental read with zero I/O on
    * older fragments. OR-subtrees never prune (same conservative rule
    * as dim constraints). Inactive when a user column shadows the
    * metadata name.
    *
    * Merge safety: the predicate's semantics are "filter the MERGED
    * view", so pruning must never change which version wins.
    *  - LOWER bounds (`>`, `>=`) prune only OLDER fragments — a winner
    *    never loses to an older version, always safe.
    *  - Upper bounds / `=` / `IN` could remove a NEWER fragment and
    *    resurface the version it had overwritten — only safe when no
    *    latest-wins merge can occur (allowsDups or pairwise-disjoint
    *    fragments). Otherwise those leaves don't prune and Spark's
    *    residual filter alone decides. */
  private lazy val mergeFree: Boolean =
    schema.allowsDups || allFrags.size <= 1 ||
      FragmentPruning.pairwiseDisjoint(allFrags, schema)

  private def provenanceOk(f: FragmentMeta): Boolean = {
    import PredicateSupport._
    def leaves(p: Pred): Seq[Pred] = p match {
      case AndP(l, r) => leaves(l) ++ leaves(r)
      case other => Seq(other)
    }
    val tsIsMeta = !schema.columnNames.contains(GraftMetaCols.CommitTs)
    val idIsMeta = !schema.columnNames.contains(GraftMetaCols.FragId)
    preds.flatMap(leaves).forall {
      case Cmp(">", GraftMetaCols.CommitTs, v: Long) if tsIsMeta =>
        f.timestamp > v
      case Cmp(">=", GraftMetaCols.CommitTs, v: Long) if tsIsMeta =>
        f.timestamp >= v
      case Cmp("<", GraftMetaCols.CommitTs, v: Long)
          if tsIsMeta && mergeFree => f.timestamp < v
      case Cmp("<=", GraftMetaCols.CommitTs, v: Long)
          if tsIsMeta && mergeFree => f.timestamp <= v
      case Cmp("=", GraftMetaCols.CommitTs, v: Long)
          if tsIsMeta && mergeFree => f.timestamp == v
      case InSet(GraftMetaCols.CommitTs, vs)
          if tsIsMeta && mergeFree => vs.contains(f.timestamp)
      case Cmp("=", GraftMetaCols.FragId, v: String)
          if idIsMeta && mergeFree => f.id == v
      case InSet(GraftMetaCols.FragId, vs)
          if idIsMeta && mergeFree => vs.contains(f.id)
      case _ => true
    }
  }

  // selection + tombstone parsing cached per runtime-filter state:
  // estimateStatistics, planning and the reader factory all consult
  // them — recomputing per call site re-filters the fragment list and
  // re-parses predicate JSON several times per scan (invalidated in
  // filter(), alongside plannedCache)
  private var selectedCache: Seq[FragmentMeta] = _
  private var tombstoneCache: Seq[TombstoneSpec] = _

  private def selectedFrags: Seq[FragmentMeta] = {
    if (selectedCache == null)
      selectedCache =
        if (constraints.exists(_._2.definitelyEmpty)) Nil // empty scan
        else {
          val sel = FragmentPruning.select(allFrags, schema, constraints)
            // tombstone-bearing fragments are exempt from provenance
            // pruning: a _commit_ts predicate describes data rows, and
            // dropping a tombstone would UNMASK the rows it deletes
            .filter(f => f.deletePred.isDefined ||
              f.deleteCoordFiles.nonEmpty || provenanceOk(f))
          // TRUNCATE / full INSERT OVERWRITE prune at the manifest: a
          // TrueP tombstone masks EVERY cell of strictly older
          // fragments, so those fragments (and any older delete
          // markers, which then have nothing left to mask) never plan
          // partitions — a truncated table's history costs zero I/O
          // instead of scan-and-mask-every-row. Computed from the
          // UNPRUNED tombstone list (see `tombstones`); allFrags is
          // already asOf-filtered, so time travel below the truncate
          // is untouched. Narrower tombstones can only mask per-cell.
          val fullMaskTs = tombstones.collect {
            case t if t.pred.contains(PredicateSupport.TrueP) => t.ts
          }.maxOption
          fullMaskTs match {
            case Some(ts) => sel.filter(_.timestamp >= ts)
            case None => sel
          }
        }
    selectedCache
  }

  /** Data fragments (pure tombstones excluded) — the partition-
    * planning view. A fragment can carry BOTH data files and a delete
    * marker (row-level MERGE → coordinate files, INSERT OVERWRITE →
    * predicate): it plans partitions like any data fragment AND
    * contributes a tombstone below. Files-less delete markers plan no
    * partitions and have no stats — keeping them out of overlap
    * analysis avoids spurious merge partitions. */
  private def dataFrags: Seq[FragmentMeta] =
    selectedFrags.filter(f => f.files.nonEmpty ||
      (f.deletePred.isEmpty && f.deleteCoordFiles.isEmpty))

  /** Visible delete markers (predicate and/or coordinate files) —
    * from the UNPRUNED fragment list: a fragment carrying both data
    * and a delete marker (MERGE, INSERT OVERWRITE) has data-derived
    * MBR stats, so dim pruning can deselect it even though the rows
    * it DELETES lie inside the scanned range (the marker masks
    * coordinates unrelated to the fragment's own data). Pruning
    * decides which files plan partitions, never which deletes apply. */
  private def tombstones: Seq[TombstoneSpec] = {
    if (tombstoneCache == null)
      tombstoneCache = allFrags.collect {
        case f if f.deletePred.isDefined || f.deleteCoordFiles.nonEmpty =>
          TombstoneSpec(f.timestamp,
            f.deletePred.map(PredJson.fromJson),
            f.deleteCoordFiles.map(rel => s"$uri/$rel"))
      }
    tombstoneCache
  }

  override def readSchema(): StructType = requiredStruct

  override def toBatch: Batch = this

  /** Files of `f` whose per-file dim MBRs intersect the constraints.
    * Dim-only pruning is latest-wins-safe: a newer row for the same
    * coordinates has identical dim values, so any file holding a newer
    * version of a surviving coordinate also survives. Attribute-stats
    * pruning additionally skips files no row of which can satisfy the
    * pushed/runtime attr constraints — merge-gated (see `attrCons`)
    * and off for raw-cell (consolidation) reads, which must rewrite
    * every stored cell. */
  private def selectFiles(f: FragmentMeta): Seq[String] = {
    val attrTest: Map[String, DimConstraint] =
      if (mergeFree && !rawCells) attrCons else Map.empty
    f.files.filter { rel =>
      f.fileStats.get(rel) match {
        case Some(st) =>
          FragmentPruning.fileOverlaps(schema, st, constraints) &&
            FragmentPruning.fileOverlaps(schema, st, attrTest)
        case None => true // no per-file stats recorded → keep
      }
    }
  }

  // planned-partition cache: planInputPartitions and outputOrdering
  // both need the set; planning (overlap grouping, slab cutting,
  // per-file MBR parsing) must run ONCE per runtime-filter state, not
  // twice per scan
  private var plannedCache: Array[InputPartition] = _

  private def planAll(): Array[InputPartition] = {
    if (plannedCache == null) {
      val data = planDataPartitions()
      plannedCache =
        if (denseFillable) (data ++ fillPartitions()).toArray else data
    }
    plannedCache
  }

  override def planInputPartitions(): Array[InputPartition] = planAll()

  /** Dense arrays with a bounded integral domain materialize fill
    * values INSIDE the scan (reference dense semantics,
    * ha_mytile.cc:1088–1164) — no opt-in flag. Unbounded or
    * non-integral dense domains keep written-cells-only (documented). */
  private def denseFillable: Boolean =
    !rawCells && schema.kind == ArrayKind.Dense &&
      schema.dims.forall(d => TypedValue.isIntegral(d.dataType) &&
        d.lowerBound.isDefined && d.upperBound.isDefined)

  /** Grid slabs along dim0, each owning its coordinate range. Slab
    * width targets ~256k cells of anti-join state per task, with the
    * partition count capped so enormous domains trade per-task memory
    * for schedulable task counts. File lists come from the STATIC
    * constraints (not runtime filters): a cell pruned only by a
    * runtime filter is still WRITTEN, and must not resurface as fill. */
  /** The dense read domain: declared bounds ∩ bounding box of written
    * fragments (the reference's non-empty domain, build_subarray
    * mytile-range.cc:1189–1358). None when no fragments survive the
    * static constraints — an empty dense array scans empty. */
  private def denseNonEmptyRanges(
      frags: Seq[FragmentMeta]): Option[Seq[(Long, Long)]] = {
    if (frags.isEmpty) return None
    val ranges = schema.dims.map { d =>
      val declared = (d.lowerBound.get.toLong, d.upperBound.get.toLong)
      val mins = frags.flatMap(_.stats.get(d.name).flatMap(_.min))
        .map(TypedValue.parse(d.dataType, _).asInstanceOf[Long])
      val maxs = frags.flatMap(_.stats.get(d.name).flatMap(_.max))
        .map(TypedValue.parse(d.dataType, _).asInstanceOf[Long])
      if (mins.isEmpty || maxs.isEmpty) declared // statless → declared
      else (math.max(declared._1, mins.min), math.min(declared._2, maxs.max))
    }
    if (ranges.exists(r => r._1 > r._2)) None else Some(ranges)
  }

  private def fillPartitions(): Seq[InputPartition] = {
    if (initialConstraints.exists(_._2.definitelyEmpty)) return Nil
    val staticFrags0 = FragmentPruning.select(allFrags, schema,
      initialConstraints).filter(f => f.files.nonEmpty ||
        (f.deletePred.isEmpty && f.deleteCoordFiles.isEmpty))
    val ranges = denseNonEmptyRanges(staticFrags0) match {
      case Some(r) => r
      case None => return Nil
    }
    val restCells = ranges.tail.foldLeft(1L) { (a, r) =>
      val w = r._2 - r._1 + 1
      if (a > 0 && w > 0 && a <= Long.MaxValue / w) a * w else -1L
    }
    if (restCells <= 0) return Nil // overflow-degenerate domain
    val extent0 = ranges.head._2 - ranges.head._1 + 1
    val byMemory = math.max(1L, GraftScanImpl.MergeCells / restCells)
    val byCount = math.max(1L, extent0 / 4096L + (if (extent0 % 4096 == 0) 0 else 1))
    val slabWidth = math.max(byMemory, byCount)
    val staticFrags = staticFrags0
    val d0 = schema.dims.head
    val lo0 = ranges.head._1
    Iterator.iterate(lo0)(_ + slabWidth)
      .takeWhile(_ <= ranges.head._2)
      .map { lo =>
        val hi = math.min(lo + slabWidth - 1, ranges.head._2)
        val files = staticFrags.flatMap { f =>
          f.files.filter { rel =>
            f.fileStats.get(rel).flatMap(_.get(d0.name)) match {
              case Some(cs) => (cs.min, cs.max) match {
                case (Some(mn), Some(mx)) =>
                  // integral dims parse to Long (denseFillable gate)
                  val mnL = TypedValue.parse(d0.dataType, mn).asInstanceOf[Long]
                  val mxL = TypedValue.parse(d0.dataType, mx).asInstanceOf[Long]
                  mxL >= lo && mnL <= hi
                case _ => true // no stats → must read for the seen set
              }
              case None => true
            }
          }.map(rel => (s"$uri/$rel", f.timestamp))
        }
        GraftFillPartition((lo, hi) +: ranges.tail, files): InputPartition
      }.toSeq
  }

  /** Data partitions by file. Files that may hold a version of the
    * same coordinate as a file of another fragment form latest-wins
    * components (`overlapComponents`), planned by `mergePartitions`;
    * every other file is merge-free, even when its fragment overlaps
    * elsewhere, and those are TopN-pruned and packed
    * (`GraftScanImpl.pack`), never across a bucket key. */
  private def planDataPartitions(): Array[InputPartition] = {
    val (alone, merged) = overlapComponents(
      dataFrags.flatMap(f => selectFiles(f).map(f -> _))).partition(_.size == 1)
    val buckets = bucketedReady
    (GraftScanImpl.pack(spark, uri, schema, requiredStruct,
      topNPrune(alone.flatten),
      bucketOf = { case (f, rel) => buckets.flatMap(_ => f.fileBuckets.get(rel)) }) ++
      merged.flatMap(mergePartitions)).toArray
  }

  /** Bucketed (storage-partitioned-join) layout is reportable iff the
    * schema declares buckets, the scan has no merge / raw-cell / fill /
    * TopN concerns, and EVERY visible data fragment was written
    * bucket-complete with the same count — DSv2/DML fragments are not,
    * so their presence degrades to the normal layout until
    * consolidation rewrites them through the bucketing write path. */
  private def bucketedReady: Option[Int] = schema.buckets.filter { n =>
    mergeFree && !rawCells && !denseFillable && topN.isEmpty && {
      val frags = dataFrags
      frags.nonEmpty && frags.forall(f => f.buckets.contains(n) &&
        f.files.forall(f.fileBuckets.contains))
    }
  }

  /** Report `bucket(n, dim0)` key grouping when the layout holds —
    * Spark's storage-partitioned joins then align two co-bucketed
    * arrays task-by-task with NO shuffle on either side (the `bucket`
    * function resolves through the graft FunctionCatalog, so this
    * engages on catalog table reads). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketedReady match {
      case Some(n) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, schema.dims.head.name)), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Report the files' physical sort order as the scan's output
    * ordering [ref: index-ordered reads, ha_mytile.cc:3501–3519] when
    * it provably survives to the output: every visible data fragment
    * must record the same non-empty `sortedBy` (cell-order-clustered
    * writes do), and every planned partition must read its files in an
    * order whose concatenation is sorted: one file, or merge-free files
    * each strictly before the next on the leading sort column (file i's
    * max < file i+1's min, from the manifest's per-file stats). A merge
    * emits its winners in no dim order, so it reports nothing. Under a
    * KeyGroupedPartitioning report, bucket keys must also be DISTINCT
    * across partitions (Spark concatenates same-key partitions into one
    * task, which would break the per-partition order between files).
    * Readers emit parquet rows in file order, and tombstone masking and
    * slab ownership only FILTER rows, so each partition's output keeps
    * the recorded order; Catalyst then elides redundant local sorts
    * (RemoveRedundantSorts) and the per-partition sorts of sort-merge
    * joins over co-bucketed arrays — the SMB-join shape. Only the
    * longest prefix of the order present in the read schema is
    * reported (projection preserves prefix order). */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val frags = dataFrags
    if (rawCells || denseFillable || frags.isEmpty) return Array.empty
    val sb = frags.head.sortedBy
    if (sb.isEmpty || frags.exists(_.sortedBy != sb)) return Array.empty
    val parts = planAll()
    val lead = sb.head
    val dt = schema.dataTypeOf(lead)
    val ord = TypedValue.ordering
    val span: Map[String, (Any, Any)] = (for {
      f <- frags; rel <- f.files
      cs <- f.fileStats.get(rel).flatMap(_.get(lead)); mn <- cs.min; mx <- cs.max
    } yield s"$uri/$rel" -> (TypedValue.parse(dt, mn), TypedValue.parse(dt, mx))).toMap
    val inOrder = parts.forall {
      case p: GraftInputPartition => p.files.size <= 1 || !p.needDedup &&
        p.files.map(f => span.get(f._1)).sliding(2).forall {
          case Seq(Some((_, mx)), Some((mn, _))) => ord.compare(mx, mn) < 0
          case _ => false
        }
      case _ => false
    }
    val bucketKeysDistinct = bucketedReady.isEmpty || {
      val keys = parts.collect {
        case p: GraftInputPartition if p.bucket.isDefined => p.bucket.get
      }
      keys.distinct.length == keys.length
    }
    if (!inOrder || !bucketKeysDistinct) return Array.empty
    val present = requiredStruct.fieldNames.toSet
    sb.takeWhile(present.contains).map(c =>
      Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING)).toArray
  }

  /** ORDER BY dim0 LIMIT k file pruning (partial TopN push): a file is
    * dropped when ≥ k rows provably sort STRICTLY before every row it
    * holds (asc: rows of files whose max < this file's min; desc
    * mirrored) — ties can never be dropped, so Spark's re-sort on top
    * of the kept superset is exact under any deeper sort keys. Counts
    * are planning-time `fileRows`, so this stands down whenever rows
    * may be filtered from "before" files: residual predicates block
    * Spark's TopN push already (consumed dim preds filter nothing on
    * surviving files), and runtime narrowing disables it here. Needs
    * stats + row counts on every candidate file; O(F log F). */
  private def topNPrune(pairs: Seq[(FragmentMeta, String)])
      : Seq[(FragmentMeta, String)] = topN match {
    case Some((asc, k))
        if mergeFree && !rawCells && !denseFillable && !runtimeNarrowed &&
          // tombstones mask rows IN-READER, so planning-time fileRows
          // overcount the surviving rows of "before" files — a later
          // fragment whose delete predicate erases an earlier file's
          // rows (disjoint boxes → still mergeFree) would let that
          // ghost count prune the file actually holding the first k
          // survivors. Stand down whenever any visible fragment
          // carries a delete.
          tombstones.isEmpty =>
      val d0 = schema.dims.head
      val ord = TypedValue.ordering
      val infos = pairs.map { case (f, rel) =>
        for {
          st <- f.fileStats.get(rel)
          cs <- st.get(d0.name)
          mn <- cs.min; mx <- cs.max
          n <- f.fileRows.get(rel)
        } yield (TypedValue.parse(d0.dataType, mn),
          TypedValue.parse(d0.dataType, mx), n)
      }
      if (infos.exists(_.isEmpty)) pairs // stats/counts incomplete
      else {
        val info = infos.map(_.get)
        // "entirely before file i" = max < mn_i (asc) / min > mx_i
        // (desc). Sort each file's LAST value in scan order, prefix-sum
        // rows, binary-search each file's FIRST value.
        val byLast = info.map { case (mn, mx, n) =>
          (if (asc) mx else mn, n) }
          .sortWith((a, b) =>
            (if (asc) ord.compare(a._1, b._1) < 0
             else ord.compare(a._1, b._1) > 0))
        val keys = byLast.map(_._1).toArray
        val cum = byLast.scanLeft(0L)(_ + _._2).toArray // cum(i) = rows in first i
        def rowsStrictlyBefore(first: Any): Long = {
          // count entries whose key sorts strictly before `first`
          var lo = 0; var hi = keys.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            val c = ord.compare(keys(mid), first)
            if (if (asc) c < 0 else c > 0) lo = mid + 1 else hi = mid
          }
          cum(lo)
        }
        pairs.zip(info).collect {
          case (pair, (mn, mx, _))
              if rowsStrictlyBefore(if (asc) mn else mx) < k => pair
        }
      }
    case _ => pairs
  }

  /** Partitions of one latest-wins component (files of two or more
    * fragments). A component of at most `MergeCells` manifest rows is
    * ONE merge partition: each file read once, by one task. A larger
    * one is cut into half-open dim0 slabs (SURVEY §7.4.4) at the
    * distinct per-file dim0 minima (≈ one slab per file under
    * cell-order clustering), else the distinct maxima, else equal-width
    * numeric cuts; a file joins every slab its MBR intersects and the
    * reader's [lo, hi) ownership keeps output exactly-once. With no
    * range structure to cut on — a file without its own dim0 MBR, or
    * coincident non-numeric MBRs — hash ownership, at any size. */
  private def mergePartitions(comp: Seq[(FragmentMeta, String)])
      : Seq[GraftInputPartition] = {
    val d0 = schema.dims.head
    val dt = d0.dataType
    val ord = TypedValue.ordering
    val files = comp.map { case (f, rel) => (s"$uri/$rel", f.timestamp) }
    val mbrs = comp.map { case (f, rel) =>
      f.fileStats.get(rel).flatMap(_.get(d0.name)).flatMap(cs =>
        for (mn <- cs.min; mx <- cs.max) yield
          (TypedValue.parse(dt, mn), TypedValue.parse(dt, mx)))
    }
    if (mbrs.exists(_.isEmpty)) return hashPartitions(files)
    val boxes = mbrs.flatten
    var cuts: Seq[Any] = boxes.map(_._1).distinct.sorted(ord).drop(1)
    if (cuts.isEmpty)
      // coincident minima but staggered maxima (e.g. appends that all
      // start at the domain origin): distinct maxima still cut —
      // works for ANY comparable dim type, strings included
      cuts = boxes.map(_._2).distinct.sorted(ord).dropRight(1)
    if (cuts.isEmpty) {
      // fully-coincident file MBRs (e.g. unordered writes): equal-width
      // cuts over the numeric domain
      val gmin = boxes.map(_._1).min(ord)
      val gmax = boxes.map(_._2).max(ord)
      val n = math.min(boxes.size, 16)
      cuts = (gmin, gmax) match {
        case (a: Long, b: Long) if b > a =>
          (1 until n).map(i => (a + ((b - a) * i.toDouble / n).toLong): Any)
            .distinct.filter(c => ord.compare(c, gmin) > 0)
        case (a: Double, b: Double) if b > a =>
          (1 until n).map(i => (a + (b - a) * i / n): Any).distinct
        case _ => Nil
      }
    }
    val rows = comp.map { case (f, rel) => f.fileRows.getOrElse(rel, f.rows) }.sum
    if (cuts.isEmpty) hashPartitions(files)
    else if (rows <= GraftScanImpl.MergeCells)
      Seq(GraftInputPartition(files, needDedup = true))
    else {
      val bounds: Seq[(Option[Any], Option[Any])] =
        (None +: cuts.map(Option(_))).zip(cuts.map(Option(_)) :+ None)
      bounds.flatMap { case (lo, hi) =>
        val inSlab = files.zip(boxes).collect {
          case (file, (mn, mx)) if lo.forall(l => ord.compare(mx, l) >= 0) &&
              hi.forall(h => ord.compare(mn, h) < 0) => file
        }
        if (inSlab.isEmpty) None
        else Some(GraftInputPartition(inSlab,
          needDedup = inSlab.map(_._2).distinct.size > 1,
          slabLo = lo, slabHi = hi))
      }
    }
  }

  /** Coordinate-hash ownership over a whole component: partition i of
    * n owns `pmod(stableDimHash(dim tuple), n) == i`. Each sibling reads
    * all the component's files — n× read amplification — but merge
    * state is ~1/n per task, so memory stays bounded no matter how
    * large the component is. */
  private def hashPartitions(files: Seq[(String, Long)])
      : Seq[GraftInputPartition] = {
    val n = math.min(math.max(files.size, 2), 16)
    (0 until n).map(i => GraftInputPartition(files, needDedup = true,
      hashMod = n, hashIdx = i))
  }

  /** Latest-wins components over files: union-find over per-file dim
    * boxes (a file without stats takes its fragment's box), pairs from
    * the `forEachOverlappingPair` dim0 sweep. Only files of DIFFERENT
    * fragments are linked: a fragment holds each coordinate once, so
    * two versions of a coordinate lie in files of two fragments whose
    * boxes overlap. When no merge can occur at all (`mergeFree`), every
    * file is its own component. */
  private def overlapComponents(files: Seq[(FragmentMeta, String)])
      : Seq[Seq[(FragmentMeta, String)]] =
    if (mergeFree) files.map(Seq(_))
    else {
      val parent = Array.tabulate(files.size)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      FragmentPruning.forEachOverlappingPair(
        files.map { case (f, rel) => FragmentPruning.parseBox(
          f.stats ++ f.fileStats.getOrElse(rel, Map.empty), schema)
        }.toIndexedSeq,
        (i, j) => {
          if (files(i)._1.id != files(j)._1.id) {
            val (a, b) = (find(i), find(j)); if (a != b) parent(a) = b
          }
          true
        })
      files.indices.groupBy(find).values.toSeq.sortBy(_.head).map(_.map(files))
    }

  /** Streaming source over the fragment timeline: each micro-batch
    * emits the fragments committed in `(startOffset, endOffset]` — the
    * read-side dual of the one-fragment-per-batch streaming sink. See
    * [[GraftMicroBatchStream]] for semantics. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    streaming = true
    new GraftMicroBatchStream(spark, uri, schema, requiredStruct, preds,
      streamMaxFrags, streamMaxRows)
  }

  /** Set once this scan serves a stream: its micro-batches plan their
    * own partitions, so the description plans none. */
  private var streaming = false

  /** EXPLAIN's view of the plan: files planned of files visible, and
    * the partitions per kind. */
  override def description(): String =
    if (streaming) "GraftScan(stream)"
    else {
      val kinds = planAll().toSeq.map {
        case _: GraftFillPartition => "fill"
        case p: GraftInputPartition if p.hashMod > 0 => "hash"
        case p: GraftInputPartition if p.slabLo.isDefined || p.slabHi.isDefined => "slab"
        case p: GraftInputPartition => if (p.needDedup) "merge" else "simple"
      }
      val planned = planAll().collect { case p: GraftInputPartition => p.files.map(_._1) }
        .flatten.distinct.length
      s"GraftScan(files $planned of ${allFrags.map(_.files.size).sum}, partitions " +
        Seq("simple", "merge", "slab", "hash", "fill")
          .map(k => s"$k=${kinds.count(_ == k)}").mkString(" ") + ")"
    }

  // reader-factory cache: every copy of the scan's exec node asks for
  // the factory, and its tombstones depend only on the runtime-filter
  // state (invalidated in filter(), alongside plannedCache)
  private var factoryCache: PartitionReaderFactory = _

  override def createReaderFactory(): PartitionReaderFactory = {
    if (factoryCache == null) factoryCache = buildReaderFactory()
    factoryCache
  }

  private def buildReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(requiredStruct,
      schema.dimStruct, preds, HadoopConfBroadcast(spark),
      graft.core.EncryptionKeys.sessionKey(spark, schema),
      fillSchema = if (denseFillable) Some(schema) else None,
      metaCols = GraftMetaCols.fields.keySet.diff(schema.columnNames.toSet),
      tombstones = tombstones,
      // evolution fills (storage domain): applied by the readers only
      // where a FILE physically lacks the column, so explicit NULLs in
      // post-evolution fragments stay null
      evoFills = schema.fills)

  // ---- SupportsReportStatistics [ref: records estimate §4] ---------
  override def estimateStatistics(): Statistics = new Statistics {
    private val frags = selectedFrags
    // a fillable dense scan emits the whole grid, not just written
    // cells — joins/broadcast decisions must see the real cardinality
    private val rows: Long = denseGridCells.getOrElse(frags.map(_.rows).sum)
    override def sizeInBytes(): OptionalLong = OptionalLong.of(
      rows * math.max(requiredStruct.defaultSize.toLong, 1L))
    override def numRows(): OptionalLong = OptionalLong.of(rows)
  }

  private def denseGridCells: Option[Long] =
    if (!denseFillable) None
    else denseNonEmptyRanges(selectedFrags).flatMap(
      _.foldLeft(Option(1L)) { (acc, r) =>
        acc.flatMap { a =>
          val w = r._2 - r._1 + 1
          if (w <= 0 || a > Long.MaxValue / w) None else Some(a * w)
        }
      })

  // ---- SupportsRuntimeFiltering (DPP/BKA-MRR analog, J3) -----------
  /** Dims (fragment/file MBR pruning); attributes too when the scan is
    * merge-free, so a DPP-style join on an attr key can skip files
    * from their stats. Restricted to the scan's OUTPUT columns —
    * Spark's PartitionPruning resolves these refs against the
    * projected schema and raises on anything pruned away. */
  override def filterAttributes(): Array[NamedReference] = {
    val out = requiredStruct.fieldNames.toSet
    val cols = schema.dimNames ++
      (if (mergeFree && !rawCells) schema.attrs.map(_.name) else Nil)
    cols.filter(out.contains).map(n =>
      org.apache.spark.sql.connector.expressions.Expressions.column(n)).toArray
  }

  override def filter(filters: Array[Filter]): Unit = {
    // runtime filters narrow the partition/fragment sets
    plannedCache = null; selectedCache = null; tombstoneCache = null
    factoryCache = null
    runtimeNarrowed = true
    filters.foreach(applyRuntime)
  }

  /** Fold one runtime filter into the dim constraints. Point shapes
    * (EqualTo/In — the common DPP product) intersect the point set;
    * range shapes (round 5 — the reference's MRR also merges RANGES
    * into super-ranges, ha_mytile.cc:4079–4221) intersect the
    * interval; And recurses into both sides. Anything else is ignored
    * (runtime filters are an optimization — the join itself stays
    * correct). */
  private def applyRuntime(f: Filter): Unit = {
    import org.apache.spark.sql.sources._
    // dims narrow `constraints` (fragment/file MBR pruning); known
    // comparable attrs narrow `attrCons` (merge-gated file skipping)
    def narrow(c: String)(g: DimConstraint => DimConstraint): Unit =
      if (schema.dimNames.contains(c))
        constraints = constraints.updated(c,
          g(constraints.getOrElse(c, DimConstraint())))
      else
        attrCons = attrCons.updated(c,
          g(attrCons.getOrElse(c, DimConstraint())))
    def known(c: String): Boolean = schema.columnNames.contains(c) &&
      PredicateSupport.comparableType(schema.dataTypeOf(c))
    f match {
      case EqualTo(c, v) if known(c) =>
        narrow(c)(_.andPoints(Seq(TypedValue.normalize(schema.dataTypeOf(c), v))))
      case In(c, vs) if known(c) =>
        narrow(c)(_.andPoints(vs.toSeq.map(
          TypedValue.normalize(schema.dataTypeOf(c), _))))
      case GreaterThan(c, v) if known(c) =>
        val dt = schema.dataTypeOf(c)
        narrow(c)(_.and(RangeAlgebra.Interval.gt(dt, TypedValue.normalize(dt, v))))
      case GreaterThanOrEqual(c, v) if known(c) =>
        val dt = schema.dataTypeOf(c)
        narrow(c)(_.and(RangeAlgebra.Interval.ge(TypedValue.normalize(dt, v))))
      case LessThan(c, v) if known(c) =>
        val dt = schema.dataTypeOf(c)
        narrow(c)(_.and(RangeAlgebra.Interval.lt(dt, TypedValue.normalize(dt, v))))
      case LessThanOrEqual(c, v) if known(c) =>
        val dt = schema.dataTypeOf(c)
        narrow(c)(_.and(RangeAlgebra.Interval.le(TypedValue.normalize(dt, v))))
      case And(l, r) => applyRuntime(l); applyRuntime(r)
      case _ => ()
    }
  }
}

object GraftScanImpl {
  /** Merge state one task holds, in cells: a latest-wins component of
    * at most this many rows is one merge partition, and dense fill
    * slabs aim at this many cells. */
  val MergeCells = 262144L

  /** Merge-free files packed into partitions by Spark's file-source
    * rule (`FilePartition.maxSplitBytes` and `getFilePartitions`, under
    * the session's `spark.sql.files.maxPartitionBytes`,
    * `openCostInBytes` and `minPartitionNum`). A file's size is its
    * manifest rows × `readSchema.defaultSize` — the estimate
    * `estimateStatistics` reports — so packing makes no file-system
    * call. Files are packed in dim0 order and never across a bucket
    * key (`bucketOf`). */
  def pack(spark: SparkSession, uri: String, schema: ArraySchema,
      readSchema: StructType, files: Seq[(FragmentMeta, String)],
      bucketOf: ((FragmentMeta, String)) => Option[Int] = _ => None)
      : Seq[GraftInputPartition] = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val rowBytes = math.max(readSchema.defaultSize.toLong, 1L)
    def bytes(f: FragmentMeta, rel: String): Long =
      f.fileRows.getOrElse(rel, f.rows / math.max(f.files.size, 1)) * rowBytes
    val d0 = schema.dims.head
    def lo(f: FragmentMeta, rel: String): Option[Any] =
      f.fileStats.get(rel).flatMap(_.get(d0.name)).orElse(f.stats.get(d0.name))
        .flatMap(_.min).map(TypedValue.parse(d0.dataType, _))
    val ordered = files.sortBy { case (f, rel) => lo(f, rel) }(
      Ordering.Option(TypedValue.ordering))
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      ordered.map { case (f, rel) => bytes(f, rel) + openCost }.sum)
    ordered.groupBy(bucketOf).toSeq.sortBy(_._1).flatMap { case (bucket, group) =>
      val it = group.iterator
      FilePartition.getFilePartitions(spark, group.map { case (f, rel) =>
        PartitionedFile(org.apache.spark.sql.catalyst.InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPathString(s"$uri/$rel"),
          0L, bytes(f, rel))
      }, maxSplit).map { p =>
        GraftInputPartition(Seq.fill(p.files.length)(it.next()).map {
          case (f, rel) => (s"$uri/$rel", f.timestamp)
        }, needDedup = false, bucket = bucket)
      }
    }
  }
}

class GraftAggScan(values: Seq[Any], schema: StructType) extends Scan {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = new GraftAggBatch(values, schema)
  override def description(): String = "GraftAggScan(stats-only)"
}
