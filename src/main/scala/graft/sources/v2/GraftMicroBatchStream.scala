package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType
import graft.core.ArraySchema
import graft.sources.GraftArray
import graft.sources.v2.PredicateSupport.Pred

/** Offset on the fragment-commit timeline: "every fragment with
  * timestamp ≤ ts has been delivered". JSON form is just the number. */
case class GraftOffset(ts: Long) extends Offset {
  override def json(): String = ts.toString
}

/** Micro-batch streaming SOURCE over a graft array — the read-side
  * dual of the streaming sink (one immutable fragment per micro-batch,
  * EventPipeline.writeStreamToArray): each batch emits the fragments
  * committed in `(start, end]` of the commit timeline, so a consumer
  * tails the array's append history exactly once. Combined with the
  * provenance metadata columns this is a CDC feed: new versions of
  * upserted coordinates arrive as they commit; no tombstones (arrays
  * have no deletes, matching the reference's INSERT-only mutation
  * model).
  *
  * Exactly-once notes:
  *  - Commit timestamps from one writer JVM are strictly increasing
  *    (GraftArray.now); with concurrent writers on skewed clocks a
  *    fragment could commit with a timestamp ≤ a consumed offset and
  *    be skipped — the usual single-logical-writer assumption of
  *    timeline-offset sources.
  *  - Consolidation commits at the originals' max timestamp: if the
  *    stream has already passed it, the consolidated fragment is never
  *    re-delivered; if not, the originals are hidden and the merged
  *    content is delivered once at that offset.
  *  - Delete-condition tombstones: rows not yet consumed are delivered
  *    post-delete (the readers mask them, tombstone set snapshotted at
  *    reader-factory creation); rows already delivered cannot be
  *    recalled, and no delete event is emitted — downstream state must
  *    tolerate deletes happening "behind" the stream, or deletes
  *    should be applied upstream of ingestion.
  *
  * Pushed predicates prune fragments/files exactly as in batch scans;
  * latest-wins does NOT apply across batches by design (every
  * committed version is an event — dedup downstream if last-value
  * semantics are wanted, e.g. with flatMapGroupsWithState).
  */
class GraftMicroBatchStream(
    spark: SparkSession,
    uri: String,
    schema: ArraySchema,
    requiredStruct: StructType,
    preds: Seq[Pred],
    /** Admission-control defaults from read options: cap a micro-batch
      * at N fragments / N rows (manifest row counts — no data I/O).
      * Tailing an array with a deep backlog (100k fragments at scale)
      * must not plan one giant first batch. */
    maxFragsPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None)
  extends MicroBatchStream with SupportsAdmissionControl {

  private val store = GraftArray.store(spark, uri)
  private val constraints = PredicateSupport.dimConstraints(preds, schema)

  /** Streaming read schema. Spark's micro-batch planner never calls
    * pruneColumns, and when a query references ANY metadata column it
    * appends ALL non-conflicting metadata columns to the relation
    * output (AddMetadataColumns → withMetadataColumns) — expecting the
    * source rows to carry them. So the stream always emits
    * `table schema ++ metadata columns`: when the query referenced
    * them, ordinals line up exactly; when it didn't, the relation
    * output binds ordinals 0..n-1 and the trailing extras are inert. */
  private val metaFields: Seq[(String, org.apache.spark.sql.types.StructField)] =
    GraftMetaCols.columns.toSeq.map(_.name)
      .filterNot(schema.columnNames.contains)
      .map(n => n -> GraftMetaCols.fields(n))
  private val streamStruct: StructType =
    StructType(schema.toStruct.fields.toSeq ++ metaFields.map(_._2))

  override def initialOffset(): Offset = GraftOffset(0L)

  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toLong)

  // admission-control sources are driven through
  // latestOffset(Offset, ReadLimit); the no-arg form and
  // reportLatestOffset both surface the true head for progress
  override def latestOffset(): Offset = reportLatestOffset()

  override def reportLatestOffset(): Offset = {
    val frags = store.listFragments()
    GraftOffset(if (frags.isEmpty) 0L else frags.map(_.timestamp).max)
  }

  override def getDefaultReadLimit: ReadLimit =
    (maxFragsPerTrigger, maxRowsPerTrigger) match {
      case (Some(f), Some(r)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxRows(r)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(r)) => ReadLimit.maxRows(r)
      case _ => ReadLimit.allAvailable()
    }

  /** Admit fragments (commit-timestamp order) until a cap is hit; at
    * least one fragment is always admitted so the stream progresses
    * (file-source semantics — a cap smaller than the next fragment
    * delays, never deadlocks). The offset is the last admitted
    * fragment's timestamp; equal-timestamp fragments (consolidation
    * commits at an original's ts) are admitted together so an offset
    * boundary never splits them. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[GraftOffset].ts
    val pending = store.listFragments().filter(_.timestamp > lo)
    if (pending.isEmpty) return GraftOffset(lo)
    def caps(l: ReadLimit): (Option[Int], Option[Long]) = l match {
      case f: ReadMaxFiles => (Some(f.maxFiles()), None)
      case r: ReadMaxRows => (None, Some(r.maxRows()))
      case c: CompositeReadLimit =>
        val parts = c.getReadLimits.map(caps)
        (parts.flatMap(_._1).minOption, parts.flatMap(_._2).minOption)
      case _ => (None, None) // allAvailable / minRows → no cap
    }
    val (maxF, maxR) = caps(limit)
    var admitted = 0
    var rows = 0L
    var hi = lo
    val it = pending.iterator
    var stop = false
    while (it.hasNext && !stop) {
      val f = it.next()
      val overF = maxF.exists(m => admitted + 1 > m)
      val overR = maxR.exists(m => rows + f.rows > m)
      if (admitted > 0 && (overF || overR) && f.timestamp != hi) stop = true
      else {
        admitted += 1; rows += f.rows; hi = f.timestamp
      }
    }
    GraftOffset(hi)
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftOffset].ts
    val hi = end.asInstanceOf[GraftOffset].ts
    if (hi <= lo) return Array.empty
    // fragments in (lo, hi], then the same static pruning as batch
    val frags = store.listFragments(asOf = Some(hi))
      .filter(_.timestamp > lo)
    // a consolidated fragment carries the MERGE of its originals at
    // their max timestamp: if any original was committed at or below
    // our consumed offset, delivering it would re-emit consumed rows.
    // Detect from the originals' manifests (conservative once vacuum
    // has removed them) and fail with guidance rather than silently
    // duplicating the "exactly-once" tail.
    if (lo > 0 && frags.exists(_.replaces.nonEmpty)) {
      lazy val rawTs = store.listFragmentsRaw().map(f => f.id -> f.timestamp).toMap
      frags.filter(_.replaces.nonEmpty).foreach { f =>
        val minReplaced = f.replaces.flatMap(rawTs.get)
        val overlapsConsumed =
          minReplaced.isEmpty || minReplaced.min <= lo // vacuumed → unknown
        if (overlapsConsumed) throw new IllegalStateException(
          s"consolidated fragment ${f.id} (ts=${f.timestamp}) covers " +
            s"history at or below this stream's consumed offset $lo — " +
            "delivering it would duplicate consumed rows. Consolidate " +
            "only fragments beyond the stream's committed offset " +
            "(consolidate(since = <offset+1>)), or restart the stream " +
            "from a fresh checkpoint.")
      }
    }
    val pruned =
      if (constraints.exists(_._2.definitelyEmpty)) Nil
      else graft.sources.FragmentPruning.select(frags, schema, constraints)
    // no latest-wins across a stream: every file is merge-free, packed
    // like a batch scan's
    GraftScanImpl.pack(spark, uri, schema, streamStruct,
      pruned.flatMap(f => f.files.map(f -> _))).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(streamStruct,
      schema.dimStruct, preds, HadoopConfBroadcast(spark),
      keyHex = graft.core.EncryptionKeys.sessionKey(spark, schema),
      metaCols = metaFields.map(_._1).toSet,
      // snapshot of the visible tombstones: unconsumed rows deliver
      // post-delete (see class doc for the freshness caveat)
      tombstones = store.listFragments().collect {
        case f if f.deletePred.isDefined || f.deleteCoordFiles.nonEmpty =>
          TombstoneSpec(f.timestamp, f.deletePred.map(PredJson.fromJson),
            f.deleteCoordFiles.map(rel => s"$uri/$rel"))
      },
      evoFills = schema.fills)

  override def commit(end: Offset): Unit = () // fragments are immutable

  override def stop(): Unit = ()
}
