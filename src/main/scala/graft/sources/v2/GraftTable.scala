package graft.sources.v2

import java.util
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import graft.core._
import graft.sources.GraftArray
import scala.jdk.CollectionConverters._

/** DSv2 `Table` for a graft array: batch read with the three pushdown
  * channels (GraftScanBuilder) + batch append writes that commit one
  * immutable fragment per job (reference write path §3.3).
  */
class GraftTable(
    spark: SparkSession,
    val uri: String,
    val asOf: Option[Long] = None,
    /** Subset registration (reference S14,
      * t/create_allow_subset_existing_array.test): when set, this
      * table surfaces only these columns of the underlying array.
      * Dims are always included (they are the key); subset tables are
      * read-only — writes go through the full table. */
    val projection: Option[Seq[String]] = None,
    /** Time-travel window START (inclusive, millis): only fragments
      * committed in `[since, asOf]` are visible — an incremental
      * "what changed since ts" view (TileDB's timestamp_start; the
      * reference exposes only the end via open_at). Latest-wins
      * resolves within the window. */
    val since: Option[Long] = None) extends Table
  with SupportsRead with SupportsWrite with SupportsMetadataColumns
  with SupportsDeleteV2 with SupportsRowLevelOperations {

  private lazy val store = GraftArray.store(spark, uri)

  private def project(s: ArraySchema): ArraySchema = projection match {
    case Some(cols) =>
      // every registered column must still exist in the target array —
      // a column later dropped (or renamed) from the target fails
      // loudly instead of silently vanishing from the subset table
      val known = s.columnNames.toSet
      val missing = cols.filterNot(known)
      require(missing.isEmpty,
        s"subset registration over $uri references columns no longer " +
          s"in the target array: ${missing.mkString(", ")} " +
          "(drop and re-register the subset)")
      // attrs surface in the REGISTERED order, not the array's attr
      // order; dims keep leading in array order (they are the
      // coordinate key — dim0 drives slab planning)
      s.copy(attrs = cols.flatMap(c => s.attrs.find(_.name == c)))
    case None => s
  }

  lazy val arraySchema: ArraySchema = project(store.loadSchema(asOf))

  override def name(): String = uri + ((since, asOf) match {
    case (Some(s), Some(e)) => s"@$s..$e"
    case (None, Some(e)) => s"@$e"
    case (Some(s), None) => s"@$s.."
    case _ => ""
  })
  override def schema(): StructType = arraySchema.toStruct
  override def capabilities(): util.Set[TableCapability] =
    (if (projection.isDefined) Set(TableCapability.BATCH_READ)
     else if (asOf.isDefined || since.isDefined)
       Set(TableCapability.BATCH_READ) // frozen views don't stream
     else Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
       TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
       TableCapability.OVERWRITE_DYNAMIC,
       TableCapability.MICRO_BATCH_READ)).asJava

  /** The complete `graft.*` option set, reconstructed from the stored
    * array schema — `SHOW CREATE TABLE` emits DDL a user can replay to
    * re-create the array (the reference's discovery generates full
    * CREATE TABLE statements the same way, mytile-discovery.cc:42–473).
    * The encryption KEY never appears (flag only; key rides the
    * session conf). */
  override def properties(): util.Map[String, String] = {
    val s = arraySchema
    val m = new util.HashMap[String, String]()
    m.put("graft.dimensions", s.dimNames.mkString(","))
    if (s.kind == ArrayKind.Dense) m.put("graft.dense", "true")
    s.dims.foreach { d =>
      d.lowerBound.foreach(m.put(s"graft.lower.${d.name}", _))
      d.upperBound.foreach(m.put(s"graft.upper.${d.name}", _))
      d.tileExtent.foreach(e => m.put(s"graft.extent.${d.name}", e.toString))
      d.storageType.foreach(m.put(s"graft.type.${d.name}", _))
    }
    s.attrs.foreach { a =>
      a.fillValue.foreach(m.put(s"graft.fill.${a.name}", _))
      if (a.enumValues.nonEmpty)
        m.put(s"graft.enum.${a.name}", a.enumValues.mkString(","))
      a.storageType.foreach(m.put(s"graft.type.${a.name}", _))
      a.codec.foreach(m.put(s"graft.codec.${a.name}", _))
    }
    if (s.capacity != 10000L) m.put("graft.capacity", s.capacity.toString)
    if (s.allowsDups) m.put("graft.allows_dups", "true")
    s.codec.foreach(m.put("graft.codec", _))
    // documented divergence, surfaced in the replayed DDL: declared
    // codecs compress whole fragment FILES (parquet-mr applies one
    // codec per file), while the reference's filter lists compress
    // each attribute's column chunks independently [mytile.cc:550–576]
    if (s.codec.nonEmpty || s.attrs.exists(_.codec.nonEmpty))
      m.put("graft.codec.scope",
        "file (reference: per-attribute column chunks)")
    if (s.encrypted) m.put("graft.encrypted", "true")
    s.buckets.foreach(n => m.put("graft.buckets", n.toString))
    m
  }

  /** Per-row fragment provenance (`SELECT _frag_id, _commit_ts, …`):
    * which fragment a row's winning version was committed in, and
    * when. Composes with window reads into CDC-style pipelines —
    * "rows that changed since ts, and where they came from". A user
    * column of the same name shadows the metadata column (Spark's
    * standard conflict rule). */
  override def metadataColumns(): Array[MetadataColumn] =
    GraftMetaCols.columns

  /** Exact row total from the fragment manifests alone — NO scan job.
    * Sum of committed fragment row counts in this table's time
    * window: exact for append-only corpora (the 100 TB regime), an
    * upper bound when latest-wins shadows older versions. The dedup
    * operators size their df caps from this instead of a full
    * `count()` pass over the corpus. */
  private[graft] def manifestRowSum: Long =
    store.listFragments(asOf, since).map(_.rows).sum

  /** [[manifestRowSum]] when it is provably EXACT — nothing can mask
    * rows in the scan: no delete tombstone is present (a fragment's
    * deletePred / deleteCoordFiles mask matching rows of every earlier
    * fragment INDEPENDENTLY of dim-MBR disjointness), and latest-wins
    * can shadow nothing (duplicates allowed, or committed fragments
    * pairwise disjoint in dim-MBR space — the same mergeFree criterion
    * the scan uses to skip latest-wins). `None` otherwise —
    * exactness-requiring callers (t21's published idf N) must then
    * count; a tombstone-bearing array (the v18 GDPR-erasure shape)
    * would otherwise publish an overcount. */
  private[graft] def manifestRowsExact: Option[Long] = {
    val frags = store.listFragments(asOf, since)
    val tombstoned = frags.exists(f =>
      f.deletePred.isDefined || f.deleteCoordFiles.nonEmpty)
    if (!tombstoned && (arraySchema.allowsDups ||
        graft.sources.FragmentPruning.pairwiseDisjoint(frags, arraySchema)))
      Some(frags.map(_.rows).sum)
    else None
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val scanAsOf = Option(options.get("asOfTimestamp")).map(_.toLong)
      .orElse(asOf)
    val scanSince = Option(options.get("sinceTimestamp")).map(_.toLong)
      .orElse(since)
    new GraftScanBuilder(spark, uri, project(store.loadSchema(scanAsOf)),
      store.listFragments(scanAsOf, scanSince), scanAsOf,
      rawCells = Option(options.get("graft.internal.raw_cells"))
        .exists(_.toBoolean),
      streamMaxFrags =
        Option(options.get("maxFragmentsPerTrigger")).map(_.toInt),
      streamMaxRows =
        Option(options.get("maxRowsPerTrigger")).map(_.toLong))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty && since.isEmpty,
      "cannot write to a time-travel view")
    require(projection.isEmpty,
      "subset tables are read-only; write through the full table")
    new GraftWriteBuilder(spark, uri, arraySchema, info)
  }

  // ---- DELETE FROM (delete-condition tombstones) --------------------
  // The storage model's delete conditions: a tombstone fragment whose
  // predicate masks matching cells of every EARLIER fragment. Versions
  // written after the delete are untouched; time travel below the
  // tombstone still sees the rows; vacuum-after-consolidation
  // physically removes them. Additive to the reference (the MariaDB
  // plugin is INSERT-only).

  /** SQL DELETE gates — each one guards a correctness or security
    * property:
    *  - predicates must convert to the manifest Pred algebra;
    *  - no NOT subtree: Pred.eval is two-valued (false on NULL), so
    *    NOT(p) would evaluate TRUE on NULL cells and delete rows SQL
    *    three-valued logic must keep (positive leaves are safe —
    *    false-on-NULL means "keep", which matches SQL);
    *  - DIMENSION columns only: dims are identical across every stored
    *    version of a coordinate, so per-version tombstone masking
    *    deletes exactly the visible rows. An attribute predicate could
    *    mask the visible version while an older version survives and
    *    resurfaces — storage-model delete-condition semantics, offered
    *    via GraftArray.commitTombstone but not as SQL DELETE;
    *  - encrypted arrays refuse everything except TrueP (truncate):
    *    any other predicate would sit in plaintext next to the
    *    encrypted files; TrueP carries no values. Value-bearing
    *    deletes on encrypted arrays run row-level instead (deleted
    *    coordinates inside encrypted parquet). */
  override def canDeleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean = {
    // Approx is a NECESSARY condition (candidate superset), never the
    // predicate itself — committing it as a tombstone would delete the
    // wrong row set. Reject → Spark falls back to row-level delete.
    def noNot(p: PredicateSupport.Pred): Boolean = p match {
      case PredicateSupport.NotP(_) => false
      case PredicateSupport.Approx(_) => false
      case PredicateSupport.AndP(l, r) => noNot(l) && noNot(r)
      case PredicateSupport.OrP(l, r) => noNot(l) && noNot(r)
      case _ => true
    }
    val dims = arraySchema.dimNames.toSet
    asOf.isEmpty && since.isEmpty && projection.isEmpty &&
      predicates.forall(p =>
        PredicateSupport.convert(p, arraySchema).exists(c =>
          noNot(c) && c.refs.subsetOf(dims) &&
            (!arraySchema.encrypted || c == PredicateSupport.TrueP)))
  }

  override def deleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    require(canDeleteWhere(predicates),
      "unsupported DELETE predicate (dimension columns only, no NOT; " +
        "attribute-condition deletes go through " +
        "GraftArray.commitTombstone)")
    val pred = predicates.flatMap(PredicateSupport.convert(_, arraySchema))
      .reduceOption(PredicateSupport.AndP).getOrElse(PredicateSupport.TrueP)
    GraftArray.commitTombstone(spark, uri, pred)
  }

  override def truncateTable(): Boolean = {
    require(asOf.isEmpty && since.isEmpty && projection.isEmpty,
      "cannot truncate a view")
    // encrypted arrays allowed: a TrueP tombstone carries no values,
    // so the plaintext-predicate leak that blocks other delete forms
    // does not exist for TRUNCATE
    GraftArray.commitTombstone(spark, uri, PredicateSupport.TrueP)
    true
  }

  /** Row-level UPDATE / MERGE / attribute-predicate DELETE via the
    * delta rewrite — see [[GraftRowLevelOperation]]. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(asOf.isEmpty && since.isEmpty && projection.isEmpty,
      "row-level operations write through the plain table, not views")
    () => new GraftRowLevelOperation(spark, uri, arraySchema, info.command)
  }
}

class GraftWriteBuilder(
    spark: SparkSession,
    uri: String,
    schema: ArraySchema,
    info: LogicalWriteInfo) extends WriteBuilder
  with SupportsOverwriteV2 with SupportsDynamicOverwrite {

  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Pred}

  /** INSERT OVERWRITE / `writeTo(..).overwrite(cond)`: the committed
    * fragment carries this delete predicate ALONGSIDE its data files —
    * replaced rows (strictly older versions matching the predicate)
    * unmask the moment the new data commits, one atomic manifest write
    * for the whole statement. `None` = plain append. */
  private var overwritePred: Option[PredicateSupport.Pred] = None

  /** Same gates as SQL DELETE (GraftTable.canDeleteWhere), same
    * reasons: the predicate masks PER VERSION, so exact SQL overwrite
    * semantics need NOT-free dimension predicates (an attribute
    * predicate could mask the visible version of a coordinate and
    * resurface an older one); encrypted arrays take only TrueP (other
    * predicates would persist plaintext values in the manifest). */
  override def canOverwrite(predicates: Array[V2Pred]): Boolean = {
    // Approx (candidate-superset) predicates must not become overwrite
    // masks — same exactness rule as canDeleteWhere
    def noNot(p: PredicateSupport.Pred): Boolean = p match {
      case PredicateSupport.NotP(_) => false
      case PredicateSupport.Approx(_) => false
      case PredicateSupport.AndP(l, r) => noNot(l) && noNot(r)
      case PredicateSupport.OrP(l, r) => noNot(l) && noNot(r)
      case _ => true
    }
    val dims = schema.dimNames.toSet
    predicates.forall(p =>
      PredicateSupport.convert(p, schema).exists(c =>
        noNot(c) && c.refs.subsetOf(dims) &&
          (!schema.encrypted || c == PredicateSupport.TrueP)))
  }

  override def overwrite(predicates: Array[V2Pred]): WriteBuilder = {
    require(canOverwrite(predicates),
      "unsupported OVERWRITE predicate (dimension columns only, no " +
        "NOT; TrueP only on encrypted arrays)")
    overwritePred = Some(predicates
      .flatMap(PredicateSupport.convert(_, schema))
      .reduceOption(PredicateSupport.AndP)
      .getOrElse(PredicateSupport.TrueP))
    this
  }

  /** Graft arrays have no partitioning exposed to Spark, so dynamic
    * partition overwrite degenerates to replace-everything — same as
    * INSERT OVERWRITE without a predicate. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    overwritePred = Some(PredicateSupport.TrueP)
    this
  }

  override def build(): Write = new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    // cell-order clustering for SQL writes: no forced shuffle
    // (distribution unspecified), but Spark sorts each task's rows by
    // the ROW-MAJOR cell order before the writer sees them, so those
    // part files are sorted like GraftArray.write's and record
    // `sortedBy` for the scan-side ordering report. GraftArray.write
    // additionally range-partitions (or buckets) before the same
    // writer. HILBERT schemas are the exception: requiredOrdering is
    // empty there (the curve key is a derived expression, not a
    // sortable column ref), so a SQL INSERT into a hilbert array writes
    // unordered parts — honest (`sortedBy` stays empty, no false
    // ordering report) but without the MBR-tightness the hilbert
    // clustering of GraftArray.write buys; bulk hilbert loads should
    // go through GraftArray.write
    // [cell/tile order ha_mytile.cc:71–73, 1380–1395].
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution =
      org.apache.spark.sql.connector.distributions.Distributions
        .unspecified()
    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
      graft.sources.GraftArray.sortedByOf(schema).map(c =>
        Expressions.sort(Expressions.column(c),
          SortDirection.ASCENDING)).toArray
    }
    override def toBatch: BatchWrite = {
      // column-name/type sanity against the array schema
      val in = info.schema().fieldNames.toSeq
      require(in.sorted == schema.columnNames.sorted,
        s"schema mismatch: $in vs ${schema.columnNames}")
      new GraftBatchWrite(spark, uri, schema, info.schema(),
        origin = overwritePred.map(_ => "overwrite"),
        overwrite = overwritePred)
    }
  }
}

/** The scan-side metadata column surface. Values are constant vectors
  * per file, and a merged row keeps its winning version's; dense fill
  * cells (virtual, never committed) read NULL for both. */
object GraftMetaCols {
  val FragId = "_frag_id"
  val CommitTs = "_commit_ts"
  private val defs: Seq[(String, DataType, String)] = Seq(
    (FragId, StringType, "id of the fragment the row was committed in"),
    (CommitTs, LongType, "fragment commit timestamp (unix millis)"))
  val fields: Map[String, StructField] =
    defs.map { case (n, dt, _) => n -> StructField(n, dt) }.toMap
  def structField(n: String): Option[StructField] = fields.get(n)
  val columns: Array[MetadataColumn] = defs.map { case (n, dt, c) =>
    new MetadataColumn {
      override def name(): String = n
      override def dataType(): DataType = dt
      override def isNullable: Boolean = true
      override def comment(): String = c
    }: MetadataColumn
  }.toArray
  def fragIdOf(path: String): String =
    "frag_([^/]+)/".r.findFirstMatchIn(path).map(_.group(1)).getOrElse("")
}

case class GraftCommitMessage(
    file: String, partition: Int, rows: Long,
    stats: Map[String, ColumnStats]) extends WriterCommitMessage

/** The one fragment commit. Every write — SQL INSERT and OVERWRITE,
  * row-level operations, and GraftArray's appends, stream batches,
  * consolidations and rollbacks — turns its task messages into one
  * manifest here: the files that hold rows, per-file and fragment
  * stats, and the caller's history hooks. Returns the commit
  * timestamp, or None when `skipIfEmpty` left nothing to commit. */
object FragmentCommit {
  def apply(spark: SparkSession, uri: String, schema: ArraySchema,
      fragId: String, messages: Seq[GraftCommitMessage],
      coordFiles: Seq[String] = Nil,
      commitTs: Option[Long] = None,
      replaces: Seq[String] = Nil,
      origin: Option[String] = None,
      overwrite: Option[PredicateSupport.Pred] = None,
      sortedBy: Seq[String] = Nil,
      bucketed: Boolean = false,
      skipIfEmpty: Boolean = false): Option[Long] = {
    val msgs = messages.filter(_.rows > 0)
    // a write that supersedes fragments or masks rows commits even
    // without rows (consolidating a fully deleted array is one)
    if (skipIfEmpty && msgs.isEmpty && coordFiles.isEmpty &&
        replaces.isEmpty && overwrite.isEmpty) return None
    val ts = commitTs.getOrElse(GraftArray.now())
    GraftArray.store(spark, uri).commitFragment(FragmentMeta(
      fragId, ts, msgs.map(_.file), msgs.map(_.rows).sum,
      redact(schema, merge(schema, msgs)),
      msgs.map(m => m.file -> redact(schema, m.stats)).toMap,
      msgs.map(m => m.file -> m.rows).toMap,
      // task i of a bucketed GraftArray write holds exactly bucket i
      buckets = schema.buckets.filter(_ => bucketed),
      fileBuckets =
        if (bucketed) msgs.map(m => m.file -> m.partition).toMap
        else Map.empty,
      origin = origin, replaces = replaces,
      deletePred = overwrite.map(PredJson.toJson),
      deleteCoordFiles = coordFiles, sortedBy = sortedBy))
    Some(ts)
  }

  /** Fragment stats from per-file stats: the least min and greatest
    * max, added null counts, and sums added exactly (dropped, never
    * wrapped, when the total leaves the Long range). */
  private def merge(schema: ArraySchema,
      msgs: Seq[GraftCommitMessage]): Map[String, ColumnStats] = {
    val ord = TypedValue.ordering
    schema.columnNames.map { c =>
      val dt = schema.dataTypeOf(c)
      val per = msgs.flatMap(_.stats.get(c))
      def pick(vs: Seq[String], min: Boolean): Option[String] =
        if (vs.isEmpty) None
        else {
          val parsed = vs.map(TypedValue.parse(dt, _))
          Some(TypedValue.show(if (min) parsed.min(ord) else parsed.max(ord)))
        }
      val sumLong =
        if (per.nonEmpty && per.forall(_.sumLong.isDefined))
          Some(per.flatMap(_.sumLong).foldLeft(BigInt(0))(_ + _))
            .filter(_.isValidLong).map(_.toLong)
        else None
      c -> ColumnStats(
        pick(per.flatMap(_.min), min = true),
        pick(per.flatMap(_.max), min = false),
        per.map(_.nullCount).sum, sumLong,
        if (per.nonEmpty && per.forall(_.sumDouble.isDefined))
          Some(per.flatMap(_.sumDouble).sum) else None)
    }.toMap
  }

  /** Encrypted arrays: attribute min/max/sums would leak plaintext
    * value extremes around the AES-GCM file encryption — manifests
    * keep DIMENSION stats only (the pruning index). Aggregate
    * pushdown gates on stats presence, so encrypted aggregates
    * correctly fall back to a real (decrypting) scan. */
  private def redact(schema: ArraySchema,
      st: Map[String, ColumnStats]): Map[String, ColumnStats] =
    if (!schema.encrypted) st
    else st.view.filterKeys(schema.dimNames.contains).toMap
}

/** One fragment per commit; every task writes one parquet part file and
  * reports exact column stats gathered in-stream (rows are seen once —
  * the same trick the reference uses to buffer columns during
  * `write_row` [ha_mytile.cc:3158–3193]). SQL INSERT and OVERWRITE
  * reach it through Spark's V2 append, GraftArray's writes through
  * [[run]]; both commit through [[FragmentCommit]]. */
class GraftBatchWrite(
    spark: SparkSession,
    uri: String,
    schema: ArraySchema,
    writeSchema: StructType,
    /** Consolidation's and rollback's hooks: the commit timestamp and
      * the fragments the new one supersedes. */
    commitTs: Option[Long] = None,
    replaces: Seq[String] = Nil,
    origin: Option[String] = None,
    /** INSERT OVERWRITE: committed as this fragment's delete
      * predicate — masks matching cells of strictly older fragments,
      * never this fragment's own files (same-timestamp rule). */
    overwrite: Option[PredicateSupport.Pred] = None,
    /** Commit nothing when no task wrote a row. */
    skipIfEmpty: Boolean = false,
    /** Task i holds exactly bucket i of the schema's buckets. */
    bucketed: Boolean = false) extends BatchWrite {

  private val fragId = java.util.UUID.randomUUID.toString.take(12)

  // key resolved driver-side from the session conf and shipped with the
  // task closure — the same trust boundary as the reference passing
  // encryption_key over the client connection [ha_mytile.cc:792–795]
  private val keyHex: Option[String] =
    EncryptionKeys.sessionKey(spark, schema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = factory

  private def factory = new GraftDataWriterFactory(uri, fragId, schema,
    writeSchema, HadoopConfBroadcast(spark), keyHex)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitFragment(messages)

  private def commitFragment(messages: Array[WriterCommitMessage])
      : Option[Long] =
    FragmentCommit(spark, uri, schema, fragId,
      messages.map(_.asInstanceOf[GraftCommitMessage]).toSeq,
      commitTs = commitTs, replaces = replaces, origin = origin,
      overwrite = overwrite,
      // every task's rows arrive sorted: by requiredOrdering on SQL
      // writes, by GraftArray's clustering on its own
      sortedBy = GraftArray.sortedByOf(schema),
      bucketed = bucketed, skipIfEmpty = skipIfEmpty)

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(uri, s"frag_$fragId"), true)
  }

  /** Writes `df`, already in the partitions and row order its files
    * should have, as this fragment: one job with one writer task per
    * partition, the factory and commit of a SQL append, and the
    * fragment aborted if the job fails. Returns the commit timestamp;
    * None when skipped as empty. */
  def run(df: DataFrame): Option[Long] = {
    val factory = this.factory // the task closure must not capture the session
    val qe = df.queryExecution
    val messages = try SQLExecution.withNewExecutionId(qe) {
      spark.sparkContext.runJob(qe.toRdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) => {
          val w = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
          try { rows.foreach(w.write); w.commit() }
          catch { case t: Throwable => w.abort(); throw t }
          finally w.close()
        })
    } catch { case t: Throwable => abort(Array.empty); throw t }
    commitFragment(messages)
  }
}

class GraftDataWriterFactory(
    uri: String, fragId: String, schema: ArraySchema,
    writeSchema: StructType, conf: Broadcast[SerializableConfiguration],
    keyHex: Option[String] = None)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftDataWriter(uri, fragId, partitionId, schema, writeSchema,
      conf.value.value, keyHex, taskId = taskId)
}

/** Fragment writer: InternalRow → parquet via Spark's own
  * ParquetWriteSupport (standard lists, decimal int32/int64/fixed,
  * µs timestamps). Every write reaches the array through it, so it
  * alone enforces the write guards — null dimensions, storage-type
  * domains, enum values, charset repertoires — on each row, and it
  * accumulates each column's manifest stats in the same pass. The part
  * file opens with the first row: a task without rows leaves no
  * file. */
class GraftDataWriter(
    uri: String, fragId: String, partitionId: Int,
    schema: ArraySchema, writeSchema: StructType,
    taskConf: org.apache.hadoop.conf.Configuration,
    keyHex: Option[String] = None,
    /** `part` for data files; `del` for row-level-delete coordinate
      * files (never listed in FragmentMeta.files). */
    filePrefix: String = "part",
    /** Spark task attempt id — part of the file name so a RETRIED or
      * SPECULATIVE attempt never collides with a dead attempt's
      * partial file (ParquetWriter opens in CREATE mode; a
      * partitionId-only name made every retry fail with
      * FileAlreadyExists, and speculation raced two attempts onto one
      * path). Only the committing attempt's file enters
      * FragmentMeta.files, so a loser's orphan is invisible to reads
      * and reclaimed by vacuum. */
    taskId: Long = 0L)
  extends DataWriter[InternalRow] {

  import org.apache.spark.sql.execution.datasources.parquet.GraftParquetWriteShim

  private val relFile =
    f"frag_$fragId/$filePrefix%s-$partitionId%05d-t$taskId%d.parquet"
  private val path = new Path(uri, relFile)

  private class InternalRowWriterBuilder(
      file: org.apache.parquet.io.OutputFile)
    extends org.apache.parquet.hadoop.ParquetWriter.Builder[
      InternalRow, InternalRowWriterBuilder](file) {
    override def self(): InternalRowWriterBuilder = this
    override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      GraftParquetWriteShim.newWriteSupport()
  }

  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _

  private def open(): org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
    // a copy: taskConf is the broadcast value (in local[N], the driver's
    // live configuration) and the write support configures this one
    val conf = new org.apache.hadoop.conf.Configuration(taskConf)
    GraftParquetWriteShim.configure(writeSchema, conf)
    val b = new InternalRowWriterBuilder(HadoopOutputFile.fromPath(path, conf))
      .withConf(conf)
      // graft.codec[.col] table property; parquet-mr applies one codec
      // per file — see ArraySchema.effectiveCodec for the resolution
      .withCompressionCodec(CompressionCodecName.valueOf(
        schema.effectiveCodec match {
          case "NONE" => "UNCOMPRESSED"
          case c => c
        }))
    // parquet modular encryption: AES-GCM, footer + every column
    // [reference AES-256-GCM whole-array encryption, ha_mytile.cc:3440]
    keyHex.foreach { k =>
      // no explicit column list → parquet encrypts EVERY column (and
      // the footer) with the footer key — whole-file encryption
      b.withEncryption(
        org.apache.parquet.crypto.FileEncryptionProperties
          .builder(EncryptionKeys.parse(k))
          .build())
    }
    b.build()
  }

  private val fields = writeSchema.fields
  private val dimSet = schema.dimNames.toSet
  // declared storage-type value domains (unsigned/TIME — SURVEY §1.2);
  // lo/hi are longs except UINT64's BigDecimal bounds
  private val guards: Array[Option[(String, Any, Any)]] = fields.map { f =>
    schema.storageTyped.find(_._1 == f.name).flatMap { case (_, st) =>
      for (lo <- st.guardLo; hi <- st.guardHi) yield f.dataType match {
        case _: DecimalType =>
          (st.name, new java.math.BigDecimal(lo), new java.math.BigDecimal(hi))
        case _ => (st.name, lo.toLong, hi.toLong)
      }
    }
  }
  // enum-domain guards: declared enumeration (string) attrs only accept
  // their values [ref: ENUM ⇄ TileDB Enumeration, ha_mytile.cc:1330–1351]
  private val enums: Array[Set[UTF8String]] = fields.map(f =>
    schema.attrs.find(a => a.name == f.name && f.dataType == StringType)
      .map(_.enumValues.map(UTF8String.fromString).toSet)
      .getOrElse(Set.empty))
  // charset-limited string repertoires (STRING_ASCII / STRING_UCS2)
  // reject unrepresentable characters [mytile.cc:218–224, 896–923]
  private val charsetGuards: Array[Option[String]] = fields.map { f =>
    schema.storageTyped.find(_._1 == f.name).map(_._2.name).filter(n =>
      graft.core.StorageTypes.asciiOnly(n) ||
        graft.core.StorageTypes.bmpOnly(n))
  }
  private def checkCharset(i: Int, row: InternalRow): Unit =
    charsetGuards(i).foreach { tn =>
      val u = row.getUTF8String(i)
      val bad =
        if (graft.core.StorageTypes.asciiOnly(tn))
          u.numBytes != u.numChars // ASCII iff UTF-8 octets == chars
        else // UCS-2 is BMP-only: no supplementary code points
          u.toString.codePoints().anyMatch(_ > 0xFFFF)
      if (bad) throw new IllegalArgumentException(
        s"value outside $tn repertoire for ${fields(i).name}")
    }
  private def checkGuard(i: Int, row: InternalRow): Unit =
    guards(i).foreach { case (tn, lo, hi) =>
      val bad = fields(i).dataType match {
        case dt: DecimalType =>
          val d = row.getDecimal(i, dt.precision, dt.scale).toJavaBigDecimal
          d.compareTo(lo.asInstanceOf[java.math.BigDecimal]) < 0 ||
            d.compareTo(hi.asInstanceOf[java.math.BigDecimal]) > 0
        case dt =>
          val v = dt match {
            case ByteType => row.getByte(i).toLong
            case ShortType => row.getShort(i).toLong
            case IntegerType => row.getInt(i).toLong
            case _ => row.getLong(i)
          }
          v < lo.asInstanceOf[Long] || v > hi.asInstanceOf[Long]
      }
      if (bad) throw new IllegalArgumentException(
        s"value out of $tn domain for ${fields(i).name}")
    }
  private def checkEnum(i: Int, row: InternalRow): Unit =
    if (enums(i).nonEmpty && !enums(i).contains(row.getUTF8String(i)))
      throw new IllegalArgumentException(
        s"value not in enum ${fields(i).name}: ${row.getUTF8String(i)}")
  private var rows = 0L
  private val nulls = new Array[Long](fields.length)
  private val accs: Array[ColumnAcc] = fields.map(f => ColumnAcc(f.dataType))

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < fields.length) {
      if (row.isNullAt(i)) {
        if (dimSet(fields(i).name)) throw new IllegalArgumentException(
          s"null value in dimension ${fields(i).name}") // [ha_mytile.cc:3166]
        nulls(i) += 1
      } else {
        checkGuard(i, row)
        checkCharset(i, row)
        checkEnum(i, row)
        accs(i).add(row, i)
      }
      i += 1
    }
    if (writer == null) writer = open()
    writer.write(row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    GraftCommitMessage(relFile, partitionId, rows,
      fields.indices.map(i => fields(i).name -> accs(i).stats(nulls(i))).toMap)
  }

  override def abort(): Unit = if (writer != null) {
    writer.close()
    path.getFileSystem(taskConf).delete(path, false)
  }

  override def close(): Unit = ()
}

/** One column's manifest stats, accumulated over a writer's non-null
  * values without boxing: min/max in the manifest's storage domain
  * ([[TypedValue]]: integral, DATE, TIMESTAMP and DECIMAL(≤18) values
  * as Long, FLOAT/DOUBLE as Double, strings in code-point order,
  * binaries in unsigned byte order, booleans) and, for numbers, the
  * exact sum, dropped when it leaves the Long range (a DECIMAL's is
  * its unscaled sum). Wide decimals keep the sum only; lists, structs,
  * maps and any other type keep the null count only. */
private abstract class ColumnAcc {
  def add(row: InternalRow, i: Int): Unit
  def stats(nulls: Long): ColumnStats
}

private object ColumnAcc {
  def apply(dt: DataType): ColumnAcc = dt match {
    case ByteType => new LongAcc(true) {
      def get(r: InternalRow, i: Int): Long = r.getByte(i) }
    case ShortType => new LongAcc(true) {
      def get(r: InternalRow, i: Int): Long = r.getShort(i) }
    case IntegerType => new LongAcc(true) {
      def get(r: InternalRow, i: Int): Long = r.getInt(i) }
    case LongType => new LongAcc(true) {
      def get(r: InternalRow, i: Int): Long = r.getLong(i) }
    case DateType => new LongAcc(false) {
      def get(r: InternalRow, i: Int): Long = r.getInt(i) }
    case TimestampType => new LongAcc(false) {
      def get(r: InternalRow, i: Int): Long = r.getLong(i) }
    case d: DecimalType if d.precision <= 18 => new LongAcc(true) {
      def get(r: InternalRow, i: Int): Long =
        r.getDecimal(i, d.precision, d.scale).toUnscaledLong }
    case FloatType => new DoubleAcc {
      def get(r: InternalRow, i: Int): Double = r.getFloat(i).toDouble }
    case DoubleType => new DoubleAcc {
      def get(r: InternalRow, i: Int): Double = r.getDouble(i) }
    case StringType => new StringAcc
    case BinaryType => new BinaryAcc
    case BooleanType => new BooleanAcc
    case d: DecimalType => new WideDecimalAcc(d)
    case _ => new ColumnAcc {
      def add(row: InternalRow, i: Int): Unit = ()
      def stats(nulls: Long) = ColumnStats(None, None, nulls, None, None)
    }
  }

  private abstract class LongAcc(summed: Boolean) extends ColumnAcc {
    def get(r: InternalRow, i: Int): Long
    private var seen = false
    private var lo = Long.MaxValue
    private var hi = Long.MinValue
    private var sum = 0L
    // signed count of `sum` wrapping past the Long range: the exact
    // sum is sum + carry·2^64, a Long iff carry is 0
    private var carry = 0L
    def add(row: InternalRow, i: Int): Unit = {
      val v = get(row, i)
      seen = true
      if (v < lo) lo = v
      if (v > hi) hi = v
      val s = sum + v
      if (((sum ^ s) & (v ^ s)) < 0) carry += (if (v < 0) -1 else 1)
      sum = s
    }
    def stats(nulls: Long) = ColumnStats(
      Option.when(seen)(lo.toString), Option.when(seen)(hi.toString), nulls,
      Option.when(summed && carry == 0)(sum), None)
  }

  private abstract class DoubleAcc extends ColumnAcc {
    def get(r: InternalRow, i: Int): Double
    private var seen = false
    private var lo, hi, sum = 0.0
    def add(row: InternalRow, i: Int): Unit = {
      val v = get(row, i)
      if (!seen || java.lang.Double.compare(v, lo) < 0) lo = v
      if (!seen || java.lang.Double.compare(v, hi) > 0) hi = v
      seen = true
      sum += v
    }
    def stats(nulls: Long) = ColumnStats(
      Option.when(seen)(lo.toString), Option.when(seen)(hi.toString), nulls,
      None, Some(sum))
  }

  private class StringAcc extends ColumnAcc {
    // copies: a row's string may point into a reused buffer
    private var lo, hi: UTF8String = _
    def add(row: InternalRow, i: Int): Unit = {
      val u = row.getUTF8String(i)
      if (lo == null) { lo = u.copy(); hi = lo }
      else if (u.binaryCompare(lo) < 0) lo = u.copy()
      else if (u.binaryCompare(hi) > 0) hi = u.copy()
    }
    def stats(nulls: Long) = ColumnStats(
      Option(lo).map(_.toString), Option(hi).map(_.toString), nulls, None, None)
  }

  private class BinaryAcc extends ColumnAcc {
    private var lo, hi: Array[Byte] = _
    def add(row: InternalRow, i: Int): Unit = {
      val b = row.getBinary(i)
      if (lo == null) { lo = b.clone(); hi = lo }
      else if (java.util.Arrays.compareUnsigned(b, lo) < 0) lo = b.clone()
      else if (java.util.Arrays.compareUnsigned(b, hi) > 0) hi = b.clone()
    }
    def stats(nulls: Long) = ColumnStats(Option(lo).map(TypedValue.show),
      Option(hi).map(TypedValue.show), nulls, None, None)
  }

  private class BooleanAcc extends ColumnAcc {
    private var sawFalse, sawTrue = false
    def add(row: InternalRow, i: Int): Unit =
      if (row.getBoolean(i)) sawTrue = true else sawFalse = true
    def stats(nulls: Long) = ColumnStats(
      if (sawFalse) Some("false") else Option.when(sawTrue)("true"),
      if (sawTrue) Some("true") else Option.when(sawFalse)("false"),
      nulls, None, None)
  }

  private class WideDecimalAcc(d: DecimalType) extends ColumnAcc {
    private var sum = java.math.BigInteger.ZERO
    def add(row: InternalRow, i: Int): Unit =
      sum = sum.add(row.getDecimal(i, d.precision, d.scale)
        .toJavaBigDecimal.unscaledValue)
    def stats(nulls: Long) = ColumnStats(None, None, nulls,
      Option.when(sum.bitLength < 64)(sum.longValue), None)
  }
}
