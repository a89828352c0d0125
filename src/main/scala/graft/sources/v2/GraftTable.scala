package graft.sources.v2

import java.util
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.broadcast.Broadcast
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
    // cell-order clustering for DSv2 writes: no forced shuffle
    // (distribution unspecified), but Spark sorts each task's rows by
    // the ROW-MAJOR cell order before the writer sees them, so those
    // part files match the library write path and record `sortedBy`
    // for the scan-side ordering report. HILBERT schemas are the
    // exception: requiredOrdering is empty there (the curve key is a
    // derived expression, not a sortable column ref), so a DSv2
    // INSERT into a hilbert array writes unordered parts — honest
    // (`sortedBy` stays empty, no false ordering report) but without
    // the MBR-tightness the library path's hilbert sort buys; bulk
    // hilbert loads should go through GraftArray.write
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
      // consolidation hooks: commit the fragment at an explicit
      // timestamp superseding others. These can REWRITE HISTORY (mark
      // live fragments superseded → vacuum deletes them), so they are
      // honored only inside a maintenance window opened by
      // GraftArray.consolidate (session conf flag) — a stray user
      // write carrying them fails loudly instead of silently hiding
      // live data
      val opts = info.options()
      val internal = Seq("graft.internal.commit_ts",
        "graft.internal.replaces", "graft.internal.origin")
        .filter(opts.containsKey)
      if (internal.nonEmpty && !spark.conf
          .getOption(GraftMaintenance.ConfFlag).exists(_.toBoolean))
        throw new IllegalArgumentException(
          s"${internal.mkString(", ")} are maintenance-internal write " +
            "options (set by consolidation); they are not accepted on " +
            "user writes")
      new GraftBatchWrite(spark, uri, schema, info.schema(),
        commitTs = Option(opts.get("graft.internal.commit_ts")).map(_.toLong),
        replaces = Option(opts.get("graft.internal.replaces"))
          .map(_.split(",").toSeq).getOrElse(Nil),
        origin = Option(opts.get("graft.internal.origin"))
          .orElse(overwritePred.map(_ => "overwrite")),
        overwrite = overwritePred)
    }
  }
}

/** Maintenance-window flag: consolidation sets it around its DSv2
  * write so the history-rewriting internal options are accepted. */
object GraftMaintenance {
  val ConfFlag = "spark.graft.internal.maintenance"
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
    file: String, rows: Long,
    stats: Map[String, ColumnStats]) extends WriterCommitMessage

/** Cross-task fragment-stat assembly shared by the batch and delta
  * (row-level) commit paths. */
object GraftWriteStats {
  def merge(schema: ArraySchema,
      msgs: Seq[GraftCommitMessage]): Map[String, ColumnStats] = {
    val ord = TypedValue.ordering
    schema.columnNames.map { c =>
      val per = msgs.flatMap(_.stats.get(c))
      def opt(vs: Seq[String], min: Boolean): Option[String] = {
        val dt = schema.dataTypeOf(c)
        val parsed = vs.map(TypedValue.parse(dt, _))
        if (parsed.isEmpty) None
        else Some(TypedValue.show(
          if (min) parsed.min(ord) else parsed.max(ord)))
      }
      c -> ColumnStats(
        opt(per.flatMap(_.min).toSeq, min = true),
        opt(per.flatMap(_.max).toSeq, min = false),
        per.map(_.nullCount).sum,
        if (per.nonEmpty && per.forall(_.sumLong.isDefined))
          // exact addition: cross-task overflow drops the stat rather
          // than recording a wrapped sum
          try Some(per.flatMap(_.sumLong).foldLeft(0L)(Math.addExact))
          catch { case _: ArithmeticException => None }
        else None,
        if (per.nonEmpty && per.forall(_.sumDouble.isDefined))
          Some(per.flatMap(_.sumDouble).sum) else None)
    }.toMap
  }

  /** Encrypted arrays: attribute min/max/sums would leak plaintext
    * value extremes around the AES-GCM file encryption — manifests
    * keep DIMENSION stats only (the pruning index). Aggregate
    * pushdown gates on stats presence, so encrypted aggregates
    * correctly fall back to a real (decrypting) scan. */
  def redact(schema: ArraySchema,
      st: Map[String, ColumnStats]): Map[String, ColumnStats] =
    if (!schema.encrypted) st
    else st.view.filterKeys(schema.dimNames.contains).toMap
}

/** One fragment per commit; every task writes one parquet part file and
  * reports exact column stats gathered in-stream (rows are seen once —
  * the same trick the reference uses to buffer columns during
  * `write_row` [ha_mytile.cc:3158–3193]). */
class GraftBatchWrite(
    spark: SparkSession,
    uri: String,
    schema: ArraySchema,
    writeSchema: StructType,
    commitTs: Option[Long] = None,
    replaces: Seq[String] = Nil,
    origin: Option[String] = None,
    /** INSERT OVERWRITE: committed as this fragment's delete
      * predicate — masks matching cells of strictly older fragments,
      * never this fragment's own files (same-timestamp rule). */
    overwrite: Option[PredicateSupport.Pred] = None) extends BatchWrite {

  private val fragId = java.util.UUID.randomUUID.toString.take(12)

  // key resolved driver-side from the session conf and shipped with the
  // task closure — the same trust boundary as the reference passing
  // encryption_key over the client connection [ha_mytile.cc:792–795]
  private val keyHex: Option[String] =
    EncryptionKeys.sessionKey(spark, schema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new GraftDataWriterFactory(uri, fragId, schema, writeSchema,
      HadoopConfBroadcast(spark),
      keyHex)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.map(_.asInstanceOf[GraftCommitMessage])
      .filter(_.rows > 0)
    val merged = GraftWriteStats.merge(schema, msgs)
    import GraftWriteStats.redact
    GraftArray.store(spark, uri).commitFragment(FragmentMeta(
      fragId, commitTs.getOrElse(GraftArray.now()), msgs.map(_.file).toSeq,
      msgs.map(_.rows).sum, redact(schema, merged),
      msgs.map(m => m.file -> redact(schema, m.stats)).toMap,
      msgs.map(m => m.file -> m.rows).toMap,
      origin = origin, replaces = replaces,
      deletePred = overwrite.map(PredJson.toJson),
      // requiredOrdering sorted every task's rows before the writer
      sortedBy = GraftArray.sortedByOf(schema)))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(uri, s"frag_$fragId"), true)
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
  * ParquetWriteSupport (identical physical format to the convenience
  * write path — standard lists, decimal int32/int64/fixed, µs
  * timestamps), accumulating min/max/nullCount/sum per column for the
  * fragment manifest in the same pass. */
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
  // a copy: taskConf is the broadcast value (in local[N], the driver's
  // live configuration) and the write support configures this one
  private val conf = new org.apache.hadoop.conf.Configuration(taskConf)

  private class InternalRowWriterBuilder(
      file: org.apache.parquet.io.OutputFile)
    extends org.apache.parquet.hadoop.ParquetWriter.Builder[
      InternalRow, InternalRowWriterBuilder](file) {
    override def self(): InternalRowWriterBuilder = this
    override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      GraftParquetWriteShim.newWriteSupport()
  }

  private val writer = {
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
  // enum-domain guards: declared enumeration attrs only accept their
  // values [ref: ENUM ⇄ TileDB Enumeration, ha_mytile.cc:1330–1351]
  private val enums: Array[Set[String]] = fields.map(f =>
    schema.attrs.find(_.name == f.name)
      .map(_.enumValues.toSet).getOrElse(Set.empty))
  // charset-limited string repertoires (STRING_ASCII / STRING_UCS2)
  // reject unrepresentable characters [mytile.cc:218–224, 896–923]
  private val charsetGuards: Array[Option[String]] = fields.map { f =>
    schema.storageTyped.find(_._1 == f.name).map(_._2.name).filter(n =>
      graft.core.StorageTypes.asciiOnly(n) ||
        graft.core.StorageTypes.bmpOnly(n))
  }
  private def checkCharset(i: Int, row: InternalRow): Unit =
    charsetGuards(i).foreach { tn =>
      if (!row.isNullAt(i)) {
        val u = row.getUTF8String(i)
        val bad =
          if (graft.core.StorageTypes.asciiOnly(tn))
            u.numBytes != u.numChars // ASCII iff UTF-8 octets == chars
          else // UCS-2 is BMP-only: no supplementary code points
            u.toString.codePoints().anyMatch(_ > 0xFFFF)
        if (bad) throw new IllegalArgumentException(
          s"value outside $tn repertoire for ${fields(i).name}")
      }
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
  private var rows = 0L
  private val mins = new Array[Any](fields.length)
  private val maxs = new Array[Any](fields.length)
  private val nulls = new Array[Long](fields.length)
  private val sumsL = new Array[Long](fields.length)
  // a wrapped Long sum would silently diverge from Spark's decimal sum
  // (which has +10 digits of headroom) — on overflow the stat is
  // dropped so the aggregate pushdown falls back to a real scan
  private val sumLOverflow = new Array[Boolean](fields.length)
  private val sumsD = new Array[Double](fields.length)
  private val ord = TypedValue.ordering

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      if (row.isNullAt(i)) {
        if (dimSet(f.name)) throw new IllegalArgumentException(
          s"null value in dimension ${f.name}") // [ha_mytile.cc:3166]
        nulls(i) += 1
      } else {
        checkGuard(i, row)
        checkCharset(i, row)
        // storage-domain value for the manifest stats (the parquet
        // encoding itself is ParquetWriteSupport's job)
        val storage: Any = f.dataType match {
          case ByteType => row.getByte(i).toLong
          case ShortType => row.getShort(i).toLong
          case IntegerType | DateType => row.getInt(i).toLong
          case LongType | TimestampType => row.getLong(i)
          case FloatType => row.getFloat(i).toDouble
          case DoubleType => row.getDouble(i)
          case StringType =>
            val s = row.getUTF8String(i).toString
            if (enums(i).nonEmpty && !enums(i).contains(s))
              throw new IllegalArgumentException(
                s"value not in enum ${fields(i).name}: $s")
            s
          case BinaryType => row.getBinary(i)
          case BooleanType => row.getBoolean(i)
          case dt: DecimalType if dt.precision <= 18 =>
            // stats domain for decimals = the unscaled long (same fixed
            // scale ⇒ ordering and sums carry over)
            row.getDecimal(i, dt.precision, dt.scale).toUnscaledLong
          case _: DecimalType => null // wide decimals carry no stats
          case _: ArrayType => null // arrays carry no scalar stats
          case dt => throw new UnsupportedOperationException(s"type $dt")
        }
        storage match {
          case l: Long =>
            if (!sumLOverflow(i))
              try sumsL(i) = Math.addExact(sumsL(i), l)
              catch { case _: ArithmeticException => sumLOverflow(i) = true }
          case d: Double => sumsD(i) += d
          case _ => ()
        }
        if (storage != null && !storage.isInstanceOf[Array[Byte]]) {
          if (mins(i) == null || ord.compare(storage, mins(i)) < 0)
            mins(i) = storage
          if (maxs(i) == null || ord.compare(storage, maxs(i)) > 0)
            maxs(i) = storage
        }
      }
      i += 1
    }
    writer.write(row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    val stats = fields.zipWithIndex.map { case (f, i) =>
      val isNum = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => Some(true)
        case dt: DecimalType if dt.precision <= 18 => Some(true)
        case FloatType | DoubleType => Some(false)
        case _ => None
      }
      f.name -> ColumnStats(
        Option(mins(i)).map(TypedValue.show),
        Option(maxs(i)).map(TypedValue.show),
        nulls(i),
        if (isNum.contains(true) && !sumLOverflow(i)) Some(sumsL(i)) else None,
        if (isNum.contains(false)) Some(sumsD(i)) else None)
    }.toMap
    GraftCommitMessage(relFile, rows, stats)
  }

  override def abort(): Unit = {
    writer.close()
    path.getFileSystem(conf).delete(path, false)
  }

  override def close(): Unit = ()
}
