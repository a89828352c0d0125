package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.SeekableInputStream
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetReadShim, VectorizedParquetRecordReader}
import org.apache.spark.sql.types._
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import graft.core.{EncryptionKeys, TypedValue}
import graft.sources.v2.PredicateSupport.Pred
import scala.jdk.CollectionConverters._

/** DSv2 batch scan over array fragments (reference scan path S1–S4).
  *
  * Partitioning: fragments whose dim-MBRs overlap (and need latest-wins
  * merge) are split into first-dimension range slabs driven by per-file
  * MBRs — each slab merges only its own coordinate range, so merge
  * state is bounded by slab width, not fragment size (SURVEY §7.4.4).
  * Disjoint fragments split per-file for maximal parallelism. Pushed
  * predicates are evaluated inside the reader (QueryCondition analog);
  * pruning already happened fragment-level in the ScanBuilder.
  */
case class GraftInputPartition(
    files: Seq[(String, Long)], // (absolute file path, fragment ts)
    needDedup: Boolean,
    limit: Int = -1, // per-partition row cap
    /** Half-open slab [slabLo, slabHi) on the FIRST dimension (storage
      * domain). Rows outside are owned by a sibling slab partition; the
      * dedup key (full dim tuple) shares dim0, so equal coordinates
      * always land in the same slab and latest-wins stays exact. */
    slabLo: Option[Any] = None,
    slabHi: Option[Any] = None,
    /** Hash-ownership fallback when no range structure exists to cut
      * slabs on (files without dim0 MBRs, or fully-coincident string
      * MBRs): this partition owns rows with
      * `pmod(stableDimHash(dim tuple), hashMod) == hashIdx`. Every
      * sibling reads the same files (hashMod× read amplification) but
      * holds only ~1/hashMod of the merge state. 0 = disabled. Equal
      * coordinates hash identically, so latest-wins stays exact. */
    hashMod: Int = 0,
    hashIdx: Int = 0,
    /** Bucket id under the array's `graft.buckets` layout — set only
      * when the scan reports KeyGroupedPartitioning (storage-
      * partitioned joins); Spark groups partitions sharing a key. */
    bucket: Option[Int] = None)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket.getOrElse(throw new IllegalStateException(
        "partitionKey requested on a non-bucketed partition"))))
}

/** One visible delete marker shipped to the readers: either a
  * delete-condition predicate (DELETE FROM / commitTombstone) or
  * coordinate files (row-level MERGE/UPDATE/DELETE). Both mask
  * matching cells of fragments committed STRICTLY BEFORE `ts`. */
case class TombstoneSpec(
    ts: Long,
    pred: Option[Pred],
    /** absolute paths of parquet files holding deleted dim tuples */
    coordFiles: Seq[String])

/** Deterministic, JVM-stable hash of a dim coordinate tuple in the
  * storage domain (the spec'd hashCodes of Long/Double/String/Boolean
  * plus BigInteger for decimals — never identity hashes). */
object DimHash {
  def of(vals: Array[Any], dimIdx: Array[Int]): Int = {
    var h = 17
    var i = 0
    while (i < dimIdx.length) {
      val x = vals(dimIdx(i)) match {
        case null => 0
        case l: java.lang.Long => java.lang.Long.hashCode(l)
        case d: java.lang.Double => java.lang.Double.hashCode(d)
        case s: String => s.hashCode
        case b: java.lang.Boolean => java.lang.Boolean.hashCode(b)
        case dec: org.apache.spark.sql.types.Decimal =>
          dec.toJavaBigDecimal.unscaledValue().hashCode()
        case b: Array[Byte] => java.util.Arrays.hashCode(b)
        case other => other.hashCode()
      }
      h = h * 31 + x
      i += 1
    }
    h
  }

  def pmod(h: Int, m: Int): Int = ((h % m) + m) % m
}

/** Fill partition for a dense array: one dim0 slab of the coordinate
  * grid. The reader builds the set of WRITTEN coordinates from the
  * listed files' dim columns, then emits every grid cell in `ranges`
  * that was never written, with attribute fill values — the reference's
  * dense fill semantics [ha_mytile.cc:1088–1164] as a partition-local
  * anti-join (memory = one slab's coordinate set, never the array). */
case class GraftFillPartition(
    ranges: Seq[(Long, Long)], // inclusive per-dim coordinate ranges
    files: Seq[(String, Long)]) extends InputPartition

/** The session Hadoop configuration as a broadcast, for every reader and
  * writer factory (as Spark's `ParquetScan` does): factories carry a
  * handle instead of the whole conf, and no task deserializes it. In
  * `local[N]` the value IS the driver's live configuration, so tasks
  * must copy it before any write (`GraftParquetReadShim.taskConf`,
  * `GraftDataWriter`).
  *
  * One broadcast serves every factory while the conf's entries stay the
  * same: serializing the conf costs about 10 ms of driver CPU (every
  * entry's source list is gzipped on its own), and every scan,
  * micro-batch and write job builds a factory.
  * Any change to an entry, or a new SparkContext, makes a fresh
  * broadcast. */
object HadoopConfBroadcast {
  private case class Cached(sc: SparkContext,
      entries: java.util.Map[String, String],
      value: Broadcast[SerializableConfiguration])
  private var cached: Option[Cached] = None

  def apply(spark: SparkSession): Broadcast[SerializableConfiguration] =
    synchronized {
      val sc = spark.sparkContext
      val conf = sc.hadoopConfiguration
      val entries = new java.util.HashMap[String, String]()
      conf.forEach(e => entries.put(e.getKey, e.getValue))
      cached.filter(c => (c.sc eq sc) && !sc.isStopped && c.entries == entries)
        .getOrElse {
          val c = Cached(sc, entries,
            sc.broadcast(new SerializableConfiguration(conf)))
          cached = Some(c)
          c
        }.value
    }
}

/** A fragment file whose footer was read once, with read options built
  * from the task's conf, and the open stream it was read from — handed
  * on to the vectorized reader, which takes ownership of the stream.
  * With a key, the options carry the footer key: the footer comes back
  * holding the file's decryptor, and the vectorized reader decrypts
  * column chunks through it. */
private[v2] final case class FooterRead(
    input: HadoopInputFile, stream: SeekableInputStream,
    footer: ParquetMetadata) {
  def schema: MessageType = footer.getFileMetaData.getSchema
  def rows: Long = footer.getBlocks.asScala.map(_.getRowCount).sum

  /** A vectorized reader over the top-level fields `names` of this
    * file, in that order, initialized with `taskConf`; it takes
    * ownership of the stream, which is closed here if initialization
    * fails. */
  def vectorized(taskConf: org.apache.hadoop.mapred.JobConf,
      names: Seq[String]): VectorizedParquetRecordReader = {
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, FooterRead.BatchRows)
    try GraftParquetReadShim.initVectorized(reader, taskConf, input, stream,
      footer, new MessageType(schema.getName,
        names.map(n => schema.getType(Array(n): _*)): _*))
    catch { case e: Throwable => stream.close(); throw e }
    reader
  }
}

private[v2] object FooterRead {
  /** Rows per vectorized batch. */
  val BatchRows = 4096

  def apply(file: String, conf: Configuration,
      keyHex: Option[String]): FooterRead = {
    val path = new Path(file)
    val options = org.apache.parquet.HadoopReadOptions.builder(conf, path)
    keyHex.foreach(k => options.withDecryption(
      org.apache.parquet.crypto.FileDecryptionProperties.builder()
        .withFooterKey(EncryptionKeys.parse(k)).build()))
    val input = HadoopInputFile.fromPath(path, conf)
    val stream = input.newStream()
    try FooterRead(input, stream,
      ParquetFileReader.readFooter(input, options.build(), stream))
    catch { case e: Throwable => stream.close(); throw e }
  }
}

class GraftReaderFactory(
    readSchema: StructType,
    dimNames: Seq[String],
    preds: Seq[Pred],
    conf: Broadcast[SerializableConfiguration],
    keyHex: Option[String] = None,
    /** Dense-fill context: when set, fill partitions may appear in the
      * scan, so every partition must report row-based (Spark rejects
      * mixed columnar/row partition sets). */
    fillSchema: Option[graft.core.ArraySchema] = None,
    /** Scan-wide columnar eligibility, decided on the DRIVER over the
      * full planned partition set (GraftScanImpl.columnarEligible).
      * Spark requires every partition of a scan to agree on
      * row-vs-columnar ("Cannot mix row-based and columnar input
      * partitions"), so a per-partition answer would crash any scan
      * that plans simple partitions next to slab/hash merge partitions
      * — e.g. a sparse array with one disjoint fragment plus an
      * overlapping pair. */
    columnar: Boolean = false,
    /** Requested metadata columns that are NOT shadowed by user
      * columns — the only names the readers synthesize. */
    metaCols: Set[String] = Set.empty,
    /** Visible delete markers: cells of fragments OLDER than a
      * tombstone that match its predicate / coordinate set are masked
      * in-reader. */
    tombstones: Seq[TombstoneSpec] = Nil,
    /** Dimension columns in array order with their types — needed to
      * decode coordinate-tombstone files. */
    dimStruct: StructType = new StructType(),
    /** storage-domain fill per evolved attr declaring one (applied
      * per file only where the column is physically absent). */
    evoFills: Map[String, Any] = Map.empty)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case f: GraftFillPartition =>
        new GraftFillPartitionReader(f, readSchema, fillSchema.get,
          preds, conf.value.value, keyHex, tombstones, dimStruct)
      case g: GraftInputPartition =>
        new GraftPartitionReader(g, readSchema, dimNames, preds,
          conf.value.value, keyHex, metaCols, tombstones, dimStruct, evoFills)
    }

  /** All-or-nothing per scan; see `columnar` above. When true, EVERY
    * planned partition is a simple file partition (no latest-wins
    * merge, no slab/hash ownership, no fill) with vectorizable column
    * types, and streams Spark's vectorized parquet reader's
    * ColumnarBatches straight through; otherwise the row reader decodes
    * through the same vectorized reader and merges per row. Pushed
    * predicates are re-applied by Spark's codegen Filter
    * (pushPredicates returns everything as residual), so the columnar
    * path needs no row filtering. */
  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftColumnarPartitionReader(
      p.asInstanceOf[GraftInputPartition], readSchema, conf.value.value, keyHex,
      metaCols, evoFills)
}

object GraftColumnarPartitionReader {
  /** Types the columnar scan hands to Spark as its vectorized reader
    * decodes them: every type the fragment writer emits, LIST columns
    * (multi-value attributes) of such types included. */
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | StringType | BinaryType | DateType |
         TimestampType | _: DecimalType => true
    case ArrayType(e, _) => supported(e)
    case _ => false
  }
}

/** ColumnarBatch reader over one partition's fragment files using
  * Spark's VectorizedParquetRecordReader (the engine the built-in
  * parquet source runs on). `conf` is the scan's Hadoop configuration
  * and is only read: the reader copies it once into a task conf
  * (GraftParquetReadShim.taskConf), reads each footer once with read
  * options built from that copy, and initializes the vectorized reader
  * with the same copy, footer and stream — no per-file default
  * configuration, and any Hadoop filesystem works, not just `file:`.
  * Encrypted files decrypt with `keyHex` (see FooterRead).
  * Columns are permuted to the requested order; columns a file
  * predates (schema evolution) surface as fill or all-null constant
  * vectors — same semantics as the row path. */
class GraftColumnarPartitionReader(
    part: GraftInputPartition,
    readSchema: StructType,
    conf: Configuration,
    keyHex: Option[String] = None,
    metaCols: Set[String] = Set.empty,
    /** storage-domain fill per evolved attr declaring one — applied
      * ONLY to files that physically lack the column (same semantics
      * as the merge path). */
    evoFills: Map[String, Any] = Map.empty)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val taskConf = GraftParquetReadShim.taskConf(conf)
  private val files = part.files.iterator // (path, fragment ts)
  private var reader: VectorizedParquetRecordReader = _
  private var inner: ColumnarBatch = _ // reader-owned, wanted-col order
  private var out: ColumnarBatch = _ // permuted to readSchema order
  private var constVectors: Seq[ConstantColumnVector] = Nil
  // projection-less scan of a file (readSchema empty after evolution/
  // count-style pruning): emit the footer row count as empty rows
  private var pendingNullRows = 0L

  private def closeCurrent(): Unit = {
    if (reader != null) { reader.close(); reader = null }
    constVectors.foreach(_.close())
    constVectors = Nil
    inner = null
  }

  /** Constant vector for a non-file column: fragment-provenance
    * metadata (file-constant by construction), the attr's declared
    * fill value when one exists (schema evolution — the file predates
    * the column), or null. */
  private def constFor(f: StructField, path: String,
      ts: Long): ConstantColumnVector = {
    val c = new ConstantColumnVector(FooterRead.BatchRows, f.dataType)
    val v = f.name match {
      case GraftMetaCols.FragId if metaCols.contains(f.name) =>
        GraftMetaCols.fragIdOf(path)
      case GraftMetaCols.CommitTs if metaCols.contains(f.name) => ts
      case n => evoFills.getOrElse(n, null)
    }
    ColumnVectorUtils.populate(c,
      new GenericInternalRow(Array(TypedValue.toCatalyst(f.dataType, v))), 0)
    constVectors = constVectors :+ c
    c
  }

  private def openNext(): Boolean =
    if (!files.hasNext) false
    else {
      val (path, fragTs) = files.next()
      val file = FooterRead(path, taskConf, keyHex)
      val fileSchema = file.schema
      val fileFields = fileSchema.getFields.asScala.map(_.getName).toSet
      val wanted = readSchema.fields.filter(f => fileFields.contains(f.name))
      if (wanted.isEmpty) {
        // nothing to decode; rows still count (constant vectors carry
        // any requested provenance metadata)
        file.stream.close()
        pendingNullRows = file.rows
        val cs = readSchema.fields.map(constFor(_, path, fragTs))
        out = new ColumnarBatch(cs.toArray[ColumnVector])
        true
      } else {
        reader = file.vectorized(taskConf, wanted.map(_.name))
        inner = reader.resultBatch()
        val vectors: Array[ColumnVector] = readSchema.fields.map { f =>
          val i = wanted.indexWhere(_.name == f.name)
          if (i >= 0) {
            val v = inner.column(i)
            // a LIST column's element nullability is the writing
            // frame's, not the schema's
            require(DataType.equalsIgnoreNullability(v.dataType(), f.dataType),
              s"columnar type mismatch for ${f.name}: " +
                s"file ${v.dataType()} vs schema ${f.dataType}")
            v
          } else constFor(f, path, fragTs)
        }.toArray
        out = new ColumnarBatch(vectors)
        true
      }
    }

  override def next(): Boolean = {
    while (true) {
      if (pendingNullRows > 0) {
        out.setNumRows(math.min(pendingNullRows, FooterRead.BatchRows.toLong).toInt)
        pendingNullRows -= out.numRows()
        return true
      }
      if (out == null) { // nothing open yet
        if (!openNext()) return false
      } else if (reader == null) { // projection-less file exhausted
        closeCurrent(); out = null
      } else if (reader.nextBatch()) {
        out.setNumRows(inner.numRows())
        return true
      } else { // data file exhausted
        closeCurrent(); out = null
      }
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = out

  override def close(): Unit = closeCurrent()
}

/** Row reader over fragment parquet, for scans the columnar reader
  * cannot serve (merge, slab, hash, limit, tombstone and fill
  * partitions). Each file streams through Spark's
  * VectorizedParquetRecordReader, the one decoder both readers share,
  * and batch rows are surfaced as storage-domain value arrays for the
  * merge machinery downstream.
  * `conf` is the scan's Hadoop configuration and is only read: the
  * reader copies it once into a task conf (GraftParquetReadShim.taskConf)
  * and reads every footer once with read options built from that copy
  * (plus decryption when keyed). Readers it nests (coordinate
  * tombstones) get `conf` and make their own copy.
  * Latest-wins merge: files arrive ts-ascending; a hash map keyed by
  * the dim tuple keeps the last (newest) row [SURVEY §1.1].
  */
class GraftPartitionReader(
    part: GraftInputPartition,
    readSchema: StructType,
    dimNames: Seq[String],
    preds: Seq[Pred],
    conf: Configuration,
    keyHex: Option[String] = None,
    metaCols: Set[String] = Set.empty,
    tombstones: Seq[TombstoneSpec] = Nil,
    dimStruct: StructType = new StructType(),
    /** storage-domain fill per evolved attr declaring one — applied
      * ONLY where a file physically lacks the column, so explicit
      * NULLs in post-evolution fragments stay null (the columnar
      * reader applies the same rule). */
    evoFills: Map[String, Any] = Map.empty)
  extends PartitionReader[InternalRow] {

  private val taskConf = GraftParquetReadShim.taskConf(conf)

  /** (readCols index, storage fill) for the columns `fileSchema`
    * lacks that declare fills. */
  private def evoFillIdx(
      hasField: String => Boolean): Seq[(Int, Any)] =
    readCols.zipWithIndex.collect {
      case (f0, i) if !hasField(f0.name) && evoFills.contains(f0.name) =>
        (i, evoFills(f0.name))
    }

  private def hasSlab: Boolean = part.slabLo.isDefined || part.slabHi.isDefined
  private def hasHash: Boolean = part.hashMod > 0

  // columns physically read = requested ∪ merge dims ∪ predicate refs
  // ∪ tombstone refs (masking evaluates predicates per cell and
  // coordinate deletes need the dim tuple)
  // (reference always reads dims, ha_mytile.cc:3013–3021)
  private val readCols: Seq[StructField] = {
    val extra =
      (if (part.needDedup || hasSlab || hasHash) dimNames else Nil) ++
        preds.flatMap(_.refs) ++
        tombstones.flatMap(_.pred.map(_.refs).getOrElse(Set.empty)) ++
        (if (tombstones.exists(_.coordFiles.nonEmpty)) dimNames else Nil)
    readSchema.fields.toSeq ++
      extra.distinct.filterNot(readSchema.fieldNames.contains)
        .map(n => StructField(n, NullType)) // type resolved from file
  }

  private val outIdx: Array[Int] =
    readSchema.fields.map(f => readCols.indexWhere(_.name == f.name))
  private val dimIdx: Array[Int] =
    dimNames.map(n => readCols.indexWhere(_.name == n)).toArray
  private val colIdx: Map[String, Int] =
    readCols.map(_.name).zipWithIndex.toMap

  // fragment-provenance metadata columns: injected per source file
  // BEFORE the latest-wins merge, so a merged row reports the fragment
  // its winning version came from. `metaCols` holds only names that
  // are NOT user columns (a user column of the same name shadows the
  // metadata column and must never be overwritten).
  private val metaFragIdx =
    if (metaCols.contains(GraftMetaCols.FragId))
      colIdx.get(GraftMetaCols.FragId) else None
  private val metaTsIdx =
    if (metaCols.contains(GraftMetaCols.CommitTs))
      colIdx.get(GraftMetaCols.CommitTs) else None

  /** Coordinate-delete sets (storage domain), loaded once per
    * partition and shared across its files. Bounded by the number of
    * row-level-deleted coordinates still unreclaimed by consolidation. */
  private lazy val coordSets: Seq[(Long, java.util.HashSet[Seq[Any]])] =
    tombstones.filter(_.coordFiles.nonEmpty).map { t =>
      val set = new java.util.HashSet[Seq[Any]]()
      val inner = new GraftPartitionReader(
        GraftInputPartition(t.coordFiles.map((_, t.ts)), needDedup = false),
        dimStruct, dimNames, Nil, conf, keyHex)
      while (inner.next())
        set.add(inner.storageRow.take(dimStruct.length).toSeq)
      inner.close()
      (t.ts, set)
    }

  private val iter: Iterator[Array[Any]] = {
    val raw = part.files.sortBy(_._2).iterator.flatMap {
      case (file, ts) =>
        val base0 = readFile(file)
        // delete masking BEFORE the latest-wins merge: a tombstone
        // masks matching cells of strictly older fragments only
        // (versions written at/after it are untouched)
        val activePred = tombstones.collect {
          case t if t.ts > ts && t.pred.isDefined => t.pred.get }
        val activeCoord = coordSets.collect {
          case (tts, set) if tts > ts => set }
        val base =
          if (activePred.isEmpty && activeCoord.isEmpty) base0
          else base0.filter { r =>
            !activePred.exists(_.eval(n => r(colIdx(n)))) && {
              activeCoord.isEmpty || {
                val key = dimIdx.map(r(_)).toSeq
                !activeCoord.exists(_.contains(key))
              }
            }
          }
        if (metaFragIdx.isEmpty && metaTsIdx.isEmpty) base
        else {
          val fid = GraftMetaCols.fragIdOf(file)
          base.map { r =>
            metaFragIdx.foreach(i => r(i) = fid)
            metaTsIdx.foreach(i => r(i) = ts)
            r
          }
        }
    }
    // slab ownership: keep only rows whose dim0 falls in [slabLo, slabHi)
    // — a file spanning several slabs is read by each, but every row is
    // emitted by exactly one
    val rows =
      if (!hasSlab) raw
      else {
        val ord = TypedValue.ordering
        val d0 = dimIdx(0)
        raw.filter { r =>
          // slab bounds live in the manifest stats domain, where a
          // decimal dim is its unscaled long (TypedValue.parse) — the
          // decoded row carries a Decimal object, so normalize before
          // comparing (scale is fixed per column ⇒ order carries over)
          val v = r(d0) match {
            case dec: org.apache.spark.sql.types.Decimal => dec.toUnscaledLong
            case other => other
          }
          part.slabLo.forall(lo => ord.compare(v, lo) >= 0) &&
            part.slabHi.forall(hi => ord.compare(v, hi) < 0)
        }
      }
    // hash ownership: this partition emits only its share of the
    // coordinate space (siblings read the same files and emit theirs)
    val owned =
      if (!hasHash) rows
      else rows.filter(r =>
        DimHash.pmod(DimHash.of(r, dimIdx), part.hashMod) == part.hashIdx)
    if (!part.needDedup) owned
    else {
      // newest fragment wins per coordinate (files are ts-ascending);
      // map size is bounded by the slab's coordinate range, not the
      // whole overlap group
      val m = new java.util.LinkedHashMap[Seq[Any], Array[Any]]()
      owned.foreach { r => m.put(dimIdx.map(r(_)).toSeq, r) }
      m.values.asScala.iterator
    }
  }

  private val filtered: Iterator[Array[Any]] = {
    val f =
      if (preds.isEmpty) iter
      else iter.filter(r => preds.forall(_.eval(n => r(colIdx(n)))))
    // pushed LIMIT: applied after merge+filter, so always exact —
    // each partition yields at most `limit` rows, Spark takes the rest
    if (part.limit >= 0) f.take(part.limit) else f
  }

  private var current: Array[Any] = _

  /** The current row in the storage domain, aligned to the read
    * columns (`readSchema` first): what nested readers (coordinate
    * tombstones, the dense seen-set) consume, without a round trip
    * through Catalyst values. */
  private[v2] def storageRow: Array[Any] = current

  /** The reader of the file currently being streamed (files decode
    * strictly sequentially) — closed here if the scan is abandoned
    * early (pushed LIMIT, cancelled task) before the iterator drains. */
  private var openReader: AutoCloseable = _

  override def next(): Boolean =
    if (filtered.hasNext) { current = filtered.next(); true } else false

  override def get(): InternalRow = {
    val out = new Array[Any](readSchema.length)
    var i = 0
    while (i < out.length) {
      out(i) = TypedValue.toCatalyst(readSchema.fields(i).dataType,
        current(outIdx(i)))
      i += 1
    }
    new GenericInternalRow(out)
  }

  override def close(): Unit = {
    if (openReader != null) { openReader.close(); openReader = null }
  }

  /** Stream one parquet file through Spark's vectorized reader as
    * storage-domain value arrays aligned to `readCols`: per-column
    * extractors (dispatched once on the decoded vector types) convert
    * batch cells, so merge/slab/tombstone logic and predicate eval
    * downstream see one value domain. Columns missing from the file
    * (schema evolution) carry their fill or null; a file holding none
    * of `readCols` yields its footer row count of such rows. */
  private def readFile(path: String): Iterator[Array[Any]] = {
    val file = FooterRead(path, taskConf, keyHex)
    val fileSchema = file.schema
    val wanted = readCols.map(_.name).filter(fileSchema.containsField)
    val fillsForFile = evoFillIdx(fileSchema.containsField)
    def blank(): Array[Any] = {
      val out = new Array[Any](readCols.size)
      fillsForFile.foreach { case (fi, fv) => out(fi) = fv }
      out
    }
    if (wanted.isEmpty) {
      file.stream.close()
      return new Iterator[Array[Any]] {
        private var left = file.rows
        override def hasNext: Boolean = left > 0
        override def next(): Array[Any] = {
          if (!hasNext) throw new NoSuchElementException
          left -= 1
          blank()
        }
      }
    }
    val reader = file.vectorized(taskConf, wanted)
    openReader = reader
    val batch = reader.resultBatch()
    val target: Array[Int] = wanted.map(colIdx).toArray
    val extract: Array[Int => Any] = Array.tabulate(wanted.size) { c =>
      val v = batch.column(c)
      val targetType = readCols(target(c)).dataType
      v.dataType() match {
        case ByteType => i => if (v.isNullAt(i)) null else v.getByte(i).toLong
        case ShortType => i => if (v.isNullAt(i)) null else v.getShort(i).toLong
        case IntegerType | DateType =>
          i => if (v.isNullAt(i)) null else v.getInt(i).toLong
        case LongType | TimestampType =>
          i => if (v.isNullAt(i)) null else v.getLong(i)
        case FloatType =>
          i => if (v.isNullAt(i)) null else v.getFloat(i).toDouble
        case DoubleType => i => if (v.isNullAt(i)) null else v.getDouble(i)
        case BooleanType => i => if (v.isNullAt(i)) null else v.getBoolean(i)
        case StringType =>
          i => if (v.isNullAt(i)) null else v.getUTF8String(i).toString
        case BinaryType => targetType match {
          // unannotated binary read into a string/untyped slot
          // surfaces as UTF-8 text
          case StringType | NullType => i =>
            if (v.isNullAt(i)) null
            else new String(v.getBinary(i), java.nio.charset.StandardCharsets.UTF_8)
          case _ => i => if (v.isNullAt(i)) null else v.getBinary(i)
        }
        case dt: DecimalType =>
          i => if (v.isNullAt(i)) null else v.getDecimal(i, dt.precision, dt.scale)
        // multi-value attribute: catalyst ArrayData, copied out of the
        // reused batch (never referenced by pushed predicates)
        case _: ArrayType => i => if (v.isNullAt(i)) null else v.getArray(i).copy()
        case other => throw new UnsupportedOperationException(
          s"vectorized extractor for $other")
      }
    }
    new Iterator[Array[Any]] {
      private var rows = 0
      private var i = 0
      private var done = false
      private def advance(): Unit =
        while (i >= rows && !done) {
          if (reader.nextBatch()) { rows = batch.numRows(); i = 0 }
          else { done = true; reader.close(); openReader = null }
        }
      override def hasNext: Boolean = { advance(); !done }
      override def next(): Array[Any] = {
        if (!hasNext) throw new NoSuchElementException
        val out = blank()
        var c = 0
        while (c < target.length) { out(target(c)) = extract(c)(i); c += 1 }
        i += 1
        out
      }
    }
  }
}

/** Reader for one dense-fill grid slab: written coordinates are
  * collected from the slab's files (dim columns only, via the row
  * reader), then the grid is walked with an odometer and unwritten
  * cells are emitted with attribute fill values. Pushed predicates are
  * evaluated on the synthesized rows exactly as on data rows. */
class GraftFillPartitionReader(
    part: GraftFillPartition,
    readSchema: StructType,
    schema: graft.core.ArraySchema,
    preds: Seq[Pred],
    conf: Configuration,
    keyHex: Option[String],
    /** Delete tombstones: a deleted written cell reverts to FILL (it
      * leaves the seen-set, so this partition re-emits it). */
    tombstones: Seq[TombstoneSpec] = Nil,
    dimStruct: StructType = new StructType())
  extends PartitionReader[InternalRow] {

  private val dims = schema.dims
  private val nDims = dims.size

  // written coordinates within this slab (files listed may span
  // neighboring slabs — only our range is recorded, so memory is
  // bounded by slab size and each cell is owned by exactly one slab)
  private val seen: java.util.HashSet[Seq[Long]] = {
    val s = new java.util.HashSet[Seq[Long]]()
    if (part.files.nonEmpty) {
      val dimStruct0 = StructType(dims.map(d => StructField(d.name, d.dataType)))
      val inner = new GraftPartitionReader(
        GraftInputPartition(part.files, needDedup = false),
        dimStruct0, schema.dimNames, Nil, conf, keyHex,
        tombstones = tombstones, dimStruct = dimStruct0)
      while (inner.next()) {
        val r = inner.storageRow
        val coords = (0 until nDims).map(r(_).asInstanceOf[Long])
        val inRange = (0 until nDims).forall(i =>
          coords(i) >= part.ranges(i)._1 && coords(i) <= part.ranges(i)._2)
        if (inRange) s.add(coords)
      }
      inner.close()
    }
    s
  }

  // fill values in the storage domain (predicate eval); get()
  // converts them
  private val fills: Map[String, Any] = schema.fills
  private val dimIndexOf: Map[String, Int] =
    schema.dimNames.zipWithIndex.toMap

  private val odo = part.ranges.map(_._1).toArray
  private var exhausted = part.ranges.exists(r => r._1 > r._2)
  private var current: Seq[Long] = _

  private def advance(): Unit = {
    var i = nDims - 1
    while (i >= 0) {
      odo(i) += 1
      if (odo(i) <= part.ranges(i)._2) return
      odo(i) = part.ranges(i)._1
      i -= 1
    }
    exhausted = true
  }

  private def storageValueAt(coords: Seq[Long])(name: String): Any =
    dimIndexOf.get(name) match {
      case Some(i) => coords(i)
      case None => fills.getOrElse(name, null)
    }

  override def next(): Boolean = {
    while (!exhausted) {
      val coords = odo.toSeq
      advance()
      if (!seen.contains(coords) &&
        (preds.isEmpty || preds.forall(_.eval(storageValueAt(coords))))) {
        current = coords
        return true
      }
    }
    false
  }

  override def get(): InternalRow = {
    val out = new Array[Any](readSchema.length)
    var i = 0
    while (i < out.length) {
      val f = readSchema.fields(i)
      out(i) = TypedValue.toCatalyst(f.dataType,
        storageValueAt(current)(f.name))
      i += 1
    }
    new GenericInternalRow(out)
  }

  override def close(): Unit = ()
}

/** Pushed-aggregate scan: the whole result was computed driver-side
  * from fragment statistics (A1–A7 fast path) — a single one-row
  * partition, zero data I/O. */
case class GraftAggPartition(values: Seq[Any]) extends InputPartition

class GraftAggBatch(values: Seq[Any], schema: StructType) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    GraftAggReaderFactory(schema)
}

case class GraftAggReaderFactory(schema: StructType)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val vals = p.asInstanceOf[GraftAggPartition].values
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow =
        new GenericInternalRow(vals.zip(schema.fields).map {
          case (v, f) => TypedValue.toCatalyst(f.dataType, v)
        }.toArray)
      override def close(): Unit = ()
    }
}
