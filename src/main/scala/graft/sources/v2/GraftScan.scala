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
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetReadShim, GraftParquetWriteShim, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.sql.types._
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import graft.core.{EncryptionKeys, FooterCache, TypedValue}
import graft.sources.v2.PredicateSupport.Pred
import scala.jdk.CollectionConverters._

/** DSv2 batch scan over array fragments (reference scan path S1–S4).
  *
  * Partitioning is by file (GraftScanImpl.planDataPartitions): files
  * whose dim MBRs overlap a file of another fragment form latest-wins
  * components, each read by one merge partition, or split into
  * first-dimension range slabs when its merge state would exceed one
  * task's bound (SURVEY §7.4.4). Every other file is merge-free and
  * packed with its neighbours by Spark's file-source packing rule.
  * Every partition kind reads columnar (GraftPartitionReader,
  * GraftFillPartitionReader). Pushed predicates prune fragments and
  * files in the ScanBuilder; Spark's Filter evaluates the residual ones
  * over the batches (QueryCondition analog).
  */
case class GraftInputPartition(
    files: Seq[(String, Long)], // (absolute file path, fragment ts)
    needDedup: Boolean,
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

  /** Opens `file` and reads its footer. A plaintext file's footer and
    * status come from [[FooterCache]] when an earlier read left them
    * there: no stat, no footer parse. Keyed reads always read and
    * decrypt the footer themselves and leave the cache alone. */
  def apply(file: String, conf: Configuration,
      keyHex: Option[String]): FooterRead = {
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val key = fs.makeQualified(path).toString
    val cached = if (keyHex.isEmpty) FooterCache.get(key) else None
    val status = cached.fold(fs.getFileStatus(path))(_.status)
    val input = HadoopInputFile.fromStatus(status, conf)
    val stream = input.newStream()
    try FooterRead(input, stream, cached.fold {
      val options = org.apache.parquet.HadoopReadOptions.builder(conf, path)
      keyHex.foreach(k => options.withDecryption(
        org.apache.parquet.crypto.FileDecryptionProperties.builder()
          .withFooterKey(EncryptionKeys.parse(k)).build()))
      val footer = ParquetFileReader.readFooter(input, options.build(), stream)
      if (keyHex.isEmpty)
        FooterCache.put(key, FooterCache.Entry(status, footer))
      footer
    }(_.footer))
    catch { case e: Throwable => stream.close(); throw e }
  }
}

class GraftReaderFactory(
    readSchema: StructType,
    /** Dimension columns in array order with their types: the merge
      * key, slab and hash ownership, and coordinate tombstones. */
    dimStruct: StructType,
    /** Evaluated by fill partitions only: their cells lie in no file,
      * so neither Spark's residual Filter nor the file-level proof of a
      * consumed predicate covers them. */
    preds: Seq[Pred],
    conf: Broadcast[SerializableConfiguration],
    keyHex: Option[String] = None,
    /** Dense-fill context: set when fill partitions may appear. */
    fillSchema: Option[graft.core.ArraySchema] = None,
    /** Metadata column names that are NOT shadowed by user columns —
      * the only names the readers synthesize. */
    metaCols: Set[String] = Set.empty,
    /** Visible delete markers: cells of fragments OLDER than a
      * tombstone that match its predicate / coordinate set are masked
      * in-reader. */
    tombstones: Seq[TombstoneSpec] = Nil,
    /** storage-domain fill per evolved attr declaring one (applied
      * per file only where the column is physically absent). */
    evoFills: Map[String, Any] = Map.empty)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): Nothing =
    throw new UnsupportedOperationException("graft scans read columnar")

  /** Every partition kind emits ColumnarBatches. Pushed predicates are
    * re-applied by Spark's codegen Filter (pushPredicates returns all
    * but the consumed ones as residual), so data partitions filter no
    * rows for them. */
  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = p match {
    case f: GraftFillPartition =>
      new GraftFillPartitionReader(f, readSchema, fillSchema.get,
        preds, conf.value.value, keyHex, tombstones)
    case g: GraftInputPartition =>
      new GraftPartitionReader(g, readSchema, dimStruct,
        conf.value.value, keyHex, metaCols, tombstones, evoFills)
  }
}

/** ColumnarBatch reader over one partition's fragment files, for every
  * data partition kind. Each file is decoded by Spark's
  * VectorizedParquetRecordReader (the engine the built-in parquet
  * source runs on) over the wanted columns; the batch is permuted to
  * `readSchema` order, and columns a file predates (schema evolution)
  * and the provenance columns surface as constant vectors.
  *
  * A simple partition (no merge, no slab or hash ownership, no
  * tombstone newer than the file) hands those batches to Spark as they
  * are. Otherwise each row gets a keep decision from the storage-domain
  * values of the dims and tombstone-predicate columns only: delete
  * masks (a tombstone masks matching cells of strictly older
  * fragments), then slab `[lo, hi)` and hash ownership. Kept rows are
  * copied into one reused set of writable vectors. A merge partition
  * reads its files ts-ascending and keeps a copy of the newest row per
  * dim tuple [SURVEY §1.1] — state bounded by the planner's per-task
  * merge bound or the slab's coordinate range — and emits the winners
  * once every file is read. Every other partition reads its files in
  * planned order.
  *
  * `conf` is the scan's Hadoop configuration and is only read: the
  * reader copies it once into a task conf (GraftParquetReadShim.taskConf),
  * reads each footer once with read options built from that copy, and
  * initializes the vectorized reader with the same copy, footer and
  * stream — any Hadoop filesystem works, not just `file:`. Encrypted
  * files decrypt with `keyHex` (see FooterRead). */
class GraftPartitionReader(
    part: GraftInputPartition,
    readSchema: StructType,
    dimStruct: StructType,
    conf: Configuration,
    keyHex: Option[String] = None,
    metaCols: Set[String] = Set.empty,
    tombstones: Seq[TombstoneSpec] = Nil,
    /** storage-domain fill per evolved attr declaring one — applied
      * ONLY to files that physically lack the column, so explicit NULLs
      * in post-evolution fragments stay null. */
    evoFills: Map[String, Any] = Map.empty)
  extends PartitionReader[ColumnarBatch] {

  import GraftPartitionReader.extractor

  private val taskConf = GraftParquetReadShim.taskConf(conf)
  private val dimNames = dimStruct.fieldNames.toSeq
  private val hasSlab = part.slabLo.isDefined || part.slabHi.isDefined
  private val hasHash = part.hashMod > 0
  private val owned = part.needDedup || hasSlab || hasHash

  /** Columns a keep decision reads, in the storage domain: the dims
    * (merge key, ownership, coordinate deletes) and the tombstone
    * predicates' columns. */
  private val keyCols: Seq[String] =
    ((if (owned || tombstones.exists(_.coordFiles.nonEmpty)) dimNames else Nil) ++
      tombstones.flatMap(_.pred.toSeq.flatMap(_.refs))).distinct
  private val keyIdx: Map[String, Int] = keyCols.zipWithIndex.toMap
  private val dimIdx: Array[Int] = dimNames.map(keyIdx.getOrElse(_, -1)).toArray

  /** Coordinate-delete sets (storage domain), loaded once per
    * partition and shared across its files. Bounded by the number of
    * row-level-deleted coordinates still unreclaimed by consolidation. */
  private lazy val coordSets: Seq[(Long, java.util.HashSet[Seq[Any]])] =
    tombstones.filter(_.coordFiles.nonEmpty).map { t =>
      val set = new java.util.HashSet[Seq[Any]]()
      GraftPartitionReader.foreachTuple(new GraftPartitionReader(
        GraftInputPartition(t.coordFiles.map((_, t.ts)), needDedup = false),
        dimStruct, dimStruct, conf, keyHex))(set.add)
      (t.ts, set)
    }

  // (path, fragment ts): a merge reads ts-ascending so the newest
  // version wins; every other partition reads in planned order
  private val files =
    (if (part.needDedup) part.files.sortBy(_._2) else part.files).iterator
  private var reader: VectorizedParquetRecordReader = _
  private var inner: ColumnarBatch = _ // reader-owned, wanted-col order
  private var batch: ColumnarBatch = _ // the open file's, readSchema order
  private var constVectors: Seq[ConstantColumnVector] = Nil
  // a file holding none of the wanted columns: its footer row count,
  // still to be emitted as rows of constants
  private var pendingRows = 0L
  /** Storage values of `keyCols` at a row of the open file. */
  private var keyAt: Int => Array[Any] = _
  /** The keep decision over a row's `keyAt` values; null = keep all. */
  private var keep: Array[Any] => Boolean = _

  // reused output vectors for kept rows, allocated on first use
  private var outVectors: Array[WritableColumnVector] = _
  private var outBatch: ColumnarBatch = _
  private lazy val toColumns = GraftParquetWriteShim.rowToColumns(readSchema)
  private val winners =
    if (part.needDedup) new java.util.LinkedHashMap[Seq[Any], InternalRow]() else null
  private var drain: Iterator[InternalRow] = _
  private var current: ColumnarBatch = _

  /** A non-file column's storage value in a file: fragment-provenance
    * metadata (file-constant by construction), the attr's declared
    * fill (the file predates the column), or null. */
  private def constant(name: String, path: String, ts: Long): Any = name match {
    case GraftMetaCols.FragId if metaCols.contains(name) =>
      GraftMetaCols.fragIdOf(path)
    case GraftMetaCols.CommitTs if metaCols.contains(name) => ts
    case n => evoFills.getOrElse(n, null)
  }

  private def constFor(f: StructField, path: String,
      ts: Long): ConstantColumnVector = {
    val c = new ConstantColumnVector(FooterRead.BatchRows, f.dataType)
    ColumnVectorUtils.populate(c, new GenericInternalRow(
      Array(TypedValue.toCatalyst(f.dataType, constant(f.name, path, ts)))), 0)
    constVectors = constVectors :+ c
    c
  }

  private def closeFile(): Unit = {
    if (reader != null) { reader.close(); reader = null }
    constVectors.foreach(_.close())
    constVectors = Nil
    batch = null
  }

  private def openNext(): Boolean = {
    closeFile()
    if (!files.hasNext) return false
    val (path, fragTs) = files.next()
    val file = FooterRead(path, taskConf, keyHex)
    val wanted = (readSchema.fieldNames.toSeq ++ keyCols).distinct
      .filter(file.schema.containsField)
    val fileCols: Map[String, ColumnVector] =
      if (wanted.isEmpty) {
        file.stream.close()
        pendingRows = file.rows
        Map.empty
      } else {
        reader = file.vectorized(taskConf, wanted)
        inner = reader.resultBatch()
        wanted.zipWithIndex.map { case (n, i) => n -> inner.column(i) }.toMap
      }
    batch = new ColumnarBatch(readSchema.fields.map { f =>
      fileCols.get(f.name) match {
        case Some(v) =>
          // a LIST column's element nullability is the writing frame's,
          // not the schema's
          require(DataType.equalsIgnoreNullability(v.dataType(), f.dataType),
            s"columnar type mismatch for ${f.name}: " +
              s"file ${v.dataType()} vs schema ${f.dataType}")
          v
        case None => constFor(f, path, fragTs)
      }
    })
    // delete masking applies BEFORE the latest-wins merge: a tombstone
    // masks matching cells of strictly older fragments only (versions
    // written at/after it are untouched)
    val activePred = tombstones.collect {
      case t if t.ts > fragTs && t.pred.isDefined => t.pred.get }
    val activeCoord = coordSets.collect { case (tts, set) if tts > fragTs => set }
    keep =
      if (!owned && activePred.isEmpty && activeCoord.isEmpty) null
      else {
        val ex: Array[Int => Any] = keyCols.map { n =>
          fileCols.get(n) match {
            case Some(v) => extractor(v)
            case None => val c = constant(n, path, fragTs); (_: Int) => c
          }
        }.toArray
        keyAt = i => ex.map(_(i))
        val ord = TypedValue.ordering
        vals => {
          def dims = dimIdx.map(vals(_)).toSeq
          !activePred.exists(_.eval(n => vals(keyIdx(n)))) &&
            (activeCoord.isEmpty || !activeCoord.exists(_.contains(dims))) &&
            (!hasSlab || {
              // slab bounds live in the manifest stats domain, where a
              // decimal dim is its unscaled long (TypedValue.parse);
              // scale is fixed per column, so order carries over
              val v = vals(dimIdx(0)) match {
                case dec: Decimal => dec.toUnscaledLong
                case other => other
              }
              part.slabLo.forall(lo => ord.compare(v, lo) >= 0) &&
                part.slabHi.forall(hi => ord.compare(v, hi) < 0)
            }) &&
            (!hasHash || DimHash.pmod(DimHash.of(vals, dimIdx),
              part.hashMod) == part.hashIdx)
        }
      }
    true
  }

  /** Advances the open file (or the next one) to its next batch of
    * rows in `batch`; false once every file is read. */
  private def nextFileBatch(): Boolean = {
    while (true) {
      if (pendingRows > 0) {
        batch.setNumRows(math.min(pendingRows, FooterRead.BatchRows.toLong).toInt)
        pendingRows -= batch.numRows()
        return true
      }
      if (reader != null && reader.nextBatch()) {
        batch.setNumRows(inner.numRows())
        return true
      }
      if (!openNext()) return false
    }
    false // unreachable
  }

  /** Copies up to one batch of `rows` into the output vectors; false
    * when `rows` held none. */
  private def emit(rows: Iterator[InternalRow]): Boolean = {
    if (outVectors == null) {
      outVectors = OnHeapColumnVector.allocateColumns(FooterRead.BatchRows,
        readSchema).map(v => v: WritableColumnVector)
      outBatch = new ColumnarBatch(outVectors.map(v => v: ColumnVector))
    }
    outVectors.foreach(_.reset())
    var n = 0
    while (n < FooterRead.BatchRows && rows.hasNext) {
      toColumns(rows.next(), outVectors)
      n += 1
    }
    outBatch.setNumRows(n)
    current = outBatch
    n > 0
  }

  override def next(): Boolean = {
    while (drain == null) {
      if (!nextFileBatch()) {
        if (winners == null) return false
        drain = winners.values.iterator.asScala
      } else if (keep == null) {
        current = batch
        return true
      } else {
        val b = batch
        if (winners == null) {
          if (emit(Iterator.range(0, b.numRows())
            .filter(i => keep(keyAt(i))).map(b.getRow))) return true
        } else {
          var i = 0
          while (i < b.numRows()) {
            val vals = keyAt(i)
            // newest fragment wins per coordinate (files are ts-ascending)
            if (keep(vals))
              winners.put(dimIdx.map(vals(_)).toSeq, b.getRow(i).copy())
            i += 1
          }
        }
      }
    }
    emit(drain)
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    closeFile()
    if (winners != null) winners.clear()
    if (outVectors != null) outVectors.foreach(_.close())
  }
}

object GraftPartitionReader {
  /** A batch column's value at a row in the storage domain (the domain
    * of manifest stats, slab bounds and predicate literals): integral
    * and date values as Long, floats as Double, strings as String. */
  def extractor(v: ColumnVector): Int => Any = v.dataType() match {
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
    case BinaryType => i => if (v.isNullAt(i)) null else v.getBinary(i)
    case dt: DecimalType =>
      i => if (v.isNullAt(i)) null else v.getDecimal(i, dt.precision, dt.scale)
    case other => throw new UnsupportedOperationException(
      s"storage value of $other")
  }

  /** Hands every row `reader` emits to `f` as a tuple of storage
    * values, then closes the reader: the nested reads of dim columns
    * (coordinate tombstones, the dense seen-set). */
  def foreachTuple(reader: PartitionReader[ColumnarBatch])(
      f: Seq[Any] => Unit): Unit =
    try while (reader.next()) {
      val b = reader.get()
      val ex = (0 until b.numCols()).map(c => extractor(b.column(c)))
      var i = 0
      while (i < b.numRows()) { f(ex.map(_(i))); i += 1 }
    } finally reader.close()
}

/** Reader for one dense-fill grid slab: written coordinates are
  * collected from the slab's files (dim columns only, through the data
  * reader, with delete tombstones applied), then the grid is walked
  * with an odometer and unwritten cells are emitted with attribute fill
  * values. Pushed predicates are evaluated on the synthesized cells. */
class GraftFillPartitionReader(
    part: GraftFillPartition,
    readSchema: StructType,
    schema: graft.core.ArraySchema,
    preds: Seq[Pred],
    conf: Configuration,
    keyHex: Option[String],
    /** Delete tombstones: a deleted written cell reverts to FILL (it
      * leaves the seen-set, so this partition re-emits it). */
    tombstones: Seq[TombstoneSpec] = Nil)
  extends PartitionReader[ColumnarBatch] {

  private val nDims = schema.dims.size

  // written coordinates within this slab (files listed may span
  // neighboring slabs — only our range is recorded, so memory is
  // bounded by slab size and each cell is owned by exactly one slab)
  private val seen: java.util.HashSet[Seq[Any]] = {
    val s = new java.util.HashSet[Seq[Any]]()
    if (part.files.nonEmpty) {
      val dimStruct = schema.dimStruct
      GraftPartitionReader.foreachTuple(new GraftPartitionReader(
        GraftInputPartition(part.files, needDedup = false),
        dimStruct, dimStruct, conf, keyHex, tombstones = tombstones)) { coords =>
        val inRange = (0 until nDims).forall { i =>
          val c = coords(i).asInstanceOf[Long]
          c >= part.ranges(i)._1 && c <= part.ranges(i)._2
        }
        if (inRange) s.add(coords)
      }
    }
    s
  }

  // fill values in the storage domain (predicate eval); emitted cells
  // convert them
  private val fills: Map[String, Any] = schema.fills
  private val dimIndexOf: Map[String, Int] =
    schema.dimNames.zipWithIndex.toMap

  private val odo = part.ranges.map(_._1).toArray
  private var exhausted = part.ranges.exists(r => r._1 > r._2)

  private val vectors: Array[WritableColumnVector] =
    OnHeapColumnVector.allocateColumns(FooterRead.BatchRows, readSchema)
      .map(v => v: WritableColumnVector)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  private val toColumns = GraftParquetWriteShim.rowToColumns(readSchema)

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
    vectors.foreach(_.reset())
    var n = 0
    while (!exhausted && n < FooterRead.BatchRows) {
      val coords = odo.toSeq
      advance()
      if (!seen.contains(coords) &&
        (preds.isEmpty || preds.forall(_.eval(storageValueAt(coords))))) {
        toColumns(new GenericInternalRow(readSchema.fields.map(f =>
          TypedValue.toCatalyst(f.dataType, storageValueAt(coords)(f.name)))),
          vectors)
        n += 1
      }
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = vectors.foreach(_.close())
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
