package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration
import graft.core._
import graft.sources.GraftArray

/** Row-level UPDATE / MERGE / DELETE on graft arrays via Spark's
  * delta-based rewrite (SupportsDelta) — the natural fit for a
  * latest-wins storage model:
  *
  *  - rowId = the DIMENSIONS: every coordinate names exactly one
  *    visible row, and writing a new version shadows the old one, so
  *    UPDATE needs no delete at all — it is an upsert;
  *  - MERGE matched-update / not-matched-insert are likewise plain
  *    inserts of new versions;
  *  - row-level deletes write the deleted coordinates into `del-*`
  *    parquet files riding the SAME fragment manifest as the updated
  *    rows — one atomic commit for the whole operation. Readers mask
  *    older versions of those coordinates (TombstoneSpec.coordFiles);
  *    full consolidation later reclaims them physically.
  *
  * SQL DELETE with dimension predicates still takes the O(manifest)
  * metadata path (SupportsDeleteV2); attribute-predicate DELETEs land
  * here and get exact SQL row semantics — the per-version resurrect
  * hazard of predicate tombstones cannot occur because coordinates
  * mask every older version of the row uniformly.
  *
  * Encrypted arrays are supported: coordinates persist inside
  * encrypted parquet (unlike predicate tombstones, which would leak
  * plaintext into the manifest and are refused). */
class GraftRowLevelOperation(
    spark: SparkSession,
    uri: String,
    schema: ArraySchema,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"GraftRowLevel($cmd)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, uri, schema,
      GraftArray.store(spark, uri).listFragments(), None)

  override def rowId(): Array[NamedReference] =
    schema.dimNames.map(Expressions.column).toArray

  // update(meta, id, row) carries the full new version — a plain
  // upsert write, no delete+insert split needed
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new GraftDeltaBatchWrite(spark, uri, schema, info.schema())
      }
    }
}

case class GraftDeltaCommitMessage(
    data: GraftCommitMessage,
    coords: GraftCommitMessage) extends WriterCommitMessage

/** One fragment per row-level operation: updated/inserted versions as
  * data files, deleted coordinates as `del-*` files, one manifest. */
class GraftDeltaBatchWrite(
    spark: SparkSession,
    uri: String,
    schema: ArraySchema,
    rowSchema: StructType) extends DeltaBatchWrite {

  private val fragId = java.util.UUID.randomUUID.toString.take(12)

  private val keyHex: Option[String] =
    EncryptionKeys.sessionKey(spark, schema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new GraftDeltaWriterFactory(uri, fragId, schema, rowSchema,
      HadoopConfBroadcast(spark),
      keyHex)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.map(_.asInstanceOf[GraftDeltaCommitMessage]).toSeq
    // an operation that wrote and deleted nothing commits nothing
    FragmentCommit(spark, uri, schema, fragId, msgs.map(_.data),
      coordFiles = msgs.map(_.coords).filter(_.rows > 0).map(_.file),
      origin = Some("rowlevel"), skipIfEmpty = true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(uri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(uri, s"frag_$fragId"), true)
  }
}

class GraftDeltaWriterFactory(
    uri: String, fragId: String, schema: ArraySchema,
    rowSchema: StructType, conf: Broadcast[SerializableConfiguration],
    keyHex: Option[String]) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new GraftDeltaWriter(uri, fragId, partitionId, schema, rowSchema,
      conf.value.value, keyHex, taskId)
}

/** Task-side delta writer: inserts/updates stream into a data part
  * file, deletes stream their rowId (dim tuple) into a `del` file;
  * each file opens with its first row, so a pure-update task writes no
  * empty delete file and vice versa. */
class GraftDeltaWriter(
    uri: String, fragId: String, partitionId: Int,
    schema: ArraySchema, rowSchema: StructType,
    conf: org.apache.hadoop.conf.Configuration,
    keyHex: Option[String],
    /** Task attempt id, in both inner writers' file names — same
      * retry/speculation collision guard as GraftDataWriterFactory.
      * Required (no default): an omitted id would silently name every
      * attempt -t0 and reintroduce the collision. */
    taskId: Long) extends DeltaWriter[InternalRow] {

  private val dimStruct = StructType(schema.dims.map(d =>
    StructField(d.name, d.dataType, nullable = false)))

  private val data = new GraftDataWriter(uri, fragId, partitionId, schema,
    rowSchema, conf, keyHex, taskId = taskId)
  private val coords = new GraftDataWriter(uri, fragId, partitionId, schema,
    dimStruct, conf, keyHex, filePrefix = "del", taskId = taskId)

  override def insert(row: InternalRow): Unit = data.write(row)

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = data.write(row)

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    coords.write(id)

  override def commit(): WriterCommitMessage = GraftDeltaCommitMessage(
    data.commit().asInstanceOf[GraftCommitMessage],
    coords.commit().asInstanceOf[GraftCommitMessage])

  override def abort(): Unit = {
    data.abort()
    coords.abort()
  }

  override def close(): Unit = ()
}
