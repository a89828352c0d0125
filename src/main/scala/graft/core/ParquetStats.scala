package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Extract per-column min/max/nullCount + row counts from parquet
  * footers of a just-committed fragment — the reference computes
  * non-empty domains per fragment the same way its storage layer
  * tracks MBRs; here parquet row-group statistics give them for free.
  * These power fragment pruning (P10) and the aggregate-pushdown fast
  * path (A1–A7) without touching data pages.
  */
object ParquetStats {

  /** Read options for `path` built from `conf`. `ParquetFileReader.open`
    * without options builds them from a fresh default `Configuration`,
    * whose first read parses Hadoop's default XML — per file, and
    * blind to the session's settings (filesystems, decryption). */
  def readOptions(conf: Configuration, path: Path)
      : org.apache.parquet.ParquetReadOptions =
    org.apache.parquet.HadoopReadOptions.builder(conf, path).build()

  /** Opens `path` with read options built from `conf`. */
  def open(path: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(
      HadoopInputFile.fromPath(path, conf), readOptions(conf, path))

  /** The footer row count of one parquet file. */
  def rowCount(path: Path, conf: Configuration): Long = {
    val r = open(path, conf)
    try r.getRecordCount finally r.close()
  }

  /** (rows, per-column stats) aggregated across `files`. Sums are not
    * in parquet footers; callers fill them separately if needed. */
  def collect(files: Seq[Path], schema: StructType, conf: Configuration)
      : (Long, Map[String, ColumnStats]) =
    merge(collectPerFile(files, schema, conf), schema)

  /** Fragment-level stats as a pure fold of already-collected per-file
    * stats — callers that hold `collectPerFile`'s result use this
    * instead of `collect`, which would re-open and re-parse every
    * footer (2N metadata GETs per commit on object stores). */
  def merge(per: Seq[(Path, Long, Map[String, ColumnStats])],
      schema: StructType): (Long, Map[String, ColumnStats]) = {
    val rows = per.map(_._2).sum
    val ord = TypedValue.ordering
    val merged = schema.fields.map { f =>
      val sts = per.flatMap(_._3.get(f.name))
      def pick(vs: Seq[String], min: Boolean): Option[String] = {
        val parsed = vs.map(TypedValue.parse(f.dataType, _))
        if (parsed.isEmpty) None
        else Some(TypedValue.show(
          if (min) parsed.min(ord) else parsed.max(ord)))
      }
      f.name -> ColumnStats(
        pick(sts.flatMap(_.min), min = true),
        pick(sts.flatMap(_.max), min = false),
        sts.map(_.nullCount).sum, None, None)
    }.toMap
    (rows, merged)
  }

  /** Per-file (path, rows, col→stats) from footers. */
  def collectPerFile(files: Seq[Path], schema: StructType,
      conf: Configuration): Seq[(Path, Long, Map[String, ColumnStats])] =
    files.map { f => perFile(f, schema, conf) }

  private def perFile(f: Path, schema: StructType, conf: Configuration)
      : (Path, Long, Map[String, ColumnStats]) = {
    var rows = 0L
    val mins = collection.mutable.Map[String, Any]()
    val maxs = collection.mutable.Map[String, Any]()
    val nulls = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val ord = TypedValue.ordering

    Seq(f).foreach { f =>
      val reader = open(f, conf)
      try {
        val footer = reader.getFooter
        val msgType = footer.getFileMetaData.getSchema
        footer.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala.foreach { cc =>
            val name = cc.getPath.toDotString
            schema.fields.find(_.name == name).foreach { field =>
              val st = cc.getStatistics
              if (st != null) {
                nulls(name) = nulls(name) + math.max(st.getNumNulls, 0L)
                if (st.hasNonNullValue) {
                  val prim = msgType.getType(cc.getPath.toArray: _*)
                    .asPrimitiveType().getPrimitiveTypeName
                  val mn = decode(st.genericGetMin, prim, field.dataType)
                  val mx = decode(st.genericGetMax, prim, field.dataType)
                  if (mn != null) {
                    if (!mins.contains(name) || ord.compare(mn, mins(name)) < 0)
                      mins(name) = mn
                  }
                  if (mx != null) {
                    if (!maxs.contains(name) || ord.compare(mx, maxs(name)) > 0)
                      maxs(name) = mx
                  }
                }
              }
            }
          }
        }
      } finally reader.close()
    }

    val stats = schema.fields.map { fld =>
      fld.name -> ColumnStats(
        mins.get(fld.name).map(TypedValue.show),
        maxs.get(fld.name).map(TypedValue.show),
        nulls(fld.name), None, None)
    }.toMap
    (f, rows, stats)
  }

  /** Parquet statistics value → TypedValue storage domain. */
  private def decode(v: Any, prim: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (b: Binary, StringType) => b.toStringUsingUTF8
    case (b: Binary, BinaryType) => b.getBytes
    case (n: java.lang.Number, FloatType | DoubleType) => n.doubleValue()
    case (n: java.lang.Number, _) if TypedValue.isIntegral(dt) => n.longValue()
    case (n: java.lang.Number, _: DecimalType) => n.longValue() // unscaled
    case (b: java.lang.Boolean, BooleanType) => b.booleanValue()
    case _ => null // unsupported stat type — skip, never wrong
  }
}
