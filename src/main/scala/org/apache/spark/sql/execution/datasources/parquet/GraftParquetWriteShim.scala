package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.RowToColumnConverter
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** [[ParquetWriteSupport]] is package-private to Spark; this shim
  * re-exposes exactly what graft's one fragment writer needs (and the
  * row copier its partition readers write column vectors with): an
  * InternalRow→parquet write support producing the same physical
  * format Spark's own parquet sink writes (standard lists, decimal
  * int32/int64/fixed by precision, µs timestamps). */
object GraftParquetWriteShim {
  def newWriteSupport(): WriteSupport[InternalRow] = new ParquetWriteSupport

  /** Schema + every conf key ParquetWriteSupport.init and
    * SparkToParquetSchemaConverter read without defaults (Spark's
    * FileFormatWriter normally plants these per task). */
  def configure(schema: StructType, conf: Configuration): Unit = {
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    // the graft fragment readers speak INT64-micros only — never INT96
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.defaultValueString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.defaultValueString)
  }

  /** Spark's row-to-column copier (package-private to Spark): appends
    * one row of `schema` to writable vectors of that schema. Every field
    * is taken as nullable, since a column a file predates reads null
    * whatever the schema declares. */
  def rowToColumns(schema: StructType)
      : (InternalRow, Array[WritableColumnVector]) => Unit =
    new RowToColumnConverter(schema.asNullable).convert
}
