package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loading for the driver-generated TPC-H-ish test data
  * (TESTDATA.md). Every `SparkEntry.queries` entry resolves its inputs
  * through here so filters/projections reach the parquet scan untouched.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))

  /** 8-hex-char MD5 tag of a dataset path — THE shared suffix rule for
    * dataset-scoped temp view names (TextOps.fnCatalogView,
    * Relational.dsView): one definition so the convention cannot fork
    * between files. */
  private[graft] def datasetTag(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8)

  /** Content-change signature of a file OR Spark-written parquet
    * directory — THE shared cache-key rule for per-dataset staging
    * caches (drainSessions, pngMedia/wavMedia): for a directory,
    * `length`/`lastModified` of the directory inode barely move when
    * part files are rewritten in place, so the signature must cover
    * the children (name:length:mtime each, sorted). */
  private[graft] def fileSig(path: String): String = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty)
        .map(c => s"${c.getName}:${c.length}:${c.lastModified}")
        .sorted.mkString(",")
    else s"${f.length}:${f.lastModified}"
  }

  /** Normalize whatever shape the driver generated `events.ts` in to a
    * session-zoned TimestampType(µs) — the one shape every event-time
    * query (batch windows, as-of/range joins, streaming watermarks)
    * assumes. Input shapes seen across testdata generations:
    *
    *  - parquet TIMESTAMP(NANOS), read as a nanos LONG under
    *    `spark.sql.legacy.parquet.nanosAsLong`;
    *  - parquet timestamp[us] without UTC adjustment, read as
    *    TIMESTAMP_NTZ (the current generation) — cast to TimestampType
    *    is wall-clock-preserving under the UTC session, matching
    *    DuckDB's naive-timestamp `epoch_us`;
    *  - already TimestampType: untouched.
    *
    * Streaming readers route through here too (the cast is
    * streaming-safe), so one data-shape drift can never again take out
    * only half the event-time family. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        // integer DIV, not `/` — long/long promotes to double and the
        // 2024 ns epochs exceed double's 53-bit mantissa (off-by-1 µs).
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
}
