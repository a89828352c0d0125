package org.apache.spark.sql.execution.datasources.parquet;

import java.io.IOException;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.mapred.FileSplit;
import org.apache.hadoop.mapred.JobConf;
import org.apache.hadoop.mapreduce.TaskAttemptID;
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl;
import org.apache.parquet.hadoop.ParquetInputFormat;
import org.apache.parquet.hadoop.metadata.ParquetMetadata;
import org.apache.parquet.hadoop.util.HadoopInputFile;
import org.apache.parquet.io.SeekableInputStream;
import org.apache.parquet.schema.MessageType;
import org.apache.spark.sql.internal.SQLConf;
import scala.Option;

/**
 * Initializes a {@link VectorizedParquetRecordReader} over a file whose
 * footer graft's readers have already read, the way Spark's own
 * {@code ParquetPartitionReaderFactory} does: through the public
 * {@code initialize(split, taskContext, inputFile, stream, footer)}
 * overload, with the task's Hadoop configuration. The footer is not
 * read again, and no default {@code Configuration} is built: the
 * schema-based overload runs {@code new Configuration()} per file,
 * and its first {@code setBoolean} parses Hadoop's default XML.
 *
 * <p>{@link #taskConf} builds the configuration once per partition
 * reader; {@link #initVectorized} sets only the per-file requested
 * schema on it. The vectorized reader takes ownership of the stream
 * (its {@code close()} closes it).
 */
public final class GraftParquetReadShim {
  private GraftParquetReadShim() {}

  /**
   * A copy of {@code base} (typically the scan's broadcast Hadoop
   * configuration, which is never mutated) carrying what the reader's
   * {@code ParquetReadSupport} needs. Copying clones properties that
   * are already loaded, so nothing is parsed. A {@link JobConf}, so that
   * {@code TaskAttemptContextImpl} uses it as-is instead of copying it
   * once per file. Column types come from the file: binary is not
   * string, INT96 is not timestamp, nothing infers TIMESTAMP_NTZ and
   * nanosecond timestamps stay timestamps. Name matching is exact,
   * since the requested names are the file's own.
   */
  public static JobConf taskConf(Configuration base) {
    JobConf conf = new JobConf(base);
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
        ParquetReadSupport.class.getName());
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING().key(), false);
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP().key(), false);
    conf.setBoolean(SQLConf.CASE_SENSITIVE().key(), true);
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED().key(), false);
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG().key(), false);
    return conf;
  }

  /**
   * Reads {@code requested} (a subset of the footer's schema, in output
   * column order) from {@code stream}. Overwrites the requested-schema
   * key of {@code taskConf}, so one task conf serves the files of a
   * partition one after another.
   */
  public static void initVectorized(
      VectorizedParquetRecordReader reader,
      JobConf taskConf,
      HadoopInputFile inputFile,
      SeekableInputStream stream,
      ParquetMetadata footer,
      MessageType requested) throws IOException, InterruptedException {
    taskConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA(),
        new ParquetToSparkSchemaConverter(taskConf).convert(requested).json());
    FileSplit split = new FileSplit(
        inputFile.getPath(), 0, inputFile.getLength(), new String[0]);
    reader.initialize(split,
        new TaskAttemptContextImpl(taskConf, new TaskAttemptID()),
        Option.apply(inputFile), Option.apply(stream), Option.apply(footer));
  }
}
