package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Parquet footer access with the caller's Hadoop conf: opening a file
  * for its footer and reading its row count. Fragment stats never come
  * from here — the fragment writer gathers them as it writes.
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
}
