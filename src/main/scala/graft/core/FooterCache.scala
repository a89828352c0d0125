package graft.core

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.metadata.ParquetMetadata

/** JVM-wide cache of parsed parquet footers, with the file status they
  * were read under, keyed by qualified file path. Safe for the same
  * reason as `FragmentStore.manifestCache`: fragment files are
  * write-once under random fragment ids, never rewritten in place, so
  * a path names one content for good. `FragmentStore.removeFragment`
  * and `dropTable` evict what they delete.
  *
  * Only plaintext footers enter: a footer read with a key carries that
  * read's decryptor, and a cached one must never let a keyed read skip
  * decryption, so keyed reads neither read nor fill the cache.
  * Least recently used entries go first beyond `MaxEntries`. */
object FooterCache {
  final case class Entry(status: FileStatus, footer: ParquetMetadata)

  /** A small file's footer is a few KB, so the cap bounds the cache to
    * some MB; it covers the files a working set of arrays reads. */
  private val MaxEntries = 1024

  private val entries = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Entry]): Boolean = size() > MaxEntries
  }

  def get(path: String): Option[Entry] =
    entries.synchronized(Option(entries.get(path)))

  def put(path: String, e: Entry): Unit =
    entries.synchronized { entries.put(path, e); () }

  /** Drops every entry under the directory `dir` (a qualified path). */
  def evictUnder(dir: String): Unit = {
    val prefix = dir.stripSuffix("/") + "/"
    entries.synchronized { entries.keySet.removeIf(_.startsWith(prefix)); () }
  }
}
