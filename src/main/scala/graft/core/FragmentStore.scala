package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Fragment/schema/metadata persistence over Hadoop `FileSystem` (works
  * on local FS now, object stores at 100 TB — everything is
  * append-only files, no read-modify-write, so commits are atomic at
  * the single-file level exactly like the reference's fragment
  * directories [ha_mytile.cc write path §3.3]).
  *
  * Time travel = filter commits by `timestamp <= asOf`
  * [ref: open_at, ha_mytile.cc:3440–3455].
  */
object FragmentStore {
  /** JVM-wide parsed-manifest cache keyed by absolute manifest path.
    * Safe because manifests are write-once (tmp+rename commit, unique
    * ts+id names); removeFragment and dropTable invalidate. Sized by
    * the metadata working set the driver holds anyway. */
  private[graft] val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, FragmentMeta]()

  /** Parsed `_schema/<ts>.json` versions, keyed and invalidated like
    * `manifestCache`: a version file is written once under a fresh
    * commit timestamp and never rewritten. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, ArraySchema]()

  /** Fresh listings `listFragmentsRaw` takes after a listed manifest
    * vanished before its read. Each retry needs a removal to land
    * inside one list-and-read window, so a bounded count only stops a
    * store whose listings keep naming missing files. */
  private val ListRetries = 16
}

class FragmentStore(uri: String, conf: Configuration) {
  private val root = new Path(uri)
  private val fs: FileSystem = root.getFileSystem(conf)

  private def schemaDir = new Path(root, "_schema")
  private def fragDir = new Path(root, "_fragments")
  private def metaDir = new Path(root, "_meta")

  def exists(): Boolean = fs.exists(schemaDir)

  /** Atomic single-file commit: write to a `.tmp` sibling, then rename.
    * `create` alone is NOT atomic — a concurrent lister (streaming
    * source, parallel query) could read a half-written manifest.
    * Listings filter on the `.json` suffix, so the tmp name is
    * invisible until the rename lands. */
  private def write(p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"cannot commit $p")
    }
  }

  private def read(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The `.json` entries of `dir` by name; a missing directory lists
    * empty (one listing, no separate existence check). */
  private def list(dir: Path): Seq[Path] =
    (try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Nil })
      .map(_.getPath).filter(_.getName.endsWith(".json")).sortBy(_.getName)

  // ---- schema versions (evolution keeps history; travel picks by ts) --

  def createTable(schema: ArraySchema, ts: Long): Unit = {
    if (exists())
      throw new IllegalStateException(s"array already exists at $uri")
    fs.mkdirs(schemaDir); fs.mkdirs(fragDir); fs.mkdirs(metaDir)
    write(new Path(schemaDir, f"$ts%020d.json"), ArraySchemaJson.toJson(schema))
  }

  def evolveSchema(schema: ArraySchema, ts: Long): Unit =
    write(new Path(schemaDir, f"$ts%020d.json"), ArraySchemaJson.toJson(schema))

  def loadSchema(asOf: Option[Long] = None): ArraySchema = {
    val versions = list(schemaDir)
    if (versions.isEmpty)
      throw new IllegalStateException(s"no graft array at $uri")
    val eligible = asOf match {
      case Some(ts) => versions.filter(p => tsOf(p) <= ts)
      case None => versions
    }
    val chosen = if (eligible.nonEmpty) eligible.last else versions.head
    FragmentStore.schemaCache.computeIfAbsent(chosen.toString,
      _ => ArraySchemaJson.fromJson(read(chosen)))
  }

  private def tsOf(p: Path): Long =
    p.getName.stripSuffix(".json").split('_').head.toLong

  // ---- fragments ----------------------------------------------------

  def commitFragment(meta: FragmentMeta): Unit =
    write(new Path(fragDir, f"${meta.timestamp}%020d_${meta.id}.json"),
      ArraySchemaJson.fragmentToJson(meta))

  /** Fragments visible in the window `[since, asOf]`, both inclusive
    * (epoch-0 asOf reads nothing, matching t/open_at.test; `since` is
    * the open-range start — TileDB's timestamp_start/timestamp_end
    * pair, of which the reference exposes only the end via open_at).
    * A since-bounded read is an INCREMENTAL view: only fragments
    * committed in the window exist, and latest-wins resolves within
    * the window only. Ordered by commit timestamp. */
  def listFragments(asOf: Option[Long] = None,
      since: Option[Long] = None): Seq[FragmentMeta] = {
    val all = listFragmentsRaw()
    val vis = all.filter(f =>
      asOf.forall(f.timestamp <= _) && since.forall(f.timestamp >= _))
    // consolidation: a fragment superseded by a VISIBLE consolidated
    // fragment is hidden (the consolidated fragment IS its content);
    // if the consolidated fragment falls outside the window, the
    // originals stay visible — historical views are exact until vacuum
    val replaced = vis.flatMap(_.replaces).toSet
    vis.filterNot(f => replaced.contains(f.id))
      .sortBy(f => (f.timestamp, f.id))
  }

  /** Every fragment manifest, no window, no consolidation exclusion —
    * vacuum's view of the world. Listings re-read NAMES every call
    * (freshness), but each manifest's JSON parses once per JVM: the
    * files are immutable after the rename-in (names embed ts+id, never
    * rewritten), so a tailing stream polling a 100k-fragment array
    * pays one RPC-ish list per trigger, not 100k reads. A COLD driver
    * (fresh JVM over a deep manifest) loads the uncached tail in
    * parallel — sequential per-manifest GETs against an object store
    * would turn table open into minutes (Hadoop FileSystem and the
    * Jackson mapper are thread-safe here).
    *
    * A listed manifest can vanish before it is read: `removeFragment`
    * (vacuum, rollback, delete_fragments) deletes between our list and
    * our read. Such a listing is stale, so the whole listing is taken
    * again — never the vanished manifest skipped: a vacuum that removes
    * it has already committed the consolidated replacement, and only a
    * fresh listing sees that. */
  def listFragmentsRaw(): Seq[FragmentMeta] = {
    def load(p: Path): FragmentMeta =
      FragmentStore.manifestCache.computeIfAbsent(p.toString,
        _ => ArraySchemaJson.fragmentFromJson(read(p)))
    def attempt(): Seq[FragmentMeta] = {
      val paths = list(fragDir)
      val cold = paths.filterNot(p =>
        FragmentStore.manifestCache.containsKey(p.toString))
      if (cold.size > 8) {
        import scala.jdk.CollectionConverters._
        cold.asJava.parallelStream().forEach(p => { load(p); () })
      }
      paths.map(load)
    }
    def vanished(t: Throwable): Boolean = t match {
      case null => false
      case _: java.io.FileNotFoundException => true
      case _ => vanished(t.getCause)
    }
    def go(retries: Int): Seq[FragmentMeta] =
      try attempt()
      catch { case t: Throwable if retries > 0 && vanished(t) => go(retries - 1) }
    go(FragmentStore.ListRetries)
  }

  /** Delete a fragment: manifest first (the atomic visibility switch),
    * then its data directory. The caches are keyed by the qualified
    * paths listings and readers use, so the evictions qualify too. */
  def removeFragment(f: FragmentMeta): Unit = {
    val p = new Path(fragDir, f"${f.timestamp}%020d_${f.id}.json")
    fs.delete(p, false)
    FragmentStore.manifestCache.remove(fs.makeQualified(p).toString)
    fs.delete(fragmentDataDir(f.id), true)
    FooterCache.evictUnder(fs.makeQualified(fragmentDataDir(f.id)).toString)
  }

  // ---- key/value metadata [ref: mytile-metadata.cc:40–105] ----------

  def putMetadata(kv: Map[String, String], ts: Long): Unit =
    write(new Path(metaDir, f"$ts%020d.json"), ArraySchemaJson.metaToJson(kv))

  /** Merged metadata, later commits win per key. */
  def loadMetadata(asOf: Option[Long] = None): Map[String, String] = {
    val files = list(metaDir).filter(p => asOf.forall(tsOf(p) <= _))
    files.foldLeft(Map.empty[String, String]) { (acc, p) =>
      acc ++ ArraySchemaJson.metaFromJson(read(p))
    }
  }

  // ---- misc ---------------------------------------------------------

  def fragmentDataDir(fragId: String): Path = new Path(root, s"frag_$fragId")
  def fileSystem: FileSystem = fs

  /** Delete the array and evict its manifests, schema versions and
    * footers from the JVM-wide caches (keys are qualified paths). */
  def dropTable(): Unit = {
    fs.delete(root, true)
    val prefix = fs.makeQualified(root).toString + "/"
    FragmentStore.manifestCache.keySet.removeIf(_.startsWith(prefix))
    FragmentStore.schemaCache.keySet.removeIf(_.startsWith(prefix))
    FooterCache.evictUnder(prefix)
  }
}
