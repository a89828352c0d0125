package graft.core

import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** The array-as-table data model (SURVEY §1): dimensions (the
  * coordinate/clustering key and pushdown target) + attributes (typed,
  * nullable, with fill-value defaults), dense or sparse, fragments as
  * immutable timestamped commits.
  *
  * Persisted layout under a table URI:
  * {{{
  *   _schema/<ts>.json          // schema versions (evolution + travel)
  *   _fragments/<ts>_<id>.json  // one manifest per committed fragment
  *   _meta/<ts>.json            // key/value metadata commits
  *   frag_<id>/part-….parquet   // columnar cell data
  * }}}
  */
object ArrayKind extends Enumeration { val Dense, Sparse = Value }

/** Dimension: typed coordinate with optional domain + tile extent
  * [ref: mytile.h:30–36, create_field_dimension mytile.cc:580–668].
  * `storageType` is the declared reference-engine type (e.g. UINT32,
  * TIME_SEC, DATETIME_NS — SURVEY §1.2); it fixes the Spark surface
  * type and the write-side domain guard ([[StorageTypes]]). */
case class DimensionSpec(
    name: String,
    dataType: DataType,
    lowerBound: Option[String] = None,
    upperBound: Option[String] = None,
    tileExtent: Option[Long] = None,
    storageType: Option[String] = None) {
  storageType.foreach(st => require(StorageTypes.sparkTypeOf(st) == dataType,
    s"dimension $name: storage type $st surfaces as " +
      s"${StorageTypes.sparkTypeOf(st)}, not $dataType"))
}

/** Compression codec names accepted by `graft.codec[.col]` — the
  * Spark seat of the reference's per-attribute filter lists
  * [ha_mytile.cc:1353–1378; t/filters.test]. */
/** Session-supplied AES keys for parquet modular encryption. */
object EncryptionKeys {
  val ConfKey = "spark.graft.encryption.key"
  /** The session's key for an array: None when it is not encrypted,
    * else the hex key from the session conf, which must be set. Resolved
    * on the driver and shipped to tasks; never persisted. */
  def sessionKey(spark: org.apache.spark.sql.SparkSession,
      schema: ArraySchema): Option[String] =
    if (!schema.encrypted) None
    else Some(spark.conf.getOption(ConfKey).getOrElse(
      throw new IllegalArgumentException(
        s"array is encrypted; set $ConfKey")))
  /** Hex → raw bytes; AES accepts 16/24/32-byte keys. */
  def parse(hex: String): Array[Byte] = {
    require(Set(32, 48, 64).contains(hex.length) &&
      hex.forall(c => Character.digit(c, 16) >= 0),
      s"$ConfKey must be 32/48/64 hex chars (AES-128/192/256)")
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }
}

object Codecs {
  val supported: Set[String] = Set("SNAPPY", "ZSTD", "GZIP", "NONE")
  def normalize(c: String): String = {
    val u = c.toUpperCase
    require(supported(u),
      s"unsupported codec $c (supported: ${supported.mkString(", ")})")
    u
  }
}

/** Attribute: nullable column with optional fill value (SQL DEFAULT ⇄
  * TileDB fill [ha_mytile.cc:1313–1326]), optional enumeration
  * [ha_mytile.cc:1330–1351], optional declared storage type
  * (unsigned/TIME/sub-µs datetime — [[StorageTypes]]), and optional
  * declared compression codec (the reference's per-attribute filter
  * list [ha_mytile.cc:1353–1378]). */
case class AttributeSpec(
    name: String,
    dataType: DataType,
    nullable: Boolean = true,
    fillValue: Option[String] = None,
    enumValues: Seq[String] = Nil,
    storageType: Option[String] = None,
    codec: Option[String] = None) {
  storageType.foreach(st => require(StorageTypes.sparkTypeOf(st) == dataType,
    s"attribute $name: storage type $st surfaces as " +
      s"${StorageTypes.sparkTypeOf(st)}, not $dataType"))
  codec.foreach(Codecs.normalize)
}

case class ArraySchema(
    kind: ArrayKind.Value,
    dims: Seq[DimensionSpec],
    attrs: Seq[AttributeSpec],
    capacity: Long = 10000L, // sparse cells/tile default [ha_mytile.cc:69]
    cellOrder: String = "ROW_MAJOR",
    tileOrder: String = "ROW_MAJOR",
    allowsDups: Boolean = false,
    /** Table-default compression codec (reference filter-list analog). */
    codec: Option[String] = None,
    /** Parquet modular encryption (AES-GCM footer + all columns) — the
      * Spark seat of the reference's `encryption_key` option
      * [ha_mytile.cc:75, 792–795, 3440–3472; t/encryption.test]. Only
      * this FLAG persists; the key is supplied per session via
      * `spark.graft.encryption.key` and never written anywhere.
      * Divergences from the reference, both documented: fragment
      * manifests stay plaintext but carry DIMENSION stats only — the
      * coordinate MBRs that drive pruning. Attribute min/max/sums are
      * REDACTED from manifests of encrypted arrays (they would leak
      * plaintext value extremes around the file encryption), which
      * disables the stats-only aggregate fast path — encrypted
      * aggregates always scan. Dim MBRs and row counts still disclose
      * the key range and cardinality; callers who consider coordinates
      * sensitive should encrypt at a coarser granularity. Encrypted
      * arrays read/write through the DSv2 path only. */
    encrypted: Boolean = false,
    /** Hash-bucketed layout on the FIRST dimension: library writes
      * place each row in file `pmod(hash(dim0), n)` (Spark murmur3,
      * seed 42 — replicated by the catalog's `bucket` SQL function),
      * so two arrays bucketed the same way join WITHOUT a shuffle via
      * Spark's storage-partitioned joins (the scan reports
      * KeyGroupedPartitioning over `bucket(n, dim0)`). Only integral
      * first dimensions; DSv2/DML writes don't bucket their fragments,
      * which simply disables the co-located path until consolidation
      * rewrites them. */
    buckets: Option[Int] = None) {

  codec.foreach(Codecs.normalize)
  buckets.foreach { n =>
    require(n >= 1, s"graft.buckets must be >= 1, got $n")
    require(dims.nonEmpty && TypedValue.isIntegral(dims.head.dataType),
      "graft.buckets requires an integral first dimension")
  }

  def dimNames: Seq[String] = dims.map(_.name)
  def columnNames: Seq[String] = dims.map(_.name) ++ attrs.map(_.name)
  /** The dimension columns in array order, as the readers read them. */
  def dimStruct: StructType =
    StructType(dims.map(d => StructField(d.name, d.dataType)))

  /** The codec the fragment writers apply. Parquet-mr writes ONE codec
    * per file (no per-column-chunk codec in its writer API), so
    * per-attribute declarations are honored physically only when they
    * agree: table codec, else the single distinct per-attribute codec,
    * else SNAPPY. The declarations themselves always round-trip through
    * the manifest and discovery (the reference round-trips filter
    * lists the same way, mytile-discovery.cc:303–307) — documented
    * divergence: heterogeneous per-column codecs fall back to the
    * table default at the file level. */
  def effectiveCodec: String =
    codec.orElse {
      val declared = attrs.flatMap(_.codec).distinct
      if (declared.size == 1) Some(declared.head) else None
    }.getOrElse("SNAPPY")

  /** Declared fill per attribute that has one, parsed once into the
    * manifest value domain ([[TypedValue.parse]]). */
  def fills: Map[String, Any] = attrs.flatMap(a =>
    a.fillValue.map(a.name -> TypedValue.parse(a.dataType, _))).toMap

  def dataTypeOf(name: String): DataType =
    dims.find(_.name == name).map(_.dataType)
      .orElse(attrs.find(_.name == name).map(_.dataType))
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))

  /** (column, declared storage type) pairs for guard enforcement. */
  def storageTyped: Seq[(String, StorageTypes.Storage)] =
    (dims.map(d => (d.name, d.storageType)) ++
      attrs.map(a => (a.name, a.storageType)))
      .collect { case (n, Some(st)) => (n, StorageTypes.get(st)) }

  /** Spark schema; dimension-ness and bounds ride in column metadata. */
  def toStruct: StructType = StructType(
    dims.map { d =>
      val mb = new MetadataBuilder().putBoolean("graft.dimension", true)
      d.lowerBound.foreach(mb.putString("graft.lower_bound", _))
      d.upperBound.foreach(mb.putString("graft.upper_bound", _))
      d.tileExtent.foreach(mb.putLong("graft.tile_extent", _))
      d.storageType.foreach(mb.putString("graft.storage_type", _))
      StructField(d.name, d.dataType, nullable = false, mb.build())
    } ++ attrs.map { a =>
      val mb = new MetadataBuilder()
      a.fillValue.foreach(mb.putString("graft.fill_value", _))
      if (a.enumValues.nonEmpty)
        mb.putStringArray("graft.enum_values", a.enumValues.toArray)
      a.storageType.foreach(mb.putString("graft.storage_type", _))
      a.codec.foreach(mb.putString("graft.codec", _))
      StructField(a.name, a.dataType, a.nullable, mb.build())
    })
}

/** One immutable fragment: files + row count + per-column stats
  * (MBRs for dims = pruning; min/max/sum/nullCount for attrs =
  * aggregate pushdown fast path). */
case class ColumnStats(
    min: Option[String], max: Option[String],
    nullCount: Long, sumLong: Option[Long], sumDouble: Option[Double])

case class FragmentMeta(
    id: String,
    timestamp: Long, // commit time, millis — the time-travel axis
    files: Seq[String], // relative to table URI
    rows: Long,
    stats: Map[String, ColumnStats],
    /** per-file column stats (file → col → stats): enables FILE-level
      * scan pruning when writes are cell-order clustered, the Spark
      * analog of tile-extent-aligned physical layout. */
    fileStats: Map[String, Map[String, ColumnStats]] = Map.empty,
    /** per-file row counts: with fileStats, lets aggregates under
      * pushed dim ranges answer from statistics alone when the range
      * covers whole files [ref: group_by_handler aggregates under the
      * pushed subarray, ha_mytile.cc:156–194]. Empty on pre-round-5
      * manifests → those scans fall back to data reads. */
    fileRows: Map[String, Long] = Map.empty,
    /** Bucketed fragment: every file holds exactly the rows whose
      * `pmod(hash(dim0), buckets)` equals its `fileBuckets` entry.
      * Set only by the bucketing library write path; its absence on
      * any visible fragment disables the co-located scan layout. */
    buckets: Option[Int] = None,
    fileBuckets: Map[String, Int] = Map.empty,
    /** Provenance tag, e.g. `stream:<sink>:<batchId>` from the
      * streaming sink. Because the manifest commit is the single atomic
      * file create, a replayed micro-batch can check for an existing
      * fragment with its tag and skip — exactly-once under Structured
      * Streaming's replay contract. */
    origin: Option[String] = None,
    /** Consolidation: ids of the fragments this fragment supersedes
      * (their latest-wins merge IS this fragment's content, committed
      * at their max timestamp). A superseded fragment is hidden from
      * any listing where its consolidated fragment is visible, and
      * reclaimed by vacuum. The single manifest create is the atomic
      * switch-over — readers see either the originals or the
      * consolidated fragment, never both. */
    replaces: Seq[String] = Nil,
    /** Tombstone (delete-condition) fragment: a PredJson-serialized
      * predicate masking matching CELLS of every fragment committed
      * BEFORE this one (the storage model's delete conditions —
      * versions written after the delete are untouched; time travel
      * below this timestamp still sees the rows). Tombstones carry no
      * data files. */
    deletePred: Option[String] = None,
    /** Row-level (MERGE/UPDATE/DELETE) coordinate deletes: parquet
      * files of DIMENSION tuples, relative to the table URI. Versions
      * of these coordinates committed BEFORE this fragment are masked;
      * this fragment's own `files` (the updated/inserted versions)
      * are not. Riding the same manifest as the data files makes the
      * whole row-level operation one atomic commit. */
    deleteCoordFiles: Seq[String] = Nil,
    /** Column order each FILE's rows are physically sorted by — set by
      * the cell-order clustering write paths (dims for ROW_MAJOR /
      * bucketed layouts, reversed dims for COL_MAJOR; empty for
      * HILBERT/UNORDERED and for writers that do not sort). When every
      * visible fragment agrees, the scan reports this as its output
      * ordering so Catalyst elides sorts over clustered reads
      * [ref: index-ordered reads, ha_mytile.cc:3501–3519]. */
    sortedBy: Seq[String] = Nil)

object ArraySchemaJson {
  private val M = new ObjectMapper()

  def toJson(s: ArraySchema): String = {
    val root = M.createObjectNode()
    root.put("kind", s.kind.toString)
    root.put("capacity", s.capacity)
    root.put("cellOrder", s.cellOrder)
    root.put("tileOrder", s.tileOrder)
    root.put("allowsDups", s.allowsDups)
    s.codec.foreach(root.put("codec", _))
    if (s.encrypted) root.put("encrypted", true)
    s.buckets.foreach(root.put("buckets", _))
    val dims = root.putArray("dims")
    s.dims.foreach { d =>
      val n = dims.addObject()
      n.put("name", d.name); n.put("type", d.dataType.json)
      d.lowerBound.foreach(n.put("lowerBound", _))
      d.upperBound.foreach(n.put("upperBound", _))
      d.tileExtent.foreach(n.put("tileExtent", _))
      d.storageType.foreach(n.put("storageType", _))
    }
    val attrs = root.putArray("attrs")
    s.attrs.foreach { a =>
      val n = attrs.addObject()
      n.put("name", a.name); n.put("type", a.dataType.json)
      n.put("nullable", a.nullable)
      a.fillValue.foreach(n.put("fillValue", _))
      if (a.enumValues.nonEmpty) {
        val e = n.putArray("enumValues"); a.enumValues.foreach(e.add)
      }
      a.storageType.foreach(n.put("storageType", _))
      a.codec.foreach(n.put("codec", _))
    }
    M.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def fromJson(json: String): ArraySchema = {
    val r = M.readTree(json)
    def optS(n: JsonNode, f: String) =
      if (n.has(f)) Some(n.get(f).asText) else None
    val dims = r.get("dims").elements().asScala.toSeq.map { n =>
      DimensionSpec(n.get("name").asText,
        DataType.fromJson(n.get("type").asText),
        optS(n, "lowerBound"), optS(n, "upperBound"),
        if (n.has("tileExtent")) Some(n.get("tileExtent").asLong) else None,
        optS(n, "storageType"))
    }
    val attrs = r.get("attrs").elements().asScala.toSeq.map { n =>
      AttributeSpec(n.get("name").asText,
        DataType.fromJson(n.get("type").asText),
        n.get("nullable").asBoolean,
        optS(n, "fillValue"),
        if (n.has("enumValues"))
          n.get("enumValues").elements().asScala.map(_.asText).toSeq
        else Nil,
        optS(n, "storageType"),
        optS(n, "codec"))
    }
    ArraySchema(ArrayKind.withName(r.get("kind").asText), dims, attrs,
      r.get("capacity").asLong, r.get("cellOrder").asText,
      r.get("tileOrder").asText, r.get("allowsDups").asBoolean,
      optS(r, "codec"),
      r.has("encrypted") && r.get("encrypted").asBoolean,
      if (r.has("buckets")) Some(r.get("buckets").asInt) else None)
  }

  private def putStats(parent: ObjectNode, key: String,
      stats: Map[String, ColumnStats]): Unit = {
    val node = parent.putObject(key)
    stats.foreach { case (c, st) =>
      val n = node.putObject(c)
      st.min.foreach(n.put("min", _)); st.max.foreach(n.put("max", _))
      n.put("nullCount", st.nullCount)
      st.sumLong.foreach(n.put("sumLong", _))
      st.sumDouble.foreach(n.put("sumDouble", _))
    }
  }

  def fragmentToJson(f: FragmentMeta): String = {
    val root = M.createObjectNode()
    root.put("id", f.id); root.put("timestamp", f.timestamp)
    root.put("rows", f.rows)
    f.origin.foreach(root.put("origin", _))
    f.deletePred.foreach(root.put("deletePred", _))
    if (f.deleteCoordFiles.nonEmpty) {
      val dcf = root.putArray("deleteCoordFiles")
      f.deleteCoordFiles.foreach(dcf.add)
    }
    if (f.replaces.nonEmpty) {
      val rep = root.putArray("replaces"); f.replaces.foreach(rep.add)
    }
    val files = root.putArray("files"); f.files.foreach(files.add)
    putStats(root, "stats", f.stats)
    val fsNode = root.putObject("fileStats")
    f.fileStats.foreach { case (file, st) => putStats(fsNode, file, st) }
    if (f.fileRows.nonEmpty) {
      val frNode = root.putObject("fileRows")
      f.fileRows.foreach { case (file, n) => frNode.put(file, n) }
    }
    f.buckets.foreach(root.put("buckets", _))
    if (f.fileBuckets.nonEmpty) {
      val fbNode = root.putObject("fileBuckets")
      f.fileBuckets.foreach { case (file, b) => fbNode.put(file, b) }
    }
    if (f.sortedBy.nonEmpty) {
      val sb = root.putArray("sortedBy"); f.sortedBy.foreach(sb.add)
    }
    M.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def readStats(n: JsonNode): Map[String, ColumnStats] =
    n.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> ColumnStats(
        if (v.has("min")) Some(v.get("min").asText) else None,
        if (v.has("max")) Some(v.get("max").asText) else None,
        v.get("nullCount").asLong,
        if (v.has("sumLong")) Some(v.get("sumLong").asLong) else None,
        if (v.has("sumDouble")) Some(v.get("sumDouble").asDouble) else None)
    }.toMap

  def fragmentFromJson(json: String): FragmentMeta = {
    val r = M.readTree(json)
    val fileStats =
      if (r.has("fileStats"))
        r.get("fileStats").properties().asScala.map { e =>
          e.getKey -> readStats(e.getValue)
        }.toMap
      else Map.empty[String, Map[String, ColumnStats]]
    val fileRows =
      if (r.has("fileRows"))
        r.get("fileRows").properties().asScala.map { e =>
          e.getKey -> e.getValue.asLong
        }.toMap
      else Map.empty[String, Long]
    FragmentMeta(r.get("id").asText, r.get("timestamp").asLong,
      r.get("files").elements().asScala.map(_.asText).toSeq,
      r.get("rows").asLong, readStats(r.get("stats")), fileStats, fileRows,
      buckets = if (r.has("buckets")) Some(r.get("buckets").asInt) else None,
      fileBuckets =
        if (r.has("fileBuckets"))
          r.get("fileBuckets").properties().asScala.map { e =>
            e.getKey -> e.getValue.asInt
          }.toMap
        else Map.empty,
      origin = if (r.has("origin")) Some(r.get("origin").asText) else None,
      replaces =
        if (r.has("replaces"))
          r.get("replaces").elements().asScala.map(_.asText).toSeq
        else Nil,
      deletePred =
        if (r.has("deletePred")) Some(r.get("deletePred").asText) else None,
      deleteCoordFiles =
        if (r.has("deleteCoordFiles"))
          r.get("deleteCoordFiles").elements().asScala.map(_.asText).toSeq
        else Nil,
      sortedBy =
        if (r.has("sortedBy"))
          r.get("sortedBy").elements().asScala.map(_.asText).toSeq
        else Nil)
  }

  def metaToJson(kv: Map[String, String]): String = {
    val root = M.createObjectNode()
    kv.foreach { case (k, v) => root.put(k, v) }
    M.writeValueAsString(root)
  }

  def metaFromJson(json: String): Map[String, String] = {
    val r = M.readTree(json)
    r.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }
}
