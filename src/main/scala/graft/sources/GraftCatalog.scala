package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core._
import graft.sources.v2.GraftTable
import scala.jdk.CollectionConverters._

/** `TableCatalog` over a warehouse directory of graft arrays — the
  * Spark seat of the reference's discovery + DDL surface:
  *
  *  - `loadTable("t")` discovers schema from the array manifest (S5,
  *    mytile-discovery.cc:42–473)
  *  - `t@<unix_millis>` time-travel identifier sugar (S7, utils.h:53)
  *  - `t@metadata` key/value virtual table (S6, ha_mytile.cc:1583–1751)
  *  - `createTable` with properties `graft.dimensions`, `graft.dense`,
  *    `graft.capacity`, per-column `graft.fill.<col>` (S10)
  *  - `alterTable` ADD/DROP COLUMN → schema evolution (S12)
  *  - `dropTable` honoring `graft.delete_arrays` (S11)
  *  - `CALL cat.consolidate('t')` / `CALL cat.vacuum('t')` — fragment
  *    maintenance (the reference declares the OPTIMIZE TABLE hook,
  *    HA_CONCURRENT_OPTIMIZE ha_mytile.cc:2948; the storage model's
  *    consolidate/vacuum pair is its content)
  *
  * Register: `spark.sql.catalog.graft=graft.sources.GraftCatalog`
  *           `spark.sql.catalog.graft.warehouse=/path`
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  private var deleteArrays = true
  private def spark = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option 'warehouse'"))
    deleteArrays = Option(options.get("delete_arrays")).forall(_.toBoolean)
  }

  override def name(): String = catalogName

  private def uriOf(ident: Identifier, base: String): String =
    (ident.namespace() :+ base).foldLeft(warehouse)(_ + "/" + _)

  /** Split `name@suffix` sugar: (base, sinceMillis, asOfMillis,
    * isMetadata). `@<ts>` = as-of; `@<ts1>..<ts2>` = window (both
    * inclusive — incremental read); `@<ts1>..` = everything since. */
  private def parse(ident: Identifier)
      : (String, Option[Long], Option[Long], Boolean) = {
    val n = ident.name()
    n.lastIndexOf('@') match {
      case -1 => (n, None, None, false)
      case i =>
        val suffix = n.substring(i + 1)
        def num(s: String): Option[Long] =
          if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
        if (suffix == "metadata") (n.substring(0, i), None, None, true)
        else if (suffix.contains("..")) {
          def bad() = throw new IllegalArgumentException(
            s"bad identifier suffix '@$suffix' — expected " +
              "@<ts1>..<ts2> or @<ts1>.. (window, unix_millis)")
          suffix.split("\\.\\.", -1) match {
            case Array(lo, hi) =>
              (num(lo), if (hi.isEmpty) Some(None) else num(hi).map(Some(_))) match {
                case (Some(s), Some(e)) => (n.substring(0, i), Some(s), e, false)
                case _ => bad()
              }
            case _ => bad() // e.g. '1..2..3'
          }
        }
        else if (suffix.nonEmpty && suffix.forall(_.isDigit))
          (n.substring(0, i), None, Some(suffix.toLong), false)
        else throw new IllegalArgumentException(
          s"bad identifier suffix '@$suffix' — expected @<unix_millis> " +
            "(time travel), @<ts1>..<ts2> (window) or @metadata")
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val (base, since, asOf, isMeta) = parse(ident)
    val uri = uriOf(ident, base)
    subsetRegistration(uri) match {
      case Some((target, cols)) =>
        return new GraftTable(spark, target, asOf, Some(cols), since)
      case None => ()
    }
    if (!GraftArray.exists(spark, uri))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    if (isMeta) new MetadataTable(spark, uri, ident.toString)
    else new GraftTable(spark, uri, asOf, since = since)
  }

  override def tableExists(ident: Identifier): Boolean = {
    val (base, _, _, _) = parse(ident)
    val uri = uriOf(ident, base)
    GraftArray.exists(spark, uri) || subsetRegistration(uri).isDefined
  }

  // ---- subset registration (S14) -----------------------------------
  // A table over an EXISTING array exposing a column subset
  // [t/create_allow_subset_existing_array.test]: persisted as a tiny
  // _subset.json {target, columns} next to nothing else — the array
  // stays where it is and keeps full ownership of its fragments.

  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def subsetPath(uri: String) =
    new org.apache.hadoop.fs.Path(uri, "_subset.json")

  private def subsetRegistration(uri: String): Option[(String, Seq[String])] = {
    val p = subsetPath(uri)
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      Some((node.get("target").asText,
        node.get("columns").elements().asScala.map(_.asText).toSeq))
    }
  }

  private def writeSubsetRegistration(uri: String, target: String,
      cols: Seq[String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("target", target)
    val arr = root.putArray("columns"); cols.foreach(arr.add)
    val p = subsetPath(uri)
    val out = fs(p).create(p, false)
    try out.write(m.writeValueAsBytes(root)) finally out.close()
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table = {
    val props = properties.asScala
    // S14: CREATE TABLE ... over an existing array with a column subset
    props.get("graft.subset_of").foreach { targetName =>
      require(props.get("graft.allow_subset").exists(_.toBoolean),
        "registering over an existing array requires " +
          "'graft.allow_subset'='true' " +
          "[t/create_allow_subset_existing_array.test]")
      val target =
        if (targetName.contains("/")) targetName
        else (ident.namespace() :+ targetName).foldLeft(warehouse)(_ + "/" + _)
      val full = GraftArray.store(spark, target).loadSchema()
      val names = schema.fieldNames.toSeq
      names.foreach { n =>
        val dt = full.dataTypeOf(n) // throws on unknown column
        require(dt == schema.fields.find(_.name == n).get.dataType,
          s"subset column $n: type mismatch vs existing array ($dt)")
      }
      require(full.dimNames.forall(names.contains),
        s"subset must include every dimension (${full.dimNames})")
      val uri = uriOf(ident, ident.name())
      writeSubsetRegistration(uri, target, names)
      return new GraftTable(spark, target, None, Some(names))
    }
    val dimNames: Seq[String] =
      props.get("graft.dimensions").map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq(schema.fields.head.name)) // first col defaults to dim
    val kind = if (props.get("graft.dense").exists(_.toBoolean))
      ArrayKind.Dense else ArrayKind.Sparse
    // 'graft.type.<col>' declares the reference-engine storage type
    // (UINT32, TIME_SEC, DATETIME_NS, …) — must agree with the declared
    // Spark column type per the StorageTypes mapping (SURVEY §1.2)
    def storageOf(n: String): Option[String] =
      props.get(s"graft.type.$n").map(_.toUpperCase)
    val dims = dimNames.map { n =>
      val f = schema.fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"dimension $n not in schema"))
      DimensionSpec(n, f.dataType,
        props.get(s"graft.lower.$n"), props.get(s"graft.upper.$n"),
        props.get(s"graft.extent.$n").map(_.toLong),
        storageOf(n))
    }
    val attrs = schema.fields.filterNot(f => dimNames.contains(f.name)).map {
      f => AttributeSpec(f.name, f.dataType, f.nullable,
        props.get(s"graft.fill.${f.name}"),
        // SQL ENUM ⇄ TileDB Enumeration [ha_mytile.cc:1330–1351]
        enumValues = props.get(s"graft.enum.${f.name}")
          .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil),
        storageType = storageOf(f.name),
        // per-attribute filter-list analog [ha_mytile.cc:1353–1378]
        codec = props.get(s"graft.codec.${f.name}").map(Codecs.normalize))
    }.toSeq
    val arr = ArraySchema(kind, dims, attrs,
      capacity = props.get("graft.capacity").map(_.toLong).getOrElse(10000L),
      allowsDups = props.get("graft.allows_dups").exists(_.toBoolean),
      codec = props.get("graft.codec").map(Codecs.normalize),
      // flag only — the AES key rides the session conf
      // (spark.graft.encryption.key), never the DDL or the manifest
      encrypted = props.get("graft.encrypted").exists(_.toBoolean),
      buckets = props.get("graft.buckets").map(_.toInt))
    val uri = uriOf(ident, ident.name())
    GraftArray.create(spark, uri, arr)
    new GraftTable(spark, uri)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val uri = uriOf(ident, ident.name())
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1, "nested columns unsupported")
        GraftArray.addColumn(spark, uri, AttributeSpec(
          add.fieldNames()(0), add.dataType(), add.isNullable))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1, "nested columns unsupported")
        GraftArray.dropColumn(spark, uri, del.fieldNames()(0))
      case other => throw new UnsupportedOperationException(
        s"alter not supported: $other") // [ha_mytile.cc:963–1028 parity]
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val uri = uriOf(ident, ident.name())
    if (subsetRegistration(uri).isDefined) {
      // dropping a subset registration never touches the target array
      val dir = new org.apache.hadoop.fs.Path(uri)
      fs(dir).delete(dir, true)
      true
    } else if (!GraftArray.exists(spark, uri)) false
    else { GraftArray.drop(spark, uri, deleteArrays); deleteArrays }
  }

  override def renameTable(old: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("rename not supported")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new org.apache.hadoop.fs.Path(
      namespace.foldLeft(warehouse)(_ + "/" + _))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      // a listed table is an array OR a subset registration (a
      // directory holding only _subset.json) — the same resolution set
      // tableExists/loadTable accept, so SHOW TABLES and reads agree
      .filter { n =>
        val uri = namespace.foldLeft(warehouse)(_ + "/" + _) + "/" + n
        GraftArray.exists(spark, uri) || subsetRegistration(uri).isDefined
      }
      .map(Identifier.of(namespace, _))
  }

  // ---- namespaces (flat directories) -------------------------------
  override def listNamespaces(): Array[Array[String]] = Array(Array.empty)
  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    Array.empty
  override def loadNamespaceMetadata(ns: Array[String])
      : util.Map[String, String] = new util.HashMap()
  override def createNamespace(ns: Array[String],
      meta: util.Map[String, String]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(ns.foldLeft(warehouse)(_ + "/" + _))
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(dir)
  }
  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException()
  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean =
    false

  // ---- procedures: CALL cat.consolidate('t') / cat.vacuum('t') ------
  // Fragment maintenance (the reference's OPTIMIZE TABLE hook,
  // HA_CONCURRENT_OPTIMIZE ha_mytile.cc:2948). Executed at CALL time
  // via the DSv2 procedure API; each returns a one-row result.

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "consolidate"),
      Identifier.of(namespace, "vacuum"),
      Identifier.of(namespace, "rebucket"),
      Identifier.of(namespace, "rollback"),
      Identifier.of(namespace, "compact_small"),
      Identifier.of(namespace, "delete_fragments"),
      Identifier.of(namespace, "build_pair_index"),
      Identifier.of(namespace, "stage_media"))

  override def loadProcedure(ident: Identifier)
      : procedures.UnboundProcedure =
    ident.name().toLowerCase match {
      case op @ ("consolidate" | "vacuum" | "rebucket" | "rollback"
                 | "compact_small" | "delete_fragments") =>
        new GraftFragmentProcedure(op, this)
      case op @ ("build_pair_index" | "stage_media") =>
        new GraftArtifactProcedure(op)
      case other => throw new IllegalArgumentException(
        s"unknown procedure '$other' — expected consolidate, vacuum, " +
          "rebucket, rollback, compact_small, delete_fragments, " +
          "build_pair_index or stage_media")
    }

  private[sources] def tableUriOf(dotted: String): String =
    dotted.split('.').foldLeft(warehouse)(_ + "/" + _)

  // ---- FunctionCatalog: the engine's kernels as SQL functions -------
  // `SELECT cat.cosine(a, b)`, `cat.simhash(text)`, … — see
  // GraftSqlFunctions for the inventory and parity guarantees.

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    graft.functions.GraftSqlFunctions.all
      .map(f => Identifier.of(namespace, f.name)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    graft.functions.GraftSqlFunctions.byName(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))
}

/** `CALL` surface for fragment maintenance: `consolidate(table)` merges
  * all visible fragments into one (returns its timestamp, NULL when
  * fewer than two fragments exist); `vacuum(table)` reclaims superseded
  * fragments (returns the count removed). */
class GraftFragmentProcedure(op: String, cat: GraftCatalog)
  extends procedures.UnboundProcedure {
  override def name(): String = op
  override def description(): String = op match {
    case "consolidate" =>
      "merge all visible fragments of a graft array into one"
    case "rebucket" =>
      "change a graft array's bucket count and rewrite it bucket-complete"
    case "rollback" =>
      "restore a graft array to a past instant as a new commit"
    case "compact_small" =>
      "merge adjacent runs of small fragments, leaving large ones untouched"
    case "delete_fragments" =>
      "physically delete the fragments committed in a timestamp window"
    case _ => "reclaim fragments superseded by consolidation"
  }

  override def bind(inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = op
      override def description(): String =
        GraftFragmentProcedure.this.description()
      override def parameters(): Array[procedures.ProcedureParameter] =
        if (op == "rebucket")
          Array(procedures.ProcedureParameter.in("table", StringType).build(),
            procedures.ProcedureParameter.in("buckets", IntegerType).build())
        else if (op == "rollback")
          Array(procedures.ProcedureParameter.in("table", StringType).build(),
            procedures.ProcedureParameter.in("ts", LongType).build())
        else if (op == "compact_small")
          Array(procedures.ProcedureParameter.in("table", StringType).build(),
            procedures.ProcedureParameter.in("max_rows", LongType).build())
        else if (op == "delete_fragments")
          Array(procedures.ProcedureParameter.in("table", StringType).build(),
            procedures.ProcedureParameter.in("ts_start", LongType).build(),
            procedures.ProcedureParameter.in("ts_end", LongType).build())
        else
          Array(procedures.ProcedureParameter.in("table", StringType).build())
      override def isDeterministic: Boolean = false

      override def call(input: InternalRow)
          : util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val spark = SparkSession.active
        // destructive admin verbs must not unbox NULL args to 0 —
        // CALL rollback('t', NULL) would otherwise silently restore
        // to ts=0 (emptying the table) and rebucket('t', NULL) would
        // silently REMOVE bucketing
        require(!input.isNullAt(0), s"$op: table must not be NULL")
        if (op == "rebucket") require(!input.isNullAt(1),
          "rebucket: buckets must not be NULL (pass n <= 0 explicitly " +
            "to remove bucketing)")
        if (op == "rollback") require(!input.isNullAt(1),
          "rollback: ts must not be NULL")
        if (op == "compact_small") require(!input.isNullAt(1),
          "compact_small: max_rows must not be NULL")
        if (op == "delete_fragments")
          require(!input.isNullAt(1) && !input.isNullAt(2),
            "delete_fragments: ts_start and ts_end must not be NULL " +
              "(a NULL bound would silently widen the window to epoch/∞)")
        val uri = cat.tableUriOf(input.getUTF8String(0).toString)
        val (outSchema, row) =
          if (op == "consolidate") {
            val ts = GraftArray.consolidate(spark, uri)
            (StructType(Seq(StructField("consolidated_ts", LongType))),
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](ts.map(Long.box).orNull)))
          } else if (op == "rebucket") {
            val ts = GraftArray.rebucket(spark, uri, input.getInt(1))
            (StructType(Seq(StructField("rebucketed_ts", LongType))),
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](ts.map(Long.box).orNull)))
          } else if (op == "rollback") {
            val ts = GraftArray.rollback(spark, uri, input.getLong(1))
            (StructType(Seq(StructField("restored_ts", LongType))),
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](ts.map(Long.box).orNull)))
          } else if (op == "delete_fragments") {
            val n = GraftArray.deleteFragments(spark, uri,
              input.getLong(1), input.getLong(2))
            (StructType(Seq(StructField("removed_fragments", IntegerType))),
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](n)))
          } else if (op == "compact_small") {
            val (runs, absorbed) =
              GraftArray.consolidateSmall(spark, uri, input.getLong(1))
            (StructType(Seq(StructField("compacted_runs", IntegerType),
              StructField("absorbed_fragments", IntegerType))),
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](runs, absorbed)))
          } else {
            val n = GraftArray.vacuum(spark, uri)
            (StructType(Seq(StructField("removed_fragments", IntegerType))),
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](n)))
          }
        val scan: org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.LocalScan {
            override def rows(): Array[InternalRow] = Array(row)
            override def readSchema(): StructType = outSchema
          }
        util.List.of(scan).iterator()
      }
    }
}

/** `CALL` surface for the cross-process derived-artifact builders
  * (graft.core.Artifacts): `build_pair_index(dir)` measures the
  * d13/d16 pair table for a dataset directory; `stage_media(dir,
  * kind)` encodes the real-codec media corpus (`kind` ∈ png/wav/gif).
  * Both are idempotent — a warm artifact (same source signature)
  * returns its path without rebuilding, so a deployment can schedule
  * them like consolidate/vacuum and query processes always find the
  * artifacts warm. */
class GraftArtifactProcedure(op: String)
  extends procedures.UnboundProcedure {
  override def name(): String = op
  override def description(): String = op match {
    case "build_pair_index" =>
      "build (or find warm) the measured Jaccard pair index for a dataset"
    case _ =>
      "stage (or find warm) the encoded media corpus for a dataset"
  }

  override def bind(inputType: StructType): procedures.BoundProcedure =
    new procedures.BoundProcedure {
      override def name(): String = op
      override def description(): String =
        GraftArtifactProcedure.this.description()
      override def parameters(): Array[procedures.ProcedureParameter] =
        if (op == "stage_media")
          Array(procedures.ProcedureParameter.in("dir", StringType).build(),
            procedures.ProcedureParameter.in("kind", StringType).build())
        else
          Array(procedures.ProcedureParameter.in("dir", StringType).build())
      override def isDeterministic: Boolean = false

      override def call(input: InternalRow)
          : util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val spark = SparkSession.active
        require(!input.isNullAt(0), s"$op: dir must not be NULL")
        val dir = input.getUTF8String(0).toString
        val path =
          if (op == "build_pair_index")
            graft.operators.Dedup.buildPairIndex(spark, dir)
          else {
            require(!input.isNullAt(1), "stage_media: kind must not be NULL")
            graft.operators.Multimodal.stageMediaKind(spark, dir,
              input.getUTF8String(1).toString)
          }
        val outSchema =
          StructType(Seq(StructField("artifact_path", StringType)))
        val row =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](org.apache.spark.unsafe.types.UTF8String
              .fromString(path)))
        val scan: org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.LocalScan {
            override def rows(): Array[InternalRow] = Array(row)
            override def readSchema(): StructType = outSchema
          }
        util.List.of(scan).iterator()
      }
    }
}

/** `t@metadata` virtual table: 2 columns (key, value)
  * [ref: mytile-discovery.cc:566–567]. */
class MetadataTable(spark: SparkSession, uri: String, ident: String)
  extends Table with SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.catalyst.InternalRow

  override def name(): String = ident
  override def schema(): StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType)))
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        private val kv = GraftArray.store(spark, uri)
          .loadMetadata().toSeq.sortBy(_._1)
        override def readSchema(): StructType = schema()
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          Array(MetaPartition(kv))
        override def createReaderFactory(): PartitionReaderFactory =
          new PartitionReaderFactory {
            override def createReader(p: InputPartition)
                : PartitionReader[InternalRow] = {
              val rows = p.asInstanceOf[MetaPartition].kv.iterator
              new PartitionReader[InternalRow] {
                private var cur: (String, String) = _
                override def next(): Boolean =
                  if (rows.hasNext) { cur = rows.next(); true } else false
                override def get(): InternalRow =
                  org.apache.spark.sql.catalyst.InternalRow(
                    org.apache.spark.unsafe.types.UTF8String.fromString(cur._1),
                    org.apache.spark.unsafe.types.UTF8String.fromString(cur._2))
                override def close(): Unit = ()
              }
            }
          }
      }
    }
}

case class MetaPartition(kv: Seq[(String, String)])
  extends org.apache.spark.sql.connector.read.InputPartition

/** Session-catalog helpers shared by the driver queries that expose a
  * graft catalog under a FIXED name (arr29's `gis29`, t6's `gfn6`):
  * registration is memoized per session and SYNCHRONIZED — the naive
  * check-then-set on session conf is a race that can orphan a
  * warehouse dir under concurrent query construction. */
object GraftCatalogs {
  def ensure(s: org.apache.spark.sql.SparkSession, name: String,
      warehousePrefix: String): Unit = synchronized {
    if (s.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$name.warehouse",
        graft.core.TempDirs.fresh(warehousePrefix))
      // the catalog impl key is set LAST: a concurrent reader that
      // sees the catalog registered also sees its warehouse
      s.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    }
  }
}
