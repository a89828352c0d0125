package graft.core

import org.apache.spark.sql.types._

/** The reference engine's full storage-type surface mapped onto Spark
  * types (SURVEY §1.2; mytile.cc:14–264 both directions, unsigned
  * detection mytile.cc:385–398, epoch conversions mytile.cc:475–548).
  *
  * Spark has no unsigned / TIME / sub-µs timestamp types, so columns
  * declared with one of these storage types surface as the next-wider
  * signed Spark type (u8→Short, u16→Int, u32→Long, u64→Decimal(20,0))
  * or as a raw unit count (TIME_* → µs-of-day long; DATETIME_{NS..AS}
  * → int64 unit count), with:
  *
  *  - the storage-type name persisted in the schema manifest and
  *    surfaced in Spark column metadata (`graft.storage_type`), so a
  *    reader can recover the declared semantics;
  *  - write-side domain guards (a u16 column rejects 70000 the same
  *    way the reference's unsigned column would);
  *  - µs-edge conversions in [[graft.functions.StorageFunctions]] for
  *    the temporal unit counts.
  */
object StorageTypes {

  /** One storage type: its Spark surface plus the inclusive value
    * domain enforced on write (None = unguarded). Guard bounds are in
    * the column's Spark type domain (string-encoded like fill values).
    */
  case class Storage(
      name: String,
      sparkType: DataType,
      guardLo: Option[String],
      guardHi: Option[String])

  private def s(n: String, dt: DataType, lo: String = null, hi: String = null) =
    n -> Storage(n, dt, Option(lo), Option(hi))

  private val MicrosPerDay = 86400000000L

  /** micros-per-unit multipliers for the whole-µs-or-coarser units. */
  val unitMicros: Map[String, Long] = Map(
    "HR" -> 3600000000L, "MIN" -> 60000000L, "SEC" -> 1000000L,
    "MS" -> 1000L, "US" -> 1L)

  /** units-per-µs divisors for the sub-µs units (truncating). */
  val unitsPerMicro: Map[String, Long] = Map(
    "NS" -> 1000L, "PS" -> 1000000L, "FS" -> 1000000000L,
    "AS" -> 1000000000000L)

  val all: Map[String, Storage] = Map(
    // signed integrals — identity mappings [mytile.cc:30–56]
    s("INT8", ByteType), s("INT16", ShortType),
    s("INT32", IntegerType), s("INT64", LongType),
    // unsigned — widened signed Spark type + domain guard
    // [mytile.cc:184–211, 385–398]
    s("UINT8", ShortType, "0", "255"),
    s("UINT16", IntegerType, "0", "65535"),
    s("UINT32", LongType, "0", "4294967295"),
    s("UINT64", DecimalType(20, 0), "0", "18446744073709551615"),
    // floating / bool / text / blob [mytile.cc:20–28, 63–76, 184–197]
    s("FLOAT32", FloatType), s("FLOAT64", DoubleType),
    s("BOOL", BooleanType),
    s("STRING_ASCII", StringType), s("STRING_UTF8", StringType),
    // UTF-16/32 and UCS-2/4 string attributes surface as StringType
    // (Spark strings are UTF-8 in flight) and charset-convert at the
    // storage/interchange edge like the TIME_*/DATETIME_* unit counts
    // [mytile.cc:218–224, 896–923]
    s("STRING_UTF16", StringType), s("STRING_UTF32", StringType),
    s("STRING_UCS2", StringType), s("STRING_UCS4", StringType),
    s("BLOB", BinaryType),
    // datetimes [mytile.cc:78–86, 226–243]: DAY→date, YEAR→int,
    // SEC/MS/US→µs timestamp (ingest-edge conversion),
    // NS..AS→raw int64 unit count (no truncation in storage)
    s("DATETIME_DAY", DateType),
    s("DATETIME_YEAR", IntegerType),
    s("DATETIME_SEC", TimestampType), s("DATETIME_MS", TimestampType),
    s("DATETIME_US", TimestampType),
    s("DATETIME_NS", LongType), s("DATETIME_PS", LongType),
    s("DATETIME_FS", LongType), s("DATETIME_AS", LongType),
    // TIME_* [mytile.cc:88–90, 245–254]: Spark has no TIME — the
    // surface is µs-of-day (long), guarded to one day
    s("TIME_HR", LongType, "0", (MicrosPerDay - 1).toString),
    s("TIME_MIN", LongType, "0", (MicrosPerDay - 1).toString),
    s("TIME_SEC", LongType, "0", (MicrosPerDay - 1).toString),
    s("TIME_MS", LongType, "0", (MicrosPerDay - 1).toString),
    s("TIME_US", LongType, "0", (MicrosPerDay - 1).toString),
    s("TIME_NS", LongType, "0", (MicrosPerDay - 1).toString),
    s("TIME_PS", LongType, "0", (MicrosPerDay - 1).toString),
    s("TIME_FS", LongType, "0", (MicrosPerDay - 1).toString),
    s("TIME_AS", LongType, "0", (MicrosPerDay - 1).toString))

  /** Java charset of each charset-converted string storage type — the
    * byte representation external systems exchange through
    * [[graft.functions.StorageFunctions]]. UCS-2 is the BMP-only
    * fixed-2-byte subset of UTF-16; UCS-4 coincides with UTF-32
    * [mytile.cc:218–224, 896–923]. */
  val charsetOf: Map[String, String] = Map(
    "STRING_ASCII" -> "US-ASCII", "STRING_UTF8" -> "UTF-8",
    "STRING_UTF16" -> "UTF-16LE", "STRING_UCS2" -> "UTF-16LE",
    "STRING_UTF32" -> "UTF-32", "STRING_UCS4" -> "UTF-32")

  /** Charset-limited repertoires enforced on write (the reference's
    * ascii/ucs2 columns reject unrepresentable characters the same
    * way its unsigned columns reject out-of-domain numbers). */
  val asciiOnly: Set[String] = Set("STRING_ASCII")
  val bmpOnly: Set[String] = Set("STRING_UCS2")

  def get(name: String): Storage = all.getOrElse(name.toUpperCase,
    throw new IllegalArgumentException(s"unknown storage type $name"))

  def sparkTypeOf(name: String): DataType = get(name).sparkType
}
