package graft

import org.apache.spark.sql.DataFrame
import graft.sources.GraftArray
import graft.streaming.EventPipeline

/** The three ways rows enter an array — `GraftArray.write`, SQL INSERT
  * and the streaming sink's batch commit — for properties that must
  * hold on each of them. */
trait WriteEntries { self: SparkSpec =>

  val entries: Seq[String] = Seq("GraftArray.write", "SQL INSERT", "commitStreamBatch")

  private val batchIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Appends `df` through `entry` to catalog table `table`, whose array
    * lives at `uri`. */
  def append(entry: String, df: DataFrame, table: String, uri: String): Unit =
    entry match {
      case "GraftArray.write" => GraftArray.write(spark, uri, df)
      case "SQL INSERT" =>
        val view = "write_entry_" + batchIds.getAndIncrement()
        df.createOrReplaceTempView(view)
        try spark.sql(s"INSERT INTO $table SELECT " +
          s"${spark.table(table).columns.mkString(", ")} FROM $view").collect()
        finally spark.catalog.dropTempView(view)
      case "commitStreamBatch" =>
        EventPipeline.commitStreamBatch(df, uri, "entries", batchIds.getAndIncrement())
    }

  def fragDirs(uri: String): Set[String] =
    Option(new java.io.File(uri).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("frag_")).toSet

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** `df` is rejected on every entry with a message that `expect`
    * accepts, and leaves the array as it was: no fragment committed and
    * no `frag_*` directory left behind. */
  def assertRejected(df: DataFrame, table: String, uri: String)
      (expect: String => Boolean): Unit =
    entries.foreach { entry =>
      val frags = GraftArray.fragments(spark, uri).map(_.id)
      val dirs = fragDirs(uri)
      val e = intercept[Exception](append(entry, df, table, uri))
      assert(messages(e).exists(expect), s"$entry: ${messages(e).mkString(" | ")}")
      assert(GraftArray.fragments(spark, uri).map(_.id) == frags, s"$entry committed")
      assert(fragDirs(uri) == dirs, s"$entry left ${fragDirs(uri) -- dirs}")
    }
}
