package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Distinct fragment files the array scans of `df`'s executed plan
    * read: a packed partition reads several, so partitions are not
    * files. */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions
    }.flatten.collect {
      case p: graft.sources.v2.GraftInputPartition => p.files.map(_._1)
    }.flatten.distinct
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(8)
}
