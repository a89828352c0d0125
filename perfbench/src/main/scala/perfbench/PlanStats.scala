package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.sources.v2.GraftInputPartition

/** What one executed read planned in the array scan layer, taken from
  * its physical plan after it ran (traced run only). */
final case class ScanFacts(partitions: Int, files: Int, rowsScanned: Long,
    statsOnly: Boolean, merged: Boolean)

object PlanStats extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): ScanFacts = {
    val scans = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
    val parts = scans.flatMap(_.inputPartitions)
    val graftParts = parts.collect { case p: GraftInputPartition => p }
    ScanFacts(
      partitions = parts.size,
      files = graftParts.flatMap(_.files.map(_._1)).distinct.size,
      rowsScanned = scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum,
      statsOnly = scans.nonEmpty && scans.forall(_.scan.description().contains("stats-only")),
      merged = graftParts.exists(_.needDedup))
  }

  /** Bytes of every file under `dir`. */
  def diskBytes(dir: File): Long =
    if (dir.isFile) dir.length
    else Option(dir.listFiles()).map(_.map(diskBytes).sum).getOrElse(0L)
}

/** Accumulates ScanFacts over the ops of the timed window. */
final class ScanTally {
  private var ops, parts, files, visible, scanned, returned = 0L
  private var aggOps, statsOnly, merged = 0L
  def add(f: ScanFacts, visibleFiles: Int, rowsReturned: Long, isAgg: Boolean): Unit = {
    ops += 1; parts += f.partitions; scanned += f.rowsScanned; returned += rowsReturned
    if (visibleFiles > 0 && !f.statsOnly) { files += f.files; visible += visibleFiles }
    if (isAgg) { aggOps += 1; if (f.statsOnly) statsOnly += 1 }
    if (f.merged) merged += 1
  }
  private def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
  def metrics: Map[String, Double] = Map(
    "v2.partitions_per_op" -> ratio(parts, ops),
    "v2.files_pruned_ratio" -> ratio(files, visible),
    "v2.rows_scanned_per_row_returned" -> ratio(scanned, returned),
    "v2.stats_only_agg_ratio" -> ratio(statsOnly, aggOps),
    "v2.merge_ops_ratio" -> ratio(merged, ops))
}
