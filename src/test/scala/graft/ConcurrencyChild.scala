package graft

import org.apache.spark.sql.functions._

/** Forked-JVM writer for ConcurrencySpec's cross-process commit race:
  * a SEPARATE process (own SparkSession, own FragmentStore caches,
  * own now() clock) appending fragments to a shared warehouse array.
  * The rename-based commit protocol must hold across processes, not
  * just across threads of one JVM. Writes `waves` fragments of 100
  * disjoint keys each, keyed by writer id; exits non-zero on any
  * failure so the parent test sees it. */
object ConcurrencyChild {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.local(2)
    try args match {
      // race the derived-artifact BUILDER cross-process: two JVMs
      // resolving the same (kind, dataset, sig) must converge on one
      // published artifact via the rename protocol
      case Array("pair", dir, root) =>
        s.conf.set("spark.graft.artifacts.dir", root)
        println("PATH=" + graft.operators.Dedup.buildPairIndex(s, dir))
      case Array(uri, idStr, wavesStr) =>
        val id = idStr.toInt
        val waves = wavesStr.toInt
        for (w <- 0 until waves) {
          val lo = (id * waves + w) * 100L
          graft.sources.GraftArray.write(s, uri,
            s.range(lo, lo + 100)
              .select(col("id").as("k"), lit(id.toDouble).as("v")))
        }
    } finally s.stop()
    sys.exit(0)
  }
}
