package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`scripts/check.py`). The
  * session is the bench's ([[GraftSession]]), so the oracle checks the
  * plans the bench times. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names, so a single query
    // can be gated without re-running the whole surface
    val (sfDir, outDir, keep) = args match {
      case Array(s, o)    => (s, o, SparkEntry.nameFilter(None))
      case Array(s, o, f) => (s, o, SparkEntry.nameFilter(Some(f)))
    }
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output so a failure can't be masked by a
        // previous run's result in the same outDir
        try org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"$outDir/$name"))
        catch { case _: Throwable => () }
      }
    }
    val q = SparkEntry.jsonString _
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
