package graft

/** Bench, Verify, ScaleGen and the suites build their session through
  * [[GraftSession]], so the oracle runs under the join strategies the
  * bench times. */
class GraftSessionSpec extends SparkSpec {
  test("Bench's and Verify's session confs are the suites' confs") {
    // Bench and Verify both call GraftSession.local() at
    // SPARK_GRAFT_CPUS cores; the suites call it at 8. The set differs
    // by core count in the shuffle partitions only.
    val entry = GraftSession.sqlConfs(GraftSession.envCores)
    val suites = GraftSession.sqlConfs(8)
    assert(entry.keySet == suites.keySet)
    assert((entry -- Seq("spark.sql.shuffle.partitions")) ==
      (suites -- Seq("spark.sql.shuffle.partitions")))
    assert(entry("spark.sql.autoBroadcastJoinThreshold") == "64m")
    // the factory applies every conf of the set (the build-time conf,
    // which no suite's runtime conf.set can move)
    val built = spark.sparkContext.getConf
    suites.foreach { case (k, v) => assert(built.get(k) == v, k) }
  }
}
