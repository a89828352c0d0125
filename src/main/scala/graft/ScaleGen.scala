package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only data generator for the sf≥1 scaling spot-bench (round-13
  * verdict #5): replicate the sf0.1 tables R× with deterministic
  * per-replica perturbation so the result is a BIGGER corpus, not R
  * copies of the same one —
  *
  *  - documents: per-replica character rotation over the 10 most
  *    frequent letters (`translate`) — a bijection per replica, so
  *    WITHIN a replica the dup/near-dup structure is preserved
  *    exactly, while ACROSS replicas every shingle differs (no
  *    phantom R² near-dup clusters);
  *  - embeddings: arrays rotated by replica index — norms preserved,
  *    directions decorrelated;
  *  - events: ids/users shifted per replica, timestamps jittered by
  *    replica minutes (same windows, more keys per window);
  *  - lineitem: keys shifted per replica.
  *
  * Usage: `runMain graft.ScaleGen /tmp/sf1 10` (R defaults to 10).
  * Deterministic: same inputs → same bytes modulo parquet encoding.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    val r = if (args.length > 1) args(1).toInt else 10
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    val alpha = "etaoinshrd" // 10 distinct frequent letters
    def rot(k: Int): String = {
      val m = k % alpha.length
      alpha.substring(m) + alpha.substring(0, m)
    }
    def replicate(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, name)
      val all = (0 until r).map(k => f(base, k)).reduce(_ unionByName _)
      all.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name x$r -> $out/$name.parquet")
    }

    replicate("documents") { (df, k) =>
      df.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        (if (k == 0) col("text")
         else translate(col("text"), alpha, rot(k))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    replicate("embeddings") { (df, k) =>
      val n = 64
      df.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        (if (k == 0) col("embedding")
         else concat(slice(col("embedding"), k + 1, n - k),
           slice(col("embedding"), 1, k))).as("embedding"),
        col("label"))
    }
    replicate("events") { (df, k) =>
      df.select((col("event_id") + lit(k * 100000000L)).as("event_id"),
        (col("ts") + expr(s"INTERVAL $k MINUTES")).as("ts"),
        (col("user_id") + lit(k * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    replicate("lineitem") { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000000L))
    }
    replicate("orders") { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L))
    }
    // small dimension tables copied through unchanged
    Seq("nation", "region", "supplier", "part", "customer")
      .foreach { t =>
        Tables.load(spark, src, t).write.mode("overwrite")
          .parquet(s"$out/$t.parquet")
        println(s"[scalegen] $t copied")
      }
    spark.stop()
  }
}
