package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator from SURVEY.md §2
  * (and the LLM-data-pipeline extensions); `oracleSql` carries the
  * DuckDB-equivalent SQL for the driver's hash-compare at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * TPC-H Q1-shaped grouped aggregation over lineitem. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.queries("a3_groupby_q1")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++
      operators.Temporal.queries ++
      operators.TextOps.queries ++
      operators.Dedup.queries ++
      operators.Pipeline.queries ++
      operators.Similarity.queries ++
      operators.Multimodal.queries ++
      operators.ArrayOps.queries ++
      operators.StreamOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracles ++
      operators.Temporal.oracles ++
      operators.TextOps.oracles ++
      operators.Dedup.oracles ++
      operators.Pipeline.oracles ++
      operators.Similarity.oracles ++
      operators.Multimodal.oracles ++
      operators.ArrayOps.oracles ++
      operators.StreamOps.oracles

  /** Bench's and Verify's optional query filter: a comma-separated list
    * of names; absent keeps every query. Unknown names fail fast. */
  def nameFilter(arg: Option[String]): String => Boolean = arg match {
    case None => _ => true
    case Some(list) =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      names.contains
  }

  /** JSON string literal: escapes quote, backslash and every control
    * character, so a tab in oracle SQL or in an error message can never
    * break `oracle_sql.json` or the bench's JSON lines. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
