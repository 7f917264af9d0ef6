package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full declared operator inventory (SURVEY.md §2.3):
  * every entry has a DuckDB `oracleSql` twin the driver hash-compares
  * against at sf0.01. Column names/types are kept identical on both
  * sides; numeric aggregates go through exact decimal arithmetic (see
  * [[graft.queries.Num]]) so results are partition-order independent.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Parity.queries ++
      graft.queries.Relational.queries ++
      graft.queries.Pipeline.queries ++
      graft.multimodal.Multimodal.queries

  /** The registry entries a harness's optional query-list argument
    * names, sorted by name. The list is comma-separated; names are
    * trimmed and empty names dropped, and a list with no names (or no
    * argument) selects the whole registry. An unknown name is an
    * error naming every unknown name, never a run that measures
    * nothing.
    */
  def select(arg: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val names = arg.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).distinct
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val chosen = if (names.isEmpty) all else all.filter { case (n, _) => names.contains(n) }
    chosen.toSeq.sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Parity.oracle ++
      graft.queries.Relational.oracle ++
      graft.queries.Pipeline.oracle ++
      graft.multimodal.Multimodal.oracle
}
