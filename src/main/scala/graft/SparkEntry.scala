package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.llm.{Dedup, Similarity, TextStats}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory of SURVEY.md §2 (Tiers A-E plus
  * the builder-mandated LLM-pipeline extras); `oracleSql` carries the
  * DuckDB-equivalent SQL for every oracle-checkable key (SURVEY §2 "Oracle"
  * column), written to the determinism rules of SURVEY §7.4.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The TPC-H-Q1-style pricing summary (SURVEY §7.2 M0). */
  def entry(spark: SparkSession): DataFrame =
    TierCAgg.queries("agg_groupby_having")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    TierA.queries ++ TierB.queries ++
      TierCFilters.queries ++ TierCJoins.queries ++ TierCAgg.queries ++
      TierCWindow.queries ++ TierCSortSet.queries ++ TierCFunctions.queries ++
      TierCSubquery.queries ++ TierD.queries ++
      Dedup.queries ++ Similarity.queries ++ TextStats.queries

  /** The named subset of `queries` (all of them when `names` is empty),
    * failing fast on a name that is not a key. */
  def select(names: Iterable[String])
      : Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val unknown = names.toSet -- all.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) all else all.view.filterKeys(names.toSet).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    TierA.oracle ++ TierB.oracle ++
      TierCFilters.oracle ++ TierCJoins.oracle ++ TierCAgg.oracle ++
      TierCWindow.oracle ++ TierCSortSet.oracle ++ TierCFunctions.oracle ++
      TierCSubquery.oracle ++ TierD.oracle ++
      Dedup.oracle ++ Similarity.oracle ++ TextStats.oracle
}
