package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.llm.{Dedup, Similarity, TextStats}

/** Driver contract — see SURVEY.md §7.
  *
  * The registry is the full operator inventory of SURVEY.md §2 (Tiers A-E
  * plus the LLM-data-pipeline operators): each [[Query]] carries its Spark
  * builder and, for every oracle-checkable key (SURVEY §2 "Oracle" column),
  * the DuckDB-equivalent SQL. `queries` and `oracleSql` are derived from it.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The TPC-H-Q1-style pricing summary (SURVEY §7.2 M0). */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_groupby_having")(spark, "/root/testdata/sf0.001")

  /** Every key by name; building it fails naming any key declared twice. */
  private lazy val registry: Map[String, Query] = Query.index(
    TierA.queries ++ TierB.queries ++ TierCFilters.queries ++
      TierCJoins.queries ++ TierCAgg.queries ++ TierCWindow.queries ++
      TierCSortSet.queries ++ TierCFunctions.queries ++ TierCSubquery.queries ++
      TierD.queries ++ Dedup.queries ++ Similarity.queries ++ TextStats.queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.view.mapValues(_.build).toMap

  /** The named subset of `queries` (all of them when `names` is empty),
    * failing fast on a name that is not a key. */
  def select(names: Iterable[String])
      : Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val unknown = names.toSet -- all.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) all else all.view.filterKeys(names.toSet).toMap
  }

  /** For each oracle-checked key, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.flatMap { case (k, q) => q.oracle.map(k -> _) }
}
