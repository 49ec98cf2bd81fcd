package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** One registry entry: a query key, the Spark builder that answers it over
  * an sf directory, and — for every oracle-checkable key — the DuckDB SQL
  * that must return the same rows from the same parquet tables (SURVEY §7.4
  * determinism rules). Keys without an oracle are the sketch/ANN keys that
  * ContractSpec's unit-only list justifies. */
final case class Query(name: String, build: Query.Build, oracle: Option[String] = None)

object Query {
  type Build = (SparkSession, String) => DataFrame

  /** An oracle-checked key. */
  def apply(name: String, build: Build, oracle: String): Query =
    Query(name, build, Some(oracle))

  /** A SQL-text key whose oracle is the same text: Spark and DuckDB read
    * the same parquet `tables` under the same names. */
  def sql(name: String, tables: Seq[String], text: String): Query =
    Query(name, (s, d) => runSql(s, d, tables, text), text)

  /** `text` run over the `tables` of sf dir `d`, each a view under its own
    * name in a private clone of `s` (GraftBridge.scoped), so `s` gains no
    * view and a view of the same name in `s` is not replaced. */
  def runSql(s: SparkSession, d: String, tables: Seq[String],
      text: String): DataFrame =
    GraftBridge.scoped(s) { c =>
      tables.foreach(t => graft.core.Tables.t(c, d, t).createOrReplaceTempView(t))
      c.sql(text)
    }

  /** `queries` by name, failing with every name that is declared twice
    * (a `Map` literal would silently keep only the last one). */
  def index(queries: Seq[Query]): Map[String, Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query key(s): ${dups.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }
}
