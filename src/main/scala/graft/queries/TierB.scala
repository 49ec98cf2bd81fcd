package graft.queries

import org.apache.spark.sql.functions._
import graft.Query
import graft.core.Tables._

/** Tier B — the Glue "Change schema" job surface (reference README.md:149-151):
  * source→target mapping = select / rename / reorder / add / cast. In Spark
  * these are pure projections — zero shuffle, fully pushed into the scan
  * (ReadSchema prunes unselected columns at the parquet footer).
  */
object TierB {
  def queries: Seq[Query] = Seq(
    // B1 — "removing destination columns" (README.md:151).
    Query("project_select", (s, d) => {
      customer(s, d).select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey"""),
    // B2 — "renaming" (README.md:151).
    Query("project_rename", (s, d) => {
      customer(s, d)
        .withColumnRenamed("c_custkey", "customer_id")
        .withColumnRenamed("c_name", "customer_name")
        .select("customer_id", "customer_name")
        .orderBy("customer_id")
    }, oracle =
      """SELECT c_custkey AS customer_id, c_name AS customer_name
        |FROM customer ORDER BY customer_id""".stripMargin),
    // B3 — "reordering" (README.md:151).
    Query("project_reorder", (s, d) => {
      customer(s, d).select("c_mktsegment", "c_name", "c_custkey")
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_mktsegment, c_name, c_custkey FROM customer ORDER BY c_custkey"""),
    // B4 — "adding" derived destination columns (README.md:151). Doubled
    // price ×2 is exact IEEE; literal tag exercises constant columns.
    Query("project_add_derived", (s, d) => {
      orders(s, d).select(
          col("o_orderkey"),
          (col("o_totalprice") * 2).as("double_price"),
          lit("etl").as("tag"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, o_totalprice * 2 AS double_price, 'etl' AS tag
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // B5 — ApplyMapping-style casts (README.md:149 "Change schema").
    // double→BIGINT is deliberately absent: Spark truncates, DuckDB rounds.
    Query("project_cast", (s, d) => {
      orders(s, d).select(
          col("o_orderkey"),
          col("o_orderkey").cast("string").as("key_str"),
          col("o_custkey").cast("int").as("cust_int"),
          col("o_orderdate").cast("date").as("order_day"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey,
        |       CAST(o_orderkey AS VARCHAR) AS key_str,
        |       CAST(o_custkey AS INT) AS cust_int,
        |       CAST(o_orderdate AS DATE) AS order_day
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // B5b — TRY_CAST: the dirty-data half of the mapping surface. Casts
    // that fail produce NULL instead of failing the job (Spark 4 runs ANSI
    // mode, so a plain CAST on a bad cell would abort a 100 TB load at the
    // first typo — try_cast is how a production mapping stays total).
    // Messy cells are synthesized from integer/literal pieces only — never
    // via double→string casts, whose formatting differs across engines.
    // Two dialect traps pinned here (SURVEY §7.4c): DuckDB TRY_CAST rounds
    // '2.25'→INT 2 where Spark's ANSI try_cast yields NULL (oracle guards
    // decimal-pointed cells); and Spark's string→DATE cast parses a bare
    // '15000' as year 15000 — dates therefore go through explicit-format
    // try_to_date/try_strptime, which both engines reject partials on.
    Query("project_try_cast", (s, d) => {
      val messy = when(col("c_custkey") % 4 === 0,
          col("c_custkey").cast("string"))
        .when(col("c_custkey") % 4 === 1, col("c_name"))
        .when(col("c_custkey") % 4 === 2,
          concat(col("c_custkey").cast("string"), lit(".25")))
        .otherwise(concat(lit("1995-01-"),
          lpad((col("c_custkey") % 28 + 1).cast("string"), 2, "0")))
      customer(s, d)
        .select(col("c_custkey"), messy.as("cell"))
        .select(col("c_custkey"), col("cell"),
          expr("try_cast(cell AS INT)").as("as_int"),
          expr("try_cast(cell AS DOUBLE)").as("as_double"),
          expr("try_to_date(cell, 'yyyy-MM-dd')").as("as_date"))
        .orderBy("c_custkey")
    }, oracle =
      """WITH m AS (
        |  SELECT c_custkey,
        |         CASE CAST(c_custkey % 4 AS INT)
        |           WHEN 0 THEN CAST(c_custkey AS VARCHAR)
        |           WHEN 1 THEN c_name
        |           WHEN 2 THEN CAST(c_custkey AS VARCHAR) || '.25'
        |           ELSE '1995-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0')
        |         END AS cell
        |  FROM customer)
        |SELECT c_custkey, cell,
        |       CASE WHEN cell LIKE '%.%' THEN NULL
        |            ELSE TRY_CAST(cell AS INT) END AS as_int,
        |       TRY_CAST(cell AS DOUBLE) AS as_double,
        |       CAST(try_strptime(cell, '%Y-%m-%d') AS DATE) AS as_date
        |FROM m ORDER BY c_custkey""".stripMargin)
  )
}
