package graft.queries

import org.apache.spark.sql.functions._
import graft.Query
import graft.core.Tables._

/** Tier C (continued) — scalar function families (C35-C42) and
  * subquery/CTE entry points (C43-C45). SURVEY.md §2 C-vi/C-vii.
  *
  * All functions here are Spark built-ins (whole-stage-codegen'd); no UDFs —
  * a UDF in the hot path would break codegen and cost ~an order of magnitude
  * at 100 TB (builder mandate: functions, not UDFs).
  *
  * Dialect traps normalized per SURVEY §7.4.4: datediff arg order, dow
  * origin, int-returning length/year (BIGINT in DuckDB, INT in Spark),
  * regexp_replace global flag, 1-indexed substring/split_part.
  */
object TierCFunctions {
  def queries: Seq[Query] = Seq(
    // C35 — string family.
    Query("fn_string", (s, d) => {
      customer(s, d).select(
          col("c_custkey"),
          upper(col("c_name")).as("up"),
          lower(col("c_mktsegment")).as("lo"),
          length(col("c_name")).as("len"),
          substring(col("c_name"), 1, 8).as("sub"),
          concat(col("c_name"), lit("-"), col("c_mktsegment")).as("cat"),
          regexp_replace(col("c_name"), lit("Customer"), lit("Cust")).as("rep"),
          lpad(col("c_custkey").cast("string"), 12, "0").as("lp"),
          trim(concat(lit("  "), col("c_name"), lit("  "))).as("trimmed"),
          split_part(col("c_name"), lit("#"), lit(2)).as("id_part"))
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey,
        |       upper(c_name) AS up,
        |       lower(c_mktsegment) AS lo,
        |       CAST(length(c_name) AS INT) AS len,
        |       substring(c_name, 1, 8) AS sub,
        |       concat(c_name, '-', c_mktsegment) AS cat,
        |       replace(c_name, 'Customer', 'Cust') AS rep,
        |       lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS lp,
        |       trim('  ' || c_name || '  ') AS trimmed,
        |       split_part(c_name, '#', 2) AS id_part
        |FROM customer ORDER BY c_custkey""".stripMargin),
    // C36 — regexp family.
    Query("fn_regexp", (s, d) => {
      customer(s, d).select(
          col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
          col("c_name").rlike("[0-9]{3}").as("has3digits"))
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey,
        |       regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |       regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
        |       regexp_matches(c_name, '[0-9]{3}') AS has3digits
        |FROM customer ORDER BY c_custkey""".stripMargin),
    // C37 — date/time family.
    Query("fn_date", (s, d) => {
      orders(s, d).select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since_95"),
          date_add(col("o_orderdate"), 30).as("due_date"),
          dayofweek(col("o_orderdate")).as("dow"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INT) AS yr,
        |       CAST(month(o_orderdate) AS INT) AS mo,
        |       CAST(day(o_orderdate) AS INT) AS dom,
        |       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95,
        |       CAST(o_orderdate AS DATE) + 30 AS due_date,
        |       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C38 — math family. Every output is either exact integer math or an
    // IEEE op on identical operands, so bits match across engines; no
    // ln/log (libm implementations differ by ulps — SURVEY §7.4).
    Query("fn_math", (s, d) => {
      lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_discount") * 100).cast("long").as("disc_pct"),
          abs(col("l_quantity") - 25.0).as("qty_dev"),
          floor(col("l_quantity")).as("qty_floor"),
          ceil(col("l_quantity")).as("qty_ceil"),
          pow(lit(2), col("l_linenumber")).cast("long").as("pow2"),
          (col("l_orderkey") % 7).as("mod7"),
          signum(col("l_quantity") - 25.0).cast("int").as("sgn"),
          sqrt(col("l_quantity")).as("qty_sqrt"))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |       CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
        |       abs(l_quantity - 25.0) AS qty_dev,
        |       CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
        |       CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
        |       CAST(power(2, l_linenumber) AS BIGINT) AS pow2,
        |       l_orderkey % 7 AS mod7,
        |       CAST(sign(l_quantity - 25.0) AS INT) AS sgn,
        |       sqrt(l_quantity) AS qty_sqrt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // C39 — conditional family.
    Query("fn_cond", (s, d) => {
      orders(s, d).select(
          col("o_orderkey"),
          greatest(col("o_totalprice"), lit(50000.0)).as("g"),
          least(col("o_totalprice"), lit(50000.0)).as("l"),
          coalesce(nullif(col("o_orderstatus"), lit("F")), lit("was_f")).as("c"),
          when(col("o_totalprice") > 50000, "hi").otherwise("lo").as("flag"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey,
        |       greatest(o_totalprice, 50000.0) AS g,
        |       least(o_totalprice, 50000.0) AS l,
        |       coalesce(nullif(o_orderstatus, 'F'), 'was_f') AS c,
        |       CASE WHEN o_totalprice > 50000 THEN 'hi' ELSE 'lo' END AS flag
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C40 — array family + higher-order functions over tokenized text.
    // Integer-only folds (lengths) so the HOF aggregate is exact.
    Query("fn_array", (s, d) => {
      documents(s, d)
        .withColumn("tokens", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("tokens")).as("n_tokens"),
          array_join(slice(col("tokens"), 1, 3), " ").as("first3"),
          array_join(slice(sort_array(col("tokens")), 1, 3), " ").as("sorted3"),
          size(filter(col("tokens"), x => length(x) > 5)).as("n_long"),
          aggregate(transform(col("tokens"), x => length(x).cast("long")),
            lit(0L), (acc, x) => acc + x).as("char_sum"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |       CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
        |       array_to_string(str_split(text, ' ')[1:3], ' ') AS first3,
        |       array_to_string(list_sort(str_split(text, ' '))[1:3], ' ') AS sorted3,
        |       CAST(len(list_filter(str_split(text, ' '), x -> length(x) > 5)) AS INT) AS n_long,
        |       CAST(list_aggregate(list_transform(str_split(text, ' '), x -> length(x)), 'sum') AS BIGINT) AS char_sum
        |FROM documents ORDER BY doc_id""".stripMargin),
    // C41 — table-generating explode (Catalyst Generator / UDTF surface).
    // Bounded to doc_id < 200 to keep the verify dump small; the operator
    // itself streams row-by-row, no memory blowup at scale.
    Query("fn_explode", (s, d) => {
      documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .orderBy("doc_id", "token")
    }, oracle =
      """SELECT doc_id, unnest(str_split(text, ' ')) AS token
        |FROM documents WHERE doc_id < 200
        |ORDER BY doc_id, token""".stripMargin),
    // C38b — bitwise family (exact integer ops in both engines).
    Query("fn_bitwise", (s, d) => {
      lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_orderkey").bitwiseAND(255)).as("and255"),
          (col("l_orderkey").bitwiseOR(col("l_linenumber"))).as("or_ln"),
          (col("l_orderkey").bitwiseXOR(col("l_linenumber"))).as("xor_ln"),
          shiftleft(col("l_linenumber"), 3).as("shl3"),
          shiftright(col("l_orderkey"), 2).as("shr2"))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |       l_orderkey & 255 AS and255,
        |       l_orderkey | l_linenumber AS or_ln,
        |       xor(l_orderkey, l_linenumber) AS xor_ln,
        |       CAST(l_linenumber << 3 AS INT) AS shl3,
        |       l_orderkey >> 2 AS shr2
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // C35b — binary encode/decode family: base64 round-trip and hex over
    // UTF-8 bytes (the wire formats every ingest edge meets). The oracle
    // goes through explicit BLOB casts — DuckDB's base64/hex are
    // bytes-typed where Spark's accept strings directly.
    Query("fn_binary", (s, d) => {
      customer(s, d).select(
          col("c_custkey"),
          base64(col("c_name").cast("binary")).as("b64"),
          hex(col("c_name")).as("hx"),
          decode(unbase64(base64(col("c_name").cast("binary"))), "UTF-8")
            .as("roundtrip"))
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey,
        |       to_base64(CAST(c_name AS BLOB)) AS b64,
        |       hex(CAST(c_name AS BLOB)) AS hx,
        |       CAST(from_base64(to_base64(CAST(c_name AS BLOB))) AS VARCHAR) AS roundtrip
        |FROM customer ORDER BY c_custkey""".stripMargin),
    // C14j — presence-bitmap aggregation: one BIGINT mask per group with
    // bit i set iff priority class i occurs — the bitmap-index shape
    // (set-membership questions become bit tests; masks OR together
    // map-side, so 8 bytes per group per partition cross the shuffle).
    Query("agg_bitor_presence", (s, d) => {
      orders(s, d)
        .withColumn("pidx",
          substring(col("o_orderpriority"), 1, 1).cast("int"))
        .groupBy("o_orderstatus")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), pidx))").as("present_mask"),
          countDistinct(col("pidx")).as("n_classes"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }, oracle =
      """SELECT o_orderstatus,
        |       CAST(bit_or(CAST(1 AS BIGINT) << CAST(substr(o_orderpriority, 1, 1) AS INT)) AS BIGINT) AS present_mask,
        |       COUNT(DISTINCT CAST(substr(o_orderpriority, 1, 1) AS INT)) AS n_classes,
        |       COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // C42 — JSON extraction from events.props.
    Query("fn_json", (s, d) => {
      events(s, d).select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin),
    // C42b — map/struct family: from_json to a typed map, key/value access,
    // entry counting, map_concat, struct build + field access. Map key order
    // is pinned by sort_array before joining (SURVEY §7.4.5: no map-ordering
    // dependence in oracle-checked output). Assumes generator props carry no
    // duplicate JSON keys: from_json dedups into a map while json_keys
    // counts occurrences, so the two engines would diverge on n_entries.
    Query("fn_struct_map", (s, d) => {
      import org.apache.spark.sql.types._
      val m = from_json(col("props"), MapType(StringType, IntegerType))
      events(s, d)
        .withColumn("m", m)
        .select(
          col("event_id"),
          array_join(sort_array(map_keys(col("m"))), ",").as("keys"),
          element_at(col("m"), "k").as("k_val"),
          size(col("m")).as("n_entries"),
          // upsert semantics, guarded: under the default
          // spark.sql.mapKeyDedupPolicy=EXCEPTION an unconditional
          // map_concat would THROW if props ever contained 'graft_extra';
          // the branch only concats when the key is absent, and the oracle
          // mirrors the same conditional (+1 only when absent)
          when(array_contains(map_keys(col("m")), "graft_extra"),
            size(col("m")))
            .otherwise(size(map_concat(col("m"), map(lit("graft_extra"), lit(1)))))
            .as("n_after_concat"),
          struct(col("event_type").as("t"), col("user_id").as("u"))
            .getField("t").as("type_field"))
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id,
        |       array_to_string(list_sort(json_keys(props)), ',') AS keys,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |       CAST(len(json_keys(props)) AS INT) AS n_entries,
        |       CAST(len(json_keys(props)) +
        |            CASE WHEN list_contains(json_keys(props), 'graft_extra')
        |                 THEN 0 ELSE 1 END AS INT) AS n_after_concat,
        |       event_type AS type_field
        |FROM events ORDER BY event_id""".stripMargin)
  )
}

/** C43-C45 — scalar subquery, IN/EXISTS correlated subqueries, CTE via the
  * full SQL text entry point. Catalyst decorrelates EXISTS/IN into
  * semi-joins (RewriteCorrelatedScalarSubquery etc.) — asserted good enough
  * by the oracle match; no hand-rolled rewrite needed. */
object TierCSubquery {
  private val tpch = Seq("orders", "customer", "nation")

  def queries: Seq[Query] = Seq(
    // C43 — scalar subquery threshold. Mean computed as exact decimal sum /
    // count in BOTH engines so the comparison threshold is bit-identical
    // (a ulp-different AVG(double) could flip boundary rows).
    Query.sql("subq_scalar", tpch,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),
    // C44 — IN subquery + correlated EXISTS.
    Query.sql("subq_in_correlated", tpch,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        |  AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        |ORDER BY c_custkey""".stripMargin),
    // C45 — WITH CTE, full SQL entry.
    Query.sql("cte_sql_entry", tpch,
      """WITH co AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |  FROM orders GROUP BY o_custkey)
        |SELECT c.c_custkey, c.c_name, co.n_orders, co.total_spent
        |FROM customer c JOIN co ON co.o_custkey = c.c_custkey
        |WHERE co.n_orders >= 5
        |ORDER BY c.c_custkey""".stripMargin),
    // C45b — RECURSIVE CTE (Spark 4's iterative-plan support): ancestor
    // walk over the synthetic halving hierarchy parent(s) = s DIV 2 —
    // per-supplier depth and ancestor count down to root 0. The
    // declarative form of iterative traversal; Spark runs one stage per
    // recursion level (~log2 N levels here). For min-label components at
    // scale the hand-tuned operator (graft.operators.ConnectedComponents:
    // pointer jumping + frontier deltas + lineage checkpoints) is the
    // production path — this covers the SQL surface itself. DuckDB
    // replays it with its // for Spark's DIV.
    Query("cte_recursive", (s, d) => Query.runSql(s, d, Seq("supplier"),
      """WITH RECURSIVE up(s_suppkey, anc, depth) AS (
        |  SELECT s_suppkey, CAST(s_suppkey AS BIGINT) AS anc, 0 AS depth
        |  FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey, anc DIV 2, depth + 1 FROM up WHERE anc > 0)
        |SELECT s_suppkey, MAX(depth) AS depth, COUNT(*) AS n_ancestors
        |FROM up GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin),
      oracle =
      """WITH RECURSIVE up(s_suppkey, anc, depth) AS (
        |  SELECT s_suppkey, CAST(s_suppkey AS BIGINT) AS anc, 0 AS depth
        |  FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey, anc // 2, depth + 1 FROM up WHERE anc > 0)
        |SELECT s_suppkey, MAX(depth) AS depth, COUNT(*) AS n_ancestors
        |FROM up GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin),
    // C46 — LATERAL correlated subquery in FROM: top-2 account balances per
    // nation. The lateral body is per-outer-row correlated with its own
    // ORDER BY/LIMIT — the "top-n related rows per driving row" shape that
    // plain IN/EXISTS subqueries can't express. Catalyst decorrelates it
    // into a ranked join (no per-row re-execution).
    Query.sql("subq_lateral", tpch,
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin)
  )
}
