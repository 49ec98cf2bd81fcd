package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Query
import graft.operators.Graph
import graft.core.Tables._

/** Tier C — the relational query surface (SURVEY.md §2 Tier C).
  *
  * The reference pipeline's whole purpose is to make data queryable in a SQL
  * warehouse (reference README.md:79-98, 150); it contains no query text, so
  * these are standard ANSI semantics validated differentially against DuckDB.
  *
  * Scale notes are inline per query: every plan here is a declarative
  * DataFrame tree, so Catalyst gives pushdown/pruning/join-selection for
  * free; the only hand-placed hints are `broadcast()` on dimension tables
  * (star-schema joins must never shuffle the fact table against a 25-row
  * dimension at 100 TB).
  */
object TierCFilters {
  def queries: Seq[Query] = Seq(
    // C1 — comparison + boolean predicates. Filter is pushed to the parquet
    // scan (PushedFilters), so at 100 TB only matching row groups are read.
    Query("filter_compare", (s, d) => {
      lineitem(s, d)
        .filter(col("l_quantity") > 30 && col("l_discount") <= 0.05 &&
          !(col("l_returnflag") === "A"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_quantity > 30 AND l_discount <= 0.05 AND NOT (l_returnflag = 'A')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // C2 — IN / BETWEEN / LIKE.
    Query("filter_in_between_like", (s, d) => {
      orders(s, d)
        .filter(col("o_orderstatus").isin("F", "O") &&
          col("o_totalprice").between(1000, 50000) &&
          col("o_orderpriority").like("1-%"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('F','O') AND o_totalprice BETWEEN 1000 AND 50000
        |  AND o_orderpriority LIKE '1-%'
        |ORDER BY o_orderkey""".stripMargin),
    // C3 — IS [NOT] NULL, COALESCE, NULLIF (nulls manufactured via NULLIF
    // because the generated data is null-free).
    Query("filter_null_handling", (s, d) => {
      orders(s, d)
        .withColumn("st_null", nullif(col("o_orderstatus"), lit("P")))
        .select(
          col("o_orderkey"),
          coalesce(col("st_null"), lit("UNKNOWN")).as("status_filled"),
          col("st_null").isNull.as("was_p"),
          col("st_null").isNotNull.as("not_p"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey,
        |       COALESCE(NULLIF(o_orderstatus,'P'), 'UNKNOWN') AS status_filled,
        |       NULLIF(o_orderstatus,'P') IS NULL AS was_p,
        |       NULLIF(o_orderstatus,'P') IS NOT NULL AS not_p
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C4 — searched CASE.
    Query("case_when", (s, d) => {
      orders(s, d)
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 100000, "big")
            .when(col("o_totalprice") > 10000, "mid")
            .otherwise("small").as("bucket"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey,
        |       CASE WHEN o_totalprice > 100000 THEN 'big'
        |            WHEN o_totalprice > 10000 THEN 'mid'
        |            ELSE 'small' END AS bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin)
  )
}

object TierCJoins {
  /** Shared probe/lookup inputs for the three AS-OF direction queries:
    * click events probing the per-(user, instant) purchase aggregate
    * (AsOfJoin's uniqueness contract). */
  private def clickPurchase(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = events(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("p_ts"))
      .agg(count(lit(1)).as("n_p"), decSum(col("value")).as("p_value"))
    (clicks, purchases)
  }
  private def asofSurface(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"), col("ts"),
        col("asof.p_ts").as("p_ts"), col("asof.n_p").as("n_p"),
        col("asof.p_value").as("p_value"))
      .orderBy("event_id")

  def queries: Seq[Query] = Seq(
    // C5 — inner equi-join. Catalyst picks broadcast vs sort-merge by size;
    // at 100 TB orders/customer both shuffle on the key (co-partitionable).
    Query("join_inner_equi", (s, d) => {
      val o = orders(s, d); val c = customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .select(o("o_orderkey"), c("c_custkey"), c("c_name"), o("o_totalprice"))
        .orderBy("o_orderkey")
    }, oracle =
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),
    // C5b — NULL-SAFE equi-join (round 14c): `<=>` treats NULL as a
    // joinable value — the semantics a plain `=` join silently breaks
    // when the key is nullable (NULL rows vanish from an inner join; an
    // analyst attaching group stats back onto rows loses exactly the
    // unknown-key population they most need to see). The fixture has no
    // NULL keys, so the bucket derives one deterministically
    // (nullif(custkey mod 7, 0) — every 0-bucket row becomes NULL), the
    // group sizes join back null-safely, and the gate's row count proves
    // the NULL group survived (the oracle spells IS NOT DISTINCT FROM —
    // ANSI's name for the operator). Catalyst treats <=> as an equi-join
    // key (coalesced comparison), so this still plans a hash join, not a
    // nested loop; at 100 TB it shuffles like any equi-join.
    Query("join_null_safe", (s, d) => {
      val o = orders(s, d).select(col("o_orderkey"),
        nullif(pmod(col("o_custkey"), lit(7)), lit(0)).as("bucket"))
      val sizes = o.groupBy("bucket").agg(count(lit(1)).as("grp_n"))
        .withColumnRenamed("bucket", "s_bucket")
      o.join(sizes, col("bucket") <=> col("s_bucket"))
        .select(col("o_orderkey"), col("bucket"), col("grp_n"))
        .orderBy("o_orderkey")
    }, oracle =
      // ANSI's spelling of the null-safe operator
      """WITH o AS (
        |  SELECT o_orderkey, nullif(o_custkey % 7, 0) AS bucket
        |  FROM orders),
        |sizes AS (SELECT bucket, COUNT(*) AS grp_n FROM o GROUP BY bucket)
        |SELECT o.o_orderkey, o.bucket, s.grp_n
        |FROM o JOIN sizes s ON o.bucket IS NOT DISTINCT FROM s.bucket
        |ORDER BY o.o_orderkey""".stripMargin),
    // C6 — star-schema dimension join with explicit broadcast hints: at any
    // scale nation(25)/region(5) must replicate to executors, never shuffle
    // the probe side. Plan shape asserted in PlanSpec.
    Query("join_broadcast_dim", (s, d) => {
      val c = customer(s, d); val n = nation(s, d); val r = region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(c("c_custkey"), n("n_name"), r("r_name"))
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, n_name, r_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin),
    // C7 — left outer; nulls ordering pinned explicitly (Spark default is
    // NULLS FIRST for ASC, DuckDB's is NULLS LAST — SURVEY §7.4 rule 4).
    Query("join_left_outer", (s, d) => {
      val c = customer(s, d)
      val o = orders(s, d).filter(col("o_totalprice") > 150000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(c("c_custkey"), o("o_orderkey"), o("o_totalprice"))
        .orderBy(asc("c_custkey"), asc_nulls_first("o_orderkey"))
    }, oracle =
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 150000) o
        |  ON c_custkey = o.o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin),
    // C8 — full outer.
    Query("join_full_outer", (s, d) => {
      val c = customer(s, d).filter(col("c_acctbal") > 0)
      val o = orders(s, d).filter(col("o_totalprice") > 150000)
      c.join(o, c("c_custkey") === o("o_custkey"), "full")
        .select(c("c_custkey"), o("o_orderkey"))
        .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey"))
    }, oracle =
      """SELECT c.c_custkey, o.o_orderkey
        |FROM (SELECT * FROM customer WHERE c_acctbal > 0) c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 150000) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey ASC NULLS FIRST, o.o_orderkey ASC NULLS FIRST""".stripMargin),
    // C9 — left semi (EXISTS).
    Query("join_semi", (s, d) => {
      val c = customer(s, d)
      val big = orders(s, d).filter(col("o_totalprice") > 250000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin),
    // C10 — left anti (NOT EXISTS).
    Query("join_anti", (s, d) => {
      val c = customer(s, d)
      val big = orders(s, d).filter(col("o_totalprice") > 250000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin),
    // C11 — cross join + theta predicate on two tiny dimensions (BNLJ).
    Query("join_cross_theta", (s, d) => {
      val n = nation(s, d); val r = region(s, d)
      n.crossJoin(r).filter(n("n_regionkey") =!= r("r_regionkey"))
        .select(n("n_nationkey"), r("r_regionkey"))
        .orderBy("n_nationkey", "r_regionkey")
    }, oracle =
      """SELECT n_nationkey, r_regionkey
        |FROM nation CROSS JOIN region
        |WHERE n_regionkey <> r_regionkey
        |ORDER BY n_nationkey, r_regionkey""".stripMargin),
    // C12 — equi key + range predicate (ship within 30 days of order date).
    // The equi key keeps it hash-joinable at scale; the range is a residual.
    Query("join_range_interval", (s, d) => {
      val o = orders(s, d); val l = lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") >= o("o_orderdate") &&
          l("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .select(o("o_orderkey"), l("l_linenumber"), l("l_shipdate"))
        .orderBy("o_orderkey", "l_linenumber")
    }, oracle =
      """SELECT o_orderkey, l_linenumber, l_shipdate
        |FROM orders JOIN lineitem
        |  ON o_orderkey = l_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |ORDER BY o_orderkey, l_linenumber""".stripMargin),
    // C5b — fact⋈part dimension rollup: revenue per brand (exercises the
    // part table; p_brand is low-cardinality so the aggregate collapses
    // map-side after a broadcast-joined scan).
    Query("join_part_rollup", (s, d) => {
      val p = part(s, d); val l = lineitem(s, d)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy(p("p_brand"))
        .agg(dec4Sum(l("l_extendedprice") * (lit(1) - l("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"),
          max(p("p_retailprice")).as("max_retail"))
        .orderBy("p_brand")
    }, oracle =
      """SELECT p_brand,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items,
        |       MAX(p_retailprice) AS max_retail
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    // C12b — backward AS-OF join (graft.operators.AsOfJoin): every click
    // event picks up the user's latest purchase at or before it. Spark has
    // no ASOF operator; the union-and-carry encoding pays ONE hash shuffle
    // on the key and no pair explosion (PlanSpec asserts the plan contains
    // no Join node). The DuckDB oracle is the genuinely independent check:
    // its native ASOF LEFT JOIN, not a replay of the union trick. The
    // purchase side pre-aggregates per (user, ts) — AsOfJoin's uniqueness
    // contract — and 30-min-windowed attribution stays with D8; this is the
    // unbounded "state as of the event" lookup that join can't express.
    Query("join_asof", (s, d) => {
      val (clicks, purchases) = clickPurchase(s, d)
      asofSurface(graft.operators.AsOfJoin.backward(clicks, purchases,
        key = Seq("user_id"), leftTime = "ts", rightTime = "p_ts"))
    }, oracle =
      // the oracle's ASOF LEFT JOIN is DuckDB's own operator — an independent
      // implementation of the semantics, not a replay of the union trick
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type, value FROM events),
        |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts, COUNT(*) AS n_p,
        |             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS p_value
        |      FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, c.ts, p.p_ts, p.n_p, p.p_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.p_ts
        |ORDER BY c.event_id""".stripMargin),
    // C12b' — FORWARD as-of join (AsOfJoin.forward): every click picks up
    // the user's NEXT purchase at or after it — click-to-purchase lead-time
    // attribution, the mirror of join_asof's "state as of" lookup. Same
    // one-shuffle union-and-carry plan (no Join node); the DuckDB oracle is
    // again its native ASOF operator with the inequality flipped
    // (c.ts <= p.p_ts picks the smallest p_ts ≥ ts).
    Query("join_asof_forward", (s, d) => {
      val (clicks, purchases) = clickPurchase(s, d)
      asofSurface(graft.operators.AsOfJoin.forward(clicks, purchases,
        key = Seq("user_id"), leftTime = "ts", rightTime = "p_ts"))
    }, oracle =
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type, value FROM events),
        |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts, COUNT(*) AS n_p,
        |             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS p_value
        |      FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, c.ts, p.p_ts, p.n_p, p.p_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.p_ts
        |ORDER BY c.event_id""".stripMargin),
    // C12b'' — NEAREST as-of join (merge_asof direction='nearest'): every
    // click pairs with the purchase closest in time, either direction,
    // backward winning ties. One union-and-carry pass, two windows on one
    // sort. The oracle composes DuckDB's TWO native ASOF joins and picks
    // the nearer — independent of the single-pass plan.
    Query("join_asof_nearest", (s, d) => {
      val (clicks, purchases) = clickPurchase(s, d)
      asofSurface(graft.operators.AsOfJoin.nearest(clicks, purchases,
        key = Seq("user_id"), leftTime = "ts", rightTime = "p_ts"))
    }, oracle =
      // two native ASOF joins composed, the nearer row picked per column —
      // an independent implementation of the one-pass nearest carry
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type, value FROM events),
        |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts, COUNT(*) AS n_p,
        |             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS p_value
        |      FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |bw AS (SELECT c.event_id, p.p_ts, p.n_p, p.p_value
        |       FROM c ASOF LEFT JOIN p
        |         ON c.user_id = p.user_id AND c.ts >= p.p_ts),
        |fw AS (SELECT c.event_id, p.p_ts, p.n_p, p.p_value
        |       FROM c ASOF LEFT JOIN p
        |         ON c.user_id = p.user_id AND c.ts <= p.p_ts)
        |SELECT c.event_id, c.user_id, c.ts,
        |       CASE WHEN bw.p_ts IS NULL THEN fw.p_ts
        |            WHEN fw.p_ts IS NULL THEN bw.p_ts
        |            WHEN c.ts - bw.p_ts <= fw.p_ts - c.ts THEN bw.p_ts
        |            ELSE fw.p_ts END AS p_ts,
        |       CASE WHEN bw.p_ts IS NULL THEN fw.n_p
        |            WHEN fw.p_ts IS NULL THEN bw.n_p
        |            WHEN c.ts - bw.p_ts <= fw.p_ts - c.ts THEN bw.n_p
        |            ELSE fw.n_p END AS n_p,
        |       CASE WHEN bw.p_ts IS NULL THEN fw.p_value
        |            WHEN fw.p_ts IS NULL THEN bw.p_value
        |            WHEN c.ts - bw.p_ts <= fw.p_ts - c.ts THEN bw.p_value
        |            ELSE fw.p_value END AS p_value
        |FROM c
        |JOIN bw ON c.event_id = bw.event_id
        |JOIN fw ON c.event_id = fw.event_id
        |ORDER BY c.event_id""".stripMargin),
    // C12b''' — bounded-staleness as-of (merge_asof's `tolerance`, round
    // 10): same backward lookup, but a carried purchase older than 1 day
    // is no match at all — the "state must be FRESH" contract (a feature
    //-store point-in-time join where a stale feature row is worse than
    // null). Exercises AsOfJoin's tolerance path through the differential
    // gate (previously unit-only): the bound applies AFTER the carry (a
    // row-frame window can't express a time bound), nulling the payload
    // struct wholesale. Same one-shuffle plan; the oracle composes
    // DuckDB's native ASOF with the explicit CASE staleness test.
    Query("join_asof_tolerance", (s, d) => {
      val (clicks, purchases) = clickPurchase(s, d)
      asofSurface(graft.operators.AsOfJoin.backward(clicks, purchases,
        key = Seq("user_id"), leftTime = "ts", rightTime = "p_ts",
        tolerance = Some(expr("INTERVAL 1 DAY"))))
    }, oracle =
      // native ASOF composed with the explicit CASE staleness test — the
      // carry-then-bound semantics spelled independently of the Spark plan
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type, value FROM events),
        |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts, COUNT(*) AS n_p,
        |             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS p_value
        |      FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, c.ts,
        |       CASE WHEN p.p_ts >= c.ts - INTERVAL 1 DAY THEN p.p_ts END AS p_ts,
        |       CASE WHEN p.p_ts >= c.ts - INTERVAL 1 DAY THEN p.n_p END AS n_p,
        |       CASE WHEN p.p_ts >= c.ts - INTERVAL 1 DAY THEN p.p_value END AS p_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.p_ts
        |ORDER BY c.event_id""".stripMargin),
    // C12c — PURE interval join (no natural equi key) via time-binning:
    // sampled order windows [o_orderdate, +3d] × every lineitem ship date.
    // Written naively this is a theta join — a cartesian pair space at
    // scale. Binning manufactures the equi key: each interval explodes to
    // its 4 day-bins, points join on their exact day — a plain hash join
    // (PlanSpec asserts no nested-loop join survives), with pair work
    // linear in true matches. The residual containment predicate is
    // subsumed by day-granular bins here; sub-day bounds would keep it as
    // a post-join filter. The DuckDB oracle runs the raw theta join — an
    // independent plan for the same semantics.
    Query("join_interval_binned", (s, d) => {
      val iv = orders(s, d).filter(col("o_orderkey") % 197 === 0)
        .select(col("o_orderkey"), col("o_orderdate"))
      val bins = iv.withColumn("bin", explode(sequence(col("o_orderdate"),
        col("o_orderdate") + expr("INTERVAL 3 DAYS"), expr("INTERVAL 1 DAY"))))
      val pts = lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      bins.join(pts, col("l_shipdate") === col("bin"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(count(lit(1)).as("n_ship"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("o_orderkey")
    }, oracle =
      // the oracle runs the raw theta join the binning avoids — independent
      // plan, same semantics
      """SELECT o.o_orderkey, o.o_orderdate,
        |       COUNT(*) AS n_ship, COUNT(DISTINCT l.l_orderkey) AS n_orders
        |FROM (SELECT o_orderkey, o_orderdate FROM orders
        |      WHERE o_orderkey % 197 = 0) o
        |JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate <= o.o_orderdate + INTERVAL 3 DAY
        |GROUP BY o.o_orderkey, o.o_orderdate
        |ORDER BY o.o_orderkey""".stripMargin),
    // C13 — 5-way star join region→nation→customer→orders→lineitem with
    // exact-decimal revenue. Dims broadcast; fact joins shuffle on keys.
    Query("join_multiway", (s, d) => {
      val r = region(s, d); val n = nation(s, d); val c = customer(s, d)
      val o = orders(s, d); val l = lineitem(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"), n("n_name"))
        .agg(
          dec4Sum(l("l_extendedprice") * (lit(1) - l("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }, oracle =
      """SELECT r_name, n_name,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),
    // Market-basket co-occurrence (round 6) — the support-counting pass of
    // association mining: how often two brands land in the same order.
    // The 100 TB shape is TWO shuffles, no self-join: lineitem tags brands
    // via the broadcast part dim, ONE groupBy(order) collects each
    // basket's distinct sorted brand set (the basket-width bound — ≤7
    // items per order caps the set), the ordered pairs expand MAP-SIDE
    // from the array (transform-with-index over the sorted set, so b1<b2
    // by construction), and the pair counts combine map-side into the
    // second shuffle. A distinct + per-order self-join would pay a third
    // shuffle and rebuild the same pair space the array expansion gets
    // for free (r12 A/B: the self-join's warm local win never justified
    // its two extra full-data exchanges at scale). Round 17: the
    // expansion itself moved from the interpreted
    // flatten(transform(..transform(slice..))) HOF chain to TWO Generate
    // nodes — posexplode(bs) then explode(slice(bs, i + 2, size(bs))) —
    // the identical ordered-pair multiset (x at 0-based i pairs with
    // every later y), but Generate whole-stage-codegens where HOF
    // lambdas interpret: warm sf0.1 noop 2.2-3.0 → 1.5-1.8 s, same two
    // shuffles. Counts are exact longs; top-25 by (support, b1, b2).
    Query("basket_brand_pairs", (s, d) => {
      val baskets = lineitem(s, d)
        .join(broadcast(part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
      baskets
        .select(col("bs"), posexplode(col("bs")).as(Seq("i", "b1")))
        .select(col("b1"),
          explode(slice(col("bs"), col("i") + 2, size(col("bs")))).as("b2"))
        .groupBy("b1", "b2")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(desc("n_orders"), asc("b1"), asc("b2")).limit(25)
    }, oracle =
      """WITH ib AS (
        |  SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT a.p_brand AS b1, b.p_brand AS b2, COUNT(*) AS n_orders
        |FROM ib a JOIN ib b USING (l_orderkey)
        |WHERE a.p_brand < b.p_brand
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, b1, b2 LIMIT 25""".stripMargin),
    // Association-rule mining (round 12g) — support/confidence/lift over
    // the brand pair space (Agrawal & Srikant, VLDB 1994 give the
    // support-confidence framework; lift is Brin et al., SIGMOD 1997's
    // interest): supp(A,B) = co-occurring baskets, conf(A→B) =
    // supp(A,B)/supp(A), lift = N·supp(A,B)/(supp(A)·supp(B)) — >1e6 in
    // the q6 fixed point means the brands co-occur MORE than independence
    // predicts (the cross-sell signal basket_brand_pairs' raw counts
    // can't read: a pair can have top support only because both brands
    // are everywhere). Integer discipline: conf_q6 = supp·10⁶ DIV nA,
    // lift_q6 = supp·N·10⁶ DIV (nA·nB) — exact longs in both engines
    // (supp·N·10⁶ ≤ 2.3e16 at sf0.1; ~1000× headroom under 2⁶³ — beyond
    // that move the q6 product to DECIMAL(38,0)). Ranked by lift.
    // 100 TB shape: reuses basket_brand_pairs' map-side array expansion
    // for the pair counts (≤|brands|² keys after combine), the per-brand
    // basket counts are a |brands|-row broadcast joined twice, and the
    // 1-row basket total rides a broadcast crossJoin — nothing after the
    // two fact-table shuffles exceeds |brands|² rows.
    Query("market_basket_lift", (s, d) => {
      // ib feeds THREE consumers (pair expansion, per-brand counts, the
      // basket total); without the lineage cut each re-runs the
      // join+distinct over the full fact table — the CommonNeighbors
      // adjDeg lesson (measured in the 12h scaling study: 160.7 s at x64
      // with 3 recomputes + spill, 1.19 tail slope; checkpointed the
      // curve re-reads linear — see SCALING.md)
      val ib = lineitem(s, d)
        .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")).distinct()
        .localCheckpoint()
      val baskets = ib.groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
      val pairs = baskets
        .select(col("bs"), posexplode(col("bs")).as(Seq("i", "b1")))
        .select(col("b1"),
          explode(slice(col("bs"), col("i") + 2, size(col("bs")))).as("b2"))
        .groupBy("b1", "b2")
        .agg(count(lit(1)).as("supp"))
      val brandN = ib.groupBy("p_brand").agg(count(lit(1)).as("nb"))
      // the basket total reads the checkpointed ib, not the collect_set
      // aggregate (baskets' only remaining consumer is the pair expansion)
      val tot = ib.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
      pairs
        .join(broadcast(brandN.select(col("p_brand").as("b1"),
          col("nb").as("n1"))), Seq("b1"))
        .join(broadcast(brandN.select(col("p_brand").as("b2"),
          col("nb").as("n2"))), Seq("b2"))
        .crossJoin(broadcast(tot))
        .select(col("b1"), col("b2"), col("supp"),
          expr("supp * 1000000L DIV n1").as("conf_q6"),
          expr("supp * n_baskets * 1000000L DIV (n1 * n2)").as("lift_q6"))
        .orderBy(desc("lift_q6"), asc("b1"), asc("b2")).limit(25)
    }, oracle =
      // independent construction: DuckDB derives the pair space by self-join
      // (vs Spark's array expansion) and the ratios with HUGEINT-exact //
      """WITH ib AS (
        |  SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pairs AS (
        |  SELECT a.p_brand AS b1, b.p_brand AS b2, COUNT(*) AS supp
        |  FROM ib a JOIN ib b USING (l_orderkey)
        |  WHERE a.p_brand < b.p_brand GROUP BY 1, 2),
        |bn AS (SELECT p_brand, COUNT(*) AS nb FROM ib GROUP BY 1),
        |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM ib)
        |SELECT b1, b2, supp,
        |       CAST(supp * 1000000 // n1.nb AS BIGINT) AS conf_q6,
        |       CAST(supp * n_baskets * 1000000 // (n1.nb * n2.nb) AS BIGINT)
        |         AS lift_q6
        |FROM pairs
        |JOIN bn n1 ON pairs.b1 = n1.p_brand
        |JOIN bn n2 ON pairs.b2 = n2.p_brand
        |CROSS JOIN tot
        |ORDER BY lift_q6 DESC, b1, b2 LIMIT 25""".stripMargin)
  )
}

object TierCAgg {
  def queries: Seq[Query] = Seq(
    // C14 — ungrouped aggregate; partial+final agg is free from Spark.
    Query("agg_global", (s, d) => {
      lineitem(s, d).agg(
        count(lit(1)).as("n"),
        decSum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        decAvg(col("l_quantity")).as("avg_qty"))
    }, oracle =
      """SELECT COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       MIN(l_quantity) AS min_qty,
        |       MAX(l_quantity) AS max_qty,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem""".stripMargin),
    // C15 — the flagship TPC-H-Q1-style pricing summary (also SparkEntry.entry).
    // Map-side partial aggregation collapses 100 TB of lineitem to
    // |groups| × partitions rows before the shuffle.
    Query("agg_groupby_having", (s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          dec4Sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          decAvg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .filter(col("count_order") > 10)
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |HAVING COUNT(*) > 10
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    // C16 — exact COUNT(DISTINCT): expands to a two-stage distinct+count.
    Query("agg_count_distinct", (s, d) => {
      orders(s, d).groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    }, oracle =
      """SELECT o_orderstatus,
        |       COUNT(DISTINCT o_custkey) AS n_cust,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // C17 — HLL approximate distinct: single pass, fixed memory — the 100 TB
    // path where exact distinct's shuffle is the bottleneck. Not
    // oracle-hashable (approx); PlanSpec asserts ±5% of exact.
    Query("agg_approx_distinct", (s, d) => {
      lineitem(s, d).groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .orderBy("l_returnflag")
    }),
    // C17b — approximate percentiles (GK sketch, the profiling companion to
    // the HLL sketch above): mergeable partial sketches, so percentile
    // estimation is one map-side-combined pass at any scale instead of a
    // per-group sort. Unit-tier like agg_approx_distinct — DuckDB cannot
    // replay the sketch; PlanSpec brackets each estimate between exact
    // order statistics at rank ±1%.
    Query("agg_approx_percentile", (s, d) => {
      lineitem(s, d).groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"), array(lit(0.5), lit(0.95)),
          lit(10000)).as("pcts"))
        .select(col("l_returnflag"),
          element_at(col("pcts"), 1).as("p50"),
          element_at(col("pcts"), 2).as("p95"))
        .orderBy("l_returnflag")
    }),
    // C17c — mergeable HLL sketches (Spark 4's DataSketches surface): two
    // halves of the fact table are sketched INDEPENDENTLY, the binary
    // sketches union without re-reading rows, and the estimate comes off
    // the merged sketch. The 100 TB pattern behind incremental distinct
    // counting: persist sketch-aggregate tables per batch, merge them at
    // query time — rows are touched once ever. Unit-tier (sketch output;
    // PlanSpec asserts the merged estimate within 5% of exact, and that it
    // EQUALS the single-pass sketch of the whole table — the mergeability
    // contract).
    Query("agg_hll_merge", (s, d) => {
      def sk(df: DataFrame) = df.groupBy("o_orderstatus")
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      val a = sk(orders(s, d).filter(col("o_orderkey") % 2 === 0))
      val b = sk(orders(s, d).filter(col("o_orderkey") % 2 =!= 0))
      a.unionByName(b)
        .groupBy("o_orderstatus")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_cust"))
        .orderBy("o_orderstatus")
    }),
    // C17e — Count-Min frequency sketch, completing the mergeable-sketch
    // family (HLL = distinct, GK = percentile, CMS = per-item frequency):
    // fixed-memory heavy-hitter counting whose partials merge by counter
    // addition, so 100 TB of per-key frequency questions costs one
    // map-side-combined pass + a few KB per group. Unit-tier like its
    // siblings (sketch binary; PlanSpec asserts the never-underestimate
    // and epsilon bounds plus merge ≡ single-pass). Fixed seed keeps the
    // binary deterministic.
    Query("agg_cms_freq", (s, d) => {
      lineitem(s, d).groupBy("l_returnflag")
        .agg(count_min_sketch(col("l_suppkey"), lit(0.001), lit(0.99),
          lit(42)).as("sketch"))
        .select(col("l_returnflag"), length(col("sketch")).as("sketch_bytes"),
          sha2(base64(col("sketch")), 256).as("sketch_fp"))
        .orderBy("l_returnflag")
    }),
    // C17f — Space-Saving top-k heavy hitters (round 12e), completing the
    // mergeable-sketch family's fourth axis: HLL answers "how many
    // distinct", GK "what value at rank p", CMS "how often is THIS item"
    // — Space-Saving answers "WHICH items are frequent" with k bounded
    // counters and no key-space enumeration. k=16 counters per return
    // flag over the 100-supplier key, so eviction churn is real (the
    // sketch regime, not the exact one). Unit-tier like its three
    // siblings: counter values depend on partition merge order;
    // SpaceSavingSpec asserts the order-independent guarantees (count ≥
    // true ≥ count − err for every counter under any merge tree, planted
    // heavy hitters always present, exact in the ≤k-distinct regime).
    // 100 TB shape: the k-bounded buffer rides partial aggregation — one
    // pass, k counters per group per partition across the shuffle (see
    // operators/SpaceSaving.scala).
    Query("agg_spacesaving_topk", (s, d) => {
      import s.implicits._
      val agg = new graft.operators.SpaceSavingAggregator(16).toColumn
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_suppkey").cast("string"))
        .as[(String, String)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(agg)
        .flatMap { case (flag, (n, cs)) =>
          cs.zipWithIndex.map { case ((item, c, e), i) =>
            (flag, i + 1, item, c, e, n)
          }
        }
        .toDF("l_returnflag", "rank", "item", "est_count", "err_bound",
          "n_rows")
        .orderBy("l_returnflag", "rank")
    }),
    // C18 — ROLLUP grouping sets.
    Query("agg_rollup", (s, d) => {
      lineitem(s, d).rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), decSum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    // C19 — CUBE.
    Query("agg_cube", (s, d) => {
      lineitem(s, d).cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    // C20 — explicit GROUPING SETS + GROUPING() id via the SQL entry point.
    Query.sql("agg_grouping_sets", Seq("lineitem"),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    // C14b — exact discrete percentiles by explicit sort-and-select (the
    // same index formula spelled out in both engines — no reliance on
    // quantile_disc conventions). Exact percentile inherently buffers the
    // group (Spark's own percentile() does too); the 100 TB path is
    // approx_percentile (C17's HLL argument applies).
    Query("agg_percentile_disc", (s, d) => {
      lineitem(s, d).groupBy("l_returnflag")
        .agg(sortedPick(col("l_quantity"), 0.5).as("median_qty"),
          sortedPick(col("l_quantity"), 0.9).as("p90_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }, oracle =
      """SELECT l_returnflag,
        |       list_sort(list(l_quantity))[CAST(greatest(ceil(0.5 * COUNT(*)), 1) AS INT)] AS median_qty,
        |       list_sort(list(l_quantity))[CAST(greatest(ceil(0.9 * COUNT(*)), 1) AS INT)] AS p90_qty,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // C14b' — exact GLOBAL percentiles at fact scale (round 15): the
    // operation the comment above writes off for groups ("exact
    // percentile inherently buffers") is tractable globally without any
    // buffering: Prefix.runningAggs ranks the whole fact projection with
    // the 2-pass partition-prefix scheme (range exchange + slice-local
    // positions + a ≤|slices|-row offset pass — no task holds more than
    // its ~1M-row slice), and each requested percentile is one EQUI-join
    // probe against a 4-row broadcast of target ranks. The rank target
    // is the shared ceil spelling ⌈n·pct/100⌉ = (n·pct + 99) DIV 100 in
    // both engines; the (cents, o_orderkey) order is total, so each
    // picked row is unique. 100 TB: one range shuffle of a 2-column
    // projection + a broadcast probe — the cost class of a global sort,
    // for an EXACT quantile where approx_percentile (C17) only bounds.
    Query("agg_percentile_exact", (s, d) => {
      val cents = orders(s, d).select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
        .localCheckpoint() // feeds the rank AND the count — one scan
      val ranked = graft.operators.Prefix.runningAggs(cents,
        Seq(col("cents").asc, col("o_orderkey").asc), col("cents"),
        rnOut = Some("i"))
      val tot = cents.agg(count(lit(1)).as("n"))
      val pcts = s.range(0, 1).select(
        explode(array(lit(25), lit(50), lit(75), lit(99))).as("pct"))
      val targets = pcts.crossJoin(broadcast(tot))
        .select(col("pct"), expr("(n * pct + 99) DIV 100").as("i"))
      ranked.join(broadcast(targets), Seq("i"))
        .select(col("pct"), col("cents").as("value_cents"))
        .orderBy("pct")
    }, oracle =
      // the independent spelling: a window ROW_NUMBER rank replayed against
      // the identical (n·pct + 99) // 100 target formula; // is DuckDB
      // floor division (non-negative operands, = Spark's DIV)
      """WITH c AS (
        |  SELECT o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT cents,
        |             ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS i
        |      FROM c),
        |t AS (SELECT COUNT(*) AS n FROM c),
        |p AS (SELECT * FROM (VALUES (25), (50), (75), (99)) AS v(pct))
        |SELECT p.pct, r.cents AS value_cents
        |FROM r, t, p
        |WHERE r.i = (t.n * p.pct + 99) // 100
        |ORDER BY p.pct""".stripMargin),
    // C14b''' — exact PER-GROUP percentiles via the VALUE-DOMAIN grid
    // (rerouted round 16, the r15 verdict's top item): the grouped
    // companion of agg_percentile_exact, and the scale answer to
    // agg_percentile_disc's buffering (sortedPick collects each group's
    // values — fine at |group| ≤ memory, a wall past it). The round-15
    // spelling ranked every raw fact row (38.4M at x64, 24.1 s) when the
    // IDENTICAL exact answer falls out of the bounded distinct grid —
    // the agg_weighted_median discipline: pre-aggregate to (flag, qc)
    // counts (one map-side-combinable agg), Prefix.runningAggsByKey the
    // counts per flag, and the pct-p pick is min(qc) where
    // cum ≥ ⌈n·pct/100⌉ = (n·pct+99) DIV 100 (the shared ceil spelling).
    // Equivalence: rank i lands inside the run of equal-qc rows whose
    // cumulative count first reaches i, so the grid pick IS the per-row
    // rank pick — no tiebreak columns needed, the grid order on qc is
    // total. 100 TB: the cumulative's input drops from |fact| to
    // |distinct (flag, qc)| — value-domain-bounded, constant under row
    // growth — and only the count agg ever touches the fact table.
    Query("agg_percentile_exact_group", (s, d) => {
      val grid = lineitem(s, d).select(col("l_returnflag"),
        (col("l_quantity").cast("decimal(18,2)") * 100)
          .cast("long").as("qc"))
        .groupBy("l_returnflag", "qc").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds the cumulative AND the totals — one agg
      val counts = grid.groupBy("l_returnflag").agg(sum("cnt").as("n"))
      val cum = graft.operators.Prefix.runningAggsByKey(grid,
        Seq("l_returnflag"), Seq(col("qc").asc), col("cnt"),
        sumOut = Some("cum"))
      val pcts = s.range(0, 1).select(
        explode(array(lit(25), lit(50), lit(75), lit(99))).as("pct"))
      val targets = counts.crossJoin(pcts)
        .select(col("l_returnflag"), col("pct"),
          expr("(n * pct + 99) DIV 100").as("i"))
      cum.join(broadcast(targets), Seq("l_returnflag"))
        .filter(col("cum") >= col("i"))
        .groupBy("l_returnflag", "pct")
        .agg(min(col("qc")).as("value_cents"))
        .orderBy("l_returnflag", "pct")
    }, oracle =
      // the grouped replay: a per-flag ROW_NUMBER rank + per-flag counts
      // against the identical ceil target formula
      """WITH c AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |           AS BIGINT) AS qc
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, qc,
        |             ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |               ORDER BY qc, l_orderkey, l_linenumber) AS i
        |      FROM c),
        |t AS (SELECT l_returnflag, COUNT(*) AS n FROM c
        |      GROUP BY l_returnflag),
        |p AS (SELECT * FROM (VALUES (25), (50), (75), (99)) AS v(pct))
        |SELECT r.l_returnflag, p.pct, r.qc AS value_cents
        |FROM r
        |JOIN t ON r.l_returnflag = t.l_returnflag, p
        |WHERE r.i = (t.n * p.pct + 99) // 100
        |ORDER BY r.l_returnflag, p.pct""".stripMargin),
    // C14c — sample variance/stddev from exact decimal moments: sum and
    // sum-of-squares are order-independent decimals, the final formula is
    // the same three IEEE ops in both engines.
    Query("agg_variance", (s, d) => {
      val sx = sum(dec(col("l_quantity")) * dec(col("l_quantity")))
        .cast("double")
      val s1 = decSum(col("l_quantity"))
      val n = count(lit(1))
      val variance = (sx - s1 * s1 / n) / (n - lit(1))
      lineitem(s, d).groupBy("l_returnflag")
        .agg(variance.as("var_qty"), sqrt(variance).as("stddev_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }, oracle =
      """SELECT l_returnflag,
        |       (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |        - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
        |       / (COUNT(*) - 1) AS var_qty,
        |       sqrt((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |        - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
        |       / (COUNT(*) - 1)) AS stddev_qty,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // C16b — incremental aggregate maintenance: a materialized per-customer
    // aggregate is updated by MERGING a delta batch's aggregate into it —
    // sum-of-sums and sum-of-counts — never by re-reading base rows. THE
    // pattern that turns a 100 TB nightly recompute into a delta-sized job:
    // the merge input is two vocabulary-sized aggregate tables. Partial
    // sums stay exact decimals until the final surface cast, so
    // merge-then-recompute equality is bit-exact — and the oracle IS the
    // full recompute, so that equality is what the gate checks.
    Query("agg_incremental_merge", (s, d) => {
      def aggOf(df: DataFrame) = df.groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("t"))
      val base = aggOf(orders(s, d).filter(col("o_orderkey") % 10 =!= 0))
      val delta = aggOf(orders(s, d).filter(col("o_orderkey") % 10 === 0))
      base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(sum(col("n")).as("n_orders"),
          sum(col("t")).cast("double").as("total"))
        .orderBy("o_custkey")
    }, oracle =
      // the oracle is the FULL recompute — the merge must equal it exactly
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    // C14b' — WEIGHTED median (round 14b): the median price a unit of
    // QUANTITY was sold at, per return flag — the volume-weighted center a
    // plain median misreads whenever cheap lines carry most of the volume.
    // Lower weighted median, exact integers end to end: prices and weights
    // land as cents longs, per-(flag, cents) weights are one map-side-
    // combinable agg, the cumulative runs over the VALUE-DOMAIN-BOUNDED
    // distinct-cents grid (the profile_ks_drift discipline — the corpus
    // never enters a window), and the pick is min(cents) where 2·cum ≥
    // total. Headroom: Σw ≤ 5000·n fits a long to n ≈ 1.8·10¹⁵ rows.
    // 100 TB: one count pass + the grid cumulative via
    // Prefix.runningAggsByKey (round 15 — the grouped 2-pass
    // partition-prefix cumsum this comment used to merely name at the
    // ~5·10⁷-distinct-cents cutover): a flag whose cents domain outgrows
    // one partition spreads across range slices with per-(slice, flag)
    // offsets stitching it back — no per-group single-task funnel; the
    // totals side is 3 rows.
    Query("agg_weighted_median", (s, d) => {
      val li = lineitem(s, d).select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"),
        (col("l_quantity").cast("decimal(18,2)") * 100)
          .cast("long").as("w"))
      // ONE materialization of the grid feeds BOTH the totals side and
      // the prefix (which detects the LogicalRDD and skips its own
      // checkpoint) — without it the totals branch recomputed the full
      // lineitem aggregation from scratch (measured 22.6 s vs 8.6 s at
      // the x64 staging)
      val per = li.groupBy("l_returnflag", "cents").agg(sum("w").as("wv"))
        .localCheckpoint()
      val tot = per.groupBy("l_returnflag").agg(sum("wv").as("wtot"))
      graft.operators.Prefix.runningAggsByKey(per, Seq("l_returnflag"),
          Seq(col("cents").asc), col("wv"), sumOut = Some("cum"))
        .join(broadcast(tot), Seq("l_returnflag"))
        .filter(col("cum") * 2 >= col("wtot"))
        .groupBy("l_returnflag")
        .agg(min(col("cents")).as("wmedian_cents"),
          min(col("wtot")).as("total_weight"))
        .orderBy("l_returnflag")
    }, oracle =
      // the same distinct-cents grid + lower-median pick; HUGEINT-free (the
      // 2·cum compare stays far inside BIGINT)
      """WITH li AS (
        |  SELECT l_returnflag,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT) AS cents,
        |         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |           AS BIGINT) AS w
        |  FROM lineitem),
        |per AS (
        |  SELECT l_returnflag, cents, SUM(w) AS wv
        |  FROM li GROUP BY l_returnflag, cents),
        |tot AS (
        |  SELECT l_returnflag, CAST(SUM(wv) AS BIGINT) AS wtot
        |  FROM per GROUP BY l_returnflag),
        |cum AS (
        |  SELECT l_returnflag, cents,
        |         SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY cents
        |                       ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM per)
        |SELECT c.l_returnflag,
        |       MIN(c.cents) AS wmedian_cents,
        |       MIN(t.wtot) AS total_weight
        |FROM cum c JOIN tot t ON c.l_returnflag = t.l_returnflag
        |WHERE c.cum * 2 >= t.wtot
        |GROUP BY c.l_returnflag
        |ORDER BY c.l_returnflag""".stripMargin),
    // C14d — data-profiling histogram: fixed-width value buckets with
    // counts, per-bucket min/max, and mass share. One map-side-combined
    // pass; the share divides by a global-window total over the ~30 bucket
    // rows (post-aggregation — never a funnel of raw rows).
    Query("profile_histogram", (s, d) => {
      val h = orders(s, d)
        .groupBy(floor(col("o_totalprice") / 20000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
      h.withColumn("pct",
          col("n").cast("double") / sum(col("n")).over(Window.partitionBy()))
        .orderBy("bucket")
    }, oracle =
      """WITH h AS (
        |  SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bucket,
        |         COUNT(*) AS n, MIN(o_totalprice) AS min_price,
        |         MAX(o_totalprice) AS max_price
        |  FROM orders GROUP BY 1)
        |SELECT bucket, n, min_price, max_price,
        |       CAST(n AS DOUBLE) / CAST((SELECT SUM(n) FROM h) AS DOUBLE) AS pct
        |FROM h ORDER BY bucket""".stripMargin),
    // C14g' — Benford first-digit profile (round 12): the data-quality /
    // fraud screen (Benford 1938; Nigrini's audit practice) — natural
    // multi-magnitude amounts follow P(d) = log10(1+1/d), and fabricated
    // or truncated feeds don't. First significant digit comes from the
    // cents STRING (amounts are positive, so no sign handling); observed
    // share is integer q6; the expected Benford shares are the NINE fixed
    // constants ⌊log10(1+1/d)·10⁶+0.5⌋ inlined identically in both
    // engines — precomputed integers, so no transcendental runs at query
    // time and no margin discipline is needed. 100 TB shape: map-side
    // digit extract + a 9-row agg; totals re-aggregated from that table
    // and broadcast back (the profile_drift shape).
    Query("profile_benford", (s, d) => {
      val benfordQ6 = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
        66947L, 57992L, 51153L, 45757L)
      val per = orders(s, d)
        .select(expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
        .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS INT)")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = per.agg(sum("n").as("total"))
      per.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("n * 1000000L DIV total").as("pct_q6"),
          element_at(array(benfordQ6.map(lit): _*), col("digit"))
            .as("benford_q6"))
        .withColumn("dev_q6", col("pct_q6") - col("benford_q6"))
        .orderBy("digit")
    }, oracle =
      // the nine Benford constants are precomputed ⌊log10(1+1/d)·1e6+0.5⌋
      // integers inlined in both engines — no runtime transcendental
      """WITH c AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders),
        |per AS (
        |  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT)
        |           AS digit,
        |         COUNT(*) AS n
        |  FROM c GROUP BY 1),
        |tot AS (SELECT SUM(n) AS total FROM per),
        |b AS (
        |  SELECT digit, n,
        |         CAST(n * 1000000 // total AS BIGINT) AS pct_q6,
        |         CAST(CASE digit
        |           WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
        |           WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
        |           WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757
        |         END AS BIGINT) AS benford_q6
        |  FROM per, tot)
        |SELECT digit, n, pct_q6, benford_q6, pct_q6 - benford_q6 AS dev_q6
        |FROM b ORDER BY digit""".stripMargin),
    // C14h — deterministic MODE (most frequent value per group, smallest
    // value winning count ties — a bare mode() is nondeterministic on
    // ties, the first()-without-ordering trap): one map-side-combined
    // count to a |statuses × priorities| table, then a rank over THAT
    // post-aggregate — the window never sees raw rows.
    Query("agg_mode", (s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(desc("cnt"), asc("o_orderpriority"))
      orders(s, d).groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("cnt"))
        .orderBy("o_orderstatus")
    }, oracle =
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT o_orderstatus, o_orderpriority, cnt,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY cnt DESC, o_orderpriority ASC) AS rn
        |  FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin),
    // C14i — activity heatmap (day-of-week × hour), the time-profile
    // counterpart of profile_histogram. Dialect: Spark dayofweek is
    // 1-based Sunday=1, DuckDB's is 0-based Sunday=0 — the oracle adds 1.
    Query("profile_time_heatmap", (s, d) => {
      events(s, d)
        .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
        .orderBy("dow", "hr")
    }, oracle =
      """SELECT dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
        |       hour(CAST(ts AS TIMESTAMP)) AS hr,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin),
    // C14i' — two-period categorical drift (round 8): the monitoring
    // readout a production pipeline alarms on when an upstream source
    // changes shape. Events split at a fixed calendar boundary (the
    // fixture window's midpoint, Jan 16); per event_type the early/late
    // counts, the share of each period in q6 INTEGER FIXED POINT
    // (n·1e6 DIV total — all non-negative, truncate ≡ floor), their
    // delta, and the Pearson chi-square cell statistic as the EXACT
    // RATIONAL (num, den) = ((o1·T2 − o2·T1)², T1·T2·(o1+o2)) — the 2×k
    // per-cell decomposition with the constant N factor left to the
    // reader, so every value is an exact long. Every multiply is
    // try_multiply + raise_error (the collocation_pmi overflow
    // discipline): at a corpus scale where o·T wraps, the query fails
    // loudly instead of silently diverging from DuckDB's HUGEINT.
    // 100 TB shape: one map-side-combined groupBy to a |event_type|-sized
    // table, totals re-aggregated from THAT table (never a second scan)
    // and broadcast back as one row.
    Query("profile_drift", (s, d) => {
      val cut = lit("2024-01-16").cast("timestamp")
      val per = events(s, d)
        .groupBy("event_type").agg(
          sum(when(col("ts") < cut, 1L).otherwise(0L)).as("n_early"),
          sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("n_late"))
      val tot = per.agg(sum("n_early").as("t_early"),
        sum("n_late").as("t_late"))
      def guarded(e: String, what: String) =
        s"coalesce(try_multiply($e), raise_error('profile_drift $what overflow'))"
      per.crossJoin(broadcast(tot))
        .withColumn("share_early_q6", expr("n_early * 1000000L DIV t_early"))
        .withColumn("share_late_q6", expr("n_late * 1000000L DIV t_late"))
        .withColumn("xd", expr(
          s"${guarded("n_early, t_late", "cross")} - ${guarded("n_late, t_early", "cross")}"))
        .select(col("event_type"), col("n_early"), col("n_late"),
          col("share_early_q6"), col("share_late_q6"),
          (col("share_late_q6") - col("share_early_q6")).as("delta_q6"),
          expr(guarded("xd, xd", "num")).as("chi2_num"),
          expr(s"${guarded(s"${guarded("t_early, t_late", "den")}, n_early + n_late", "den")}")
            .as("chi2_den"))
        .orderBy("event_type")
    }, oracle =
      """WITH e AS (SELECT event_type, COUNT(*) AS n_early FROM events
        |           WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
        |           GROUP BY 1),
        |l AS (SELECT event_type, COUNT(*) AS n_late FROM events
        |      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
        |      GROUP BY 1),
        |j AS (SELECT COALESCE(e.event_type, l.event_type) AS event_type,
        |             COALESCE(n_early, 0) AS n_early,
        |             COALESCE(n_late, 0) AS n_late
        |      FROM e FULL OUTER JOIN l ON e.event_type = l.event_type),
        |t AS (SELECT SUM(n_early) AS t_early, SUM(n_late) AS t_late FROM j)
        |SELECT event_type, n_early, n_late,
        |       CAST(n_early * 1000000 // t_early AS BIGINT) AS share_early_q6,
        |       CAST(n_late * 1000000 // t_late AS BIGINT) AS share_late_q6,
        |       CAST(n_late * 1000000 // t_late
        |          - n_early * 1000000 // t_early AS BIGINT) AS delta_q6,
        |       CAST((n_early * t_late - n_late * t_early)
        |          * (n_early * t_late - n_late * t_early) AS BIGINT) AS chi2_num,
        |       CAST(t_early * t_late * (n_early + n_late) AS BIGINT) AS chi2_den
        |FROM j CROSS JOIN t ORDER BY event_type""".stripMargin),
    // C14d2 — two-sample Kolmogorov-Smirnov drift (round 14): D =
    // max_v |ECDF_A(v) − ECDF_B(v)| between adjacent order years' price
    // distributions — the standard distribution-shift test next to
    // profile_drift's per-category chi-square (KS sees SHAPE changes a
    // category share test cannot). Exact integer form: prices to cents,
    // D's numerator max|n_b·cumA − n_a·cumB| over the distinct-value
    // grid (the ECDF only jumps there), never a float ECDF; cross
    // products run in DECIMAL(38,0) (n_a·n_b ≤ 2⁶³ fails past ~3·10⁹
    // rows/side — the oracle's HUGEINT agrees exactly). Scale: the
    // cumulative runs over the DISTINCT-cents table — value-domain-
    // bounded (≤ ~5·10⁷ rows for any corpus; a 2-pass partition-prefix
    // cumsum replaces the single-partition window beyond that), while
    // the corpus itself contributes only one map-side-combinable count
    // pass.
    Query("profile_ks_drift", (s, d) => {
      val o = orders(s, d).select(
        year(to_date(col("o_orderdate"))).as("y"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
        .filter(col("y").isin(1995, 1996))
      val per = o.groupBy("cents").agg(
        sum(when(col("y") === 1995, 1L).otherwise(0L)).as("na_v"),
        sum(when(col("y") === 1996, 1L).otherwise(0L)).as("nb_v"))
      val tot = per.agg(sum("na_v").as("n_a"), sum("nb_v").as("n_b"))
      val w = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.withColumn("cum_a", sum("na_v").over(w))
        .withColumn("cum_b", sum("nb_v").over(w))
        .crossJoin(broadcast(tot))
        .select(expr("abs(CAST(n_b AS DECIMAL(38,0)) * cum_a - " +
          "CAST(n_a AS DECIMAL(38,0)) * cum_b)").as("dnum"),
          col("n_a"), col("n_b"))
        .agg(max("dnum").as("dmax"), max("n_a").as("n_a"),
          max("n_b").as("n_b"))
        .select(col("dmax").cast("long").as("d_num"), col("n_a"), col("n_b"),
          expr("CAST(dmax * 1000000 DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) " +
            "AS BIGINT)").as("d_q6"))
    }, oracle =
      // independent spelling: two period CTEs full-outer-joined (a missing
      // type in one period must still surface), vs the Spark conditional-sum
      // pivot; // and DIV agree on non-negatives, BIGINT products are exact
      // the distinct-cents ECDF grid with HUGEINT cross products — the
      // integer KS numerator, never a float ECDF
      """WITH o AS (
        |  SELECT EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS y,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders
        |  WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) IN (1995, 1996)),
        |per AS (
        |  SELECT cents,
        |         SUM(CASE WHEN y = 1995 THEN 1 ELSE 0 END) AS na_v,
        |         SUM(CASE WHEN y = 1996 THEN 1 ELSE 0 END) AS nb_v
        |  FROM o GROUP BY cents),
        |cum AS (
        |  SELECT cents,
        |         SUM(na_v) OVER (ORDER BY cents) AS cum_a,
        |         SUM(nb_v) OVER (ORDER BY cents) AS cum_b
        |  FROM per),
        |t AS (SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
        |             CAST(SUM(nb_v) AS BIGINT) AS n_b FROM per),
        |m AS (SELECT MAX(ABS(CAST(n_b AS HUGEINT) * cum_a -
        |                     CAST(n_a AS HUGEINT) * cum_b)) AS dmax
        |      FROM cum, t)
        |SELECT CAST(dmax AS BIGINT) AS d_num, n_a, n_b,
        |       CAST(dmax * 1000000 // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
        |         AS d_q6
        |FROM m, t""".stripMargin),
    // C14d3 — Gini coefficient of per-customer revenue (round 14): the
    // one-number concentration audit ("do 1% of customers carry 50% of
    // revenue?") every skew mitigation decision starts from — the
    // continuous companion of abc_classification's fixed 80/15/5 tiers.
    // Exact closed form over the ascending sort: G = (2·Σ i·xᵢ −
    // (n+1)·Σx) / (n·Σx), 1-indexed — all products in DECIMAL(38,0)
    // (i·xᵢ ≤ n²·max_cents passes 2⁶³ near n ≈ 10⁵ already), quantized
    // q6 by integer DIV; ties in cents leave Σ i·xᵢ invariant, the
    // custkey tiebreak just makes the rank deterministic. Scale: one
    // map-side-combinable per-customer agg, then the global rank via
    // Prefix.runningAggs — the 2-pass partition-prefix scheme (range
    // exchange + partition-local position + a ≤|partitions|-row offset
    // window), so NO single task ever consumes the |customers| table
    // (round 15: the promised primitive, built; PlanSpec pins the shape).
    Query("profile_gini", (s, d) => {
      val rev = orders(s, d).filter(col("o_custkey").isNotNull)
        .groupBy("o_custkey")
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      graft.operators.Prefix.runningAggs(rev,
          Seq(col("cents").asc, col("o_custkey").asc), col("cents"),
          rnOut = Some("i"))
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"),
          sum(expr("CAST(i AS DECIMAL(38,0)) * cents")).as("iw"))
        .select(col("n"), col("total_cents").cast("long").as("total_cents"),
          expr("CAST((2 * iw - (n + 1) * CAST(total_cents AS DECIMAL(38,0)))" +
            " * 1000000 DIV (CAST(n AS DECIMAL(38,0)) * total_cents)" +
            " AS BIGINT)").as("gini_q6"))
    }, oracle =
      // the ascending-rank closed form with HUGEINT products
      """WITH rev AS (
        |  SELECT o_custkey,
        |         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT)) AS cents
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey),
        |r AS (SELECT cents,
        |             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
        |      FROM rev)
        |SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents,
        |       CAST((2 * SUM(CAST(i AS HUGEINT) * cents)
        |              - (COUNT(*) + 1) * CAST(SUM(cents) AS HUGEINT))
        |            * 1000000
        |            // (CAST(COUNT(*) AS HUGEINT) * SUM(cents)) AS BIGINT)
        |         AS gini_q6
        |FROM r""".stripMargin),
    // C14d4 — functional-dependency audit (round 14b): for each candidate
    // FD det→dep, how many determinant values map to >1 distinct
    // dependent — the Metanome-class profiling readout that validates a
    // claimed key ("orderkey determines custkey": holds) and quantifies
    // how badly a hoped-for rule fails ("a customer always uses one
    // priority": doesn't) before anyone builds a dedup or a dimension on
    // it. Per candidate: one exact distinct-pair pass (groupBy det,
    // count_distinct dep — the two-level shuffle Spark plans for a single
    // distinct), then a 1-row summary; violation rate in q6 by integer
    // DIV. The report is |candidates| rows; candidates scan project only
    // their two columns. 100 TB: each candidate is one map-side-
    // combinable pass over (det, dep) pairs — the union is a handful of
    // independent jobs, never a cross of them.
    Query("profile_funcdep", (s, d) => {
      def fd(name: String, det: Column, dep: Column): DataFrame =
        orders(s, d).groupBy(det.as("k"))
          .agg(count_distinct(dep).as("ndep"))
          .agg(count(lit(1)).as("n_det"),
            sum(when(col("ndep") > 1, 1L).otherwise(0L)).as("n_violating"),
            max(col("ndep")).as("max_dep"))
          .select(lit(name).as("fd"), col("n_det"), col("n_violating"),
            col("max_dep"),
            expr("n_violating * 1000000 DIV n_det").as("viol_rate_q6"))
      fd("o_orderkey->o_custkey", col("o_orderkey"), col("o_custkey"))
        .unionByName(fd("o_custkey->o_orderpriority",
          col("o_custkey"), col("o_orderpriority")))
        .unionByName(fd("o_orderdate->o_orderstatus",
          to_date(col("o_orderdate")), col("o_orderstatus")))
        .orderBy("fd")
    }, oracle =
      // independent spelling: each candidate is one grouped HAVING-free
      // pass; // is DuckDB integer division on non-negatives
      """WITH c1 AS (
        |  SELECT COUNT(*) AS n_det,
        |         CAST(SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_violating,
        |         MAX(ndep) AS max_dep
        |  FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS ndep
        |        FROM orders GROUP BY o_orderkey) t),
        |c2 AS (
        |  SELECT COUNT(*) AS n_det,
        |         CAST(SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_violating,
        |         MAX(ndep) AS max_dep
        |  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS ndep
        |        FROM orders GROUP BY o_custkey) t),
        |c3 AS (
        |  SELECT COUNT(*) AS n_det,
        |         CAST(SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_violating,
        |         MAX(ndep) AS max_dep
        |  FROM (SELECT CAST(o_orderdate AS DATE) AS det,
        |               COUNT(DISTINCT o_orderstatus) AS ndep
        |        FROM orders GROUP BY det) t)
        |SELECT fd, n_det, n_violating, max_dep,
        |       CAST(n_violating * 1000000 // n_det AS BIGINT) AS viol_rate_q6
        |FROM (
        |  SELECT 'o_orderkey->o_custkey' AS fd, * FROM c1
        |  UNION ALL
        |  SELECT 'o_custkey->o_orderpriority' AS fd, * FROM c2
        |  UNION ALL
        |  SELECT 'o_orderdate->o_orderstatus' AS fd, * FROM c3) u
        |ORDER BY fd""".stripMargin),
    // C14d6 — referential-integrity coverage profile (round 14c): per
    // declared FK, how many child rows actually resolve to a parent —
    // the data-contract audit every DQ suite runs before anyone trusts a
    // join (an orphan rate that drifts up is the first symptom of a
    // broken upstream load; etl_delete_cascade_audit checks ONE delete
    // batch, this profiles the standing relationship). NULL keys are
    // reported separately — a NULL FK is "unknown", not an orphan. Per
    // FK: one left-semi count against the parent key set (equi join —
    // co-partitioned at 100 TB, broadcast when the parent is a dim) + a
    // map-side null/row count; coverage_q6 by integer DIV over non-null
    // rows. Report is |FKs| rows.
    Query("profile_fk_coverage", (s, d) => {
      def fk(name: String, child: DataFrame, key: Column,
          parent: DataFrame, pkey: Column): DataFrame = {
        val ch = child.select(key.as("k"))
        val base = ch.agg(count(lit(1)).as("n_rows"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_key"))
        val matched = ch.filter(col("k").isNotNull)
          .join(parent.select(pkey.as("pk")),
            col("k") === col("pk"), "left_semi")
          .agg(count(lit(1)).as("n_matched"))
        base.crossJoin(broadcast(matched))
          .select(lit(name).as("fk"), col("n_rows"), col("n_null_key"),
            col("n_matched"),
            (col("n_rows") - col("n_null_key") - col("n_matched"))
              .as("n_orphans"),
            expr("n_matched * 1000000 DIV (n_rows - n_null_key)")
              .as("coverage_q6"))
      }
      fk("orders.o_custkey->customer", orders(s, d), col("o_custkey"),
          customer(s, d), col("c_custkey"))
        .unionByName(
          fk("lineitem.l_orderkey->orders", lineitem(s, d),
            col("l_orderkey"), orders(s, d), col("o_orderkey")))
        .orderBy("fk")
    }, oracle =
      // each FK's counts from EXISTS subqueries — an independent
      // construction of the Spark side's semi-join counts
      """WITH f1 AS (
        |  SELECT COUNT(*) AS n_rows,
        |         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |           AS n_null_key,
        |         SUM(CASE WHEN o_custkey IS NOT NULL AND EXISTS (
        |               SELECT 1 FROM customer c
        |               WHERE c.c_custkey = o.o_custkey)
        |             THEN 1 ELSE 0 END) AS n_matched
        |  FROM orders o),
        |f2 AS (
        |  SELECT COUNT(*) AS n_rows,
        |         SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |           AS n_null_key,
        |         SUM(CASE WHEN l_orderkey IS NOT NULL AND EXISTS (
        |               SELECT 1 FROM orders o
        |               WHERE o.o_orderkey = l.l_orderkey)
        |             THEN 1 ELSE 0 END) AS n_matched
        |  FROM lineitem l)
        |SELECT fk, n_rows, CAST(n_null_key AS BIGINT) AS n_null_key,
        |       CAST(n_matched AS BIGINT) AS n_matched,
        |       CAST(n_rows - n_null_key - n_matched AS BIGINT)
        |         AS n_orphans,
        |       CAST(n_matched * 1000000 // (n_rows - n_null_key)
        |            AS BIGINT) AS coverage_q6
        |FROM (
        |  SELECT 'orders.o_custkey->customer' AS fk, * FROM f1
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey->orders' AS fk, * FROM f2) u
        |ORDER BY fk""".stripMargin),
    // C14d5 — frequent-values profile (round 14c): per column, the top-3
    // most common values with counts and mass share — the "what's
    // actually in this column" readout every data catalog shows next to
    // profile_columns' cardinalities (and the input to dictionary/RLE
    // encoding decisions). Per column: ONE map-side-combinable count
    // pass; the ranking window and the per-column total run on the
    // |distinct-values|-bounded count table, never the corpus (the ties
    // break on value, so top-3 is deterministic). Report ≤ 3·|columns|
    // rows; share_q6 by integer DIV.
    Query("profile_frequent_values", (s, d) => {
      def topOf(name: String): DataFrame =
        orders(s, d).groupBy(col(name).cast("string").as("value"))
          .agg(count(lit(1)).as("n"))
          .select(lit(name).as("column"), col("value"), col("n"))
      val counts = Seq("o_orderstatus", "o_orderpriority")
        .map(topOf).reduce(_ unionByName _)
      // NULLS LAST explicitly: Spark's asc defaults NULLS FIRST, DuckDB's
      // ORDER BY defaults NULLS LAST — a NULL value group tying at the
      // top-3 boundary would otherwise rank differently per engine
      // (latent on the current non-null columns; review find)
      val byCol = Window.partitionBy("column")
      val rank = Window.partitionBy("column")
        .orderBy(desc("n"), asc_nulls_last("value"))
      counts.withColumn("tot", sum("n").over(byCol))
        .withColumn("rk", row_number().over(rank))
        .filter(col("rk") <= 3)
        .select(col("column"), col("rk"), col("value"), col("n"),
          expr("n * 1000000 DIV tot").as("share_q6"))
        .orderBy("column", "rk")
    }, oracle =
      // independent spelling: per-column counts as separate CTEs, the rank
      // and total as window functions over the union
      """WITH c1 AS (
        |  SELECT 'o_orderstatus' AS "column",
        |         CAST(o_orderstatus AS VARCHAR) AS value, COUNT(*) AS n
        |  FROM orders GROUP BY 2),
        |c2 AS (
        |  SELECT 'o_orderpriority' AS "column",
        |         CAST(o_orderpriority AS VARCHAR) AS value, COUNT(*) AS n
        |  FROM orders GROUP BY 2),
        |u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2),
        |r AS (
        |  SELECT "column", value, n,
        |         SUM(n) OVER (PARTITION BY "column") AS tot,
        |         row_number() OVER (PARTITION BY "column"
        |                            ORDER BY n DESC, value NULLS LAST)
        |           AS rk
        |  FROM u)
        |SELECT "column", rk, value, n,
        |       CAST(n * 1000000 // tot AS BIGINT) AS share_q6
        |FROM r WHERE rk <= 3
        |ORDER BY "column", rk""".stripMargin),
    // C14d' — key-skew profile: the measurement that justifies (or
    // refuses) a salted join. Group sizes for the candidate shuffle key,
    // then max/median/p99 size and the skew factor max/mean — the number
    // that says whether one key would serialize a task. Sizes are exact
    // integers and the two divisions are single IEEE ops, so the report is
    // bit-identical cross-engine. One map-side-combined count + a
    // key-cardinality-sized stats pass.
    Query("profile_skew", (s, d) => {
      val sizes = orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("sz"))
      sizes.agg(count(lit(1)).as("n_keys"),
          sum(col("sz")).as("n_rows"),
          max(col("sz")).as("max_sz"),
          sortedPick(col("sz"), 0.5).as("median_sz"),
          sortedPick(col("sz"), 0.99).as("p99_sz"),
          (max(col("sz")).cast("double") /
            (sum(col("sz")).cast("double") / count(lit(1)))).as("skew_factor"))
    }, oracle =
      """WITH sizes AS (
        |  SELECT o_custkey, COUNT(*) AS sz FROM orders GROUP BY o_custkey)
        |SELECT COUNT(*) AS n_keys,
        |       CAST(SUM(sz) AS BIGINT) AS n_rows,
        |       MAX(sz) AS max_sz,
        |       list_sort(list(sz))[CAST(greatest(ceil(0.5 * COUNT(*)), 1) AS INT)] AS median_sz,
        |       list_sort(list(sz))[CAST(greatest(ceil(0.99 * COUNT(*)), 1) AS INT)] AS p99_sz,
        |       CAST(MAX(sz) AS DOUBLE) / (CAST(SUM(sz) AS DOUBLE) / COUNT(*)) AS skew_factor
        |FROM sizes""".stripMargin),
    // C14e — z-score outlier detection over a derived metric (per-customer
    // spend): moments from exact decimal sums (the agg_variance
    // discipline), so mean/stddev/z are bit-identical across engines and
    // the |z| > 2.5 verdict set is oracle-hashable with no threshold-gap
    // caveat. 100 TB shape: one groupBy for the metric, a 1-row broadcast
    // of the moments, one linear verdict scan.
    Query("zscore_outliers", (s, d) => {
      val spend = orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("decimal(18,2)").as("s"))
      val m = spend.agg(count(lit(1)).as("n_cust"),
        sum(col("s")).cast("double").as("s1"),
        sum(col("s") * col("s")).cast("double").as("s2"))
      val z = (col("s").cast("double") - col("s1") / col("n_cust")) /
        sqrt((col("s2") - col("s1") * col("s1") / col("n_cust")) /
          (col("n_cust") - 1))
      spend.crossJoin(broadcast(m))
        .filter(abs(z) > 2.5)
        .select(col("o_custkey"), col("n_orders"),
          col("s").cast("double").as("spend"), round(z, 4).as("z"))
        .orderBy("o_custkey")
    }, oracle =
      """WITH spend AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |  FROM orders GROUP BY o_custkey),
        |m AS (
        |  SELECT COUNT(*) AS n_cust, CAST(SUM(s) AS DOUBLE) AS s1,
        |         CAST(SUM(s * s) AS DOUBLE) AS s2
        |  FROM spend),
        |calc AS (
        |  SELECT o_custkey, n_orders, CAST(s AS DOUBLE) AS spend,
        |         (CAST(s AS DOUBLE) - s1 / n_cust)
        |           / sqrt((s2 - s1 * s1 / n_cust) / (n_cust - 1)) AS z
        |  FROM spend, m)
        |SELECT o_custkey, n_orders, spend, round(z, 4) AS z
        |FROM calc WHERE abs(z) > 2.5 ORDER BY o_custkey""".stripMargin),
    // Seasonal (same-weekday) z-score anomalies (round 13) — the
    // calendar-aware sibling of zscore_outliers: each day's revenue is
    // compared against ITS WEEKDAY's distribution, so a naturally-quiet
    // Sunday isn't flagged merely for being a Sunday — the
    // seasonality-adjusted monitor timeseries_autocorr's weekly ACF peak
    // says this series needs. Float discipline (the zscore recipe):
    // daily cents are exact longs (one map-side-combinable daily agg);
    // per-weekday Σv is an exact long cast to double, Σv² rides
    // DECIMAL(38,0) (cents² ≈ 10¹⁷ × 350 days overflows a long) — both
    // order-independent — and z is ONE identically-spelled double
    // expression; round(.,4) display-only. Threshold 2.5 sits ≥ 1.6e-3
    // from every |z| at sf0.001/0.01/0.1 (measured; ~10⁶× the
    // identical-expression float noise), so the verdict set is
    // hash-stable. 100 TB: the daily agg is the only corpus-sized
    // shuffle; the 7-row weekday stats broadcast back onto the
    // CALENDAR-BOUNDED daily table.
    Query("timeseries_zscore_seasonal", (s, d) => {
      val daily = orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
        .withColumn("w", expr("weekday(day)"))
      val m = daily.groupBy("w").agg(count(lit(1)).as("n"),
        sum(col("cents")).cast("double").as("s1"),
        sum(col("cents").cast("decimal(38,0)") * col("cents"))
          .cast("double").as("s2"))
      val z = (col("cents").cast("double") - col("s1") / col("n")) /
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
          (col("n") - 1))
      daily.join(broadcast(m), Seq("w"))
        .filter(abs(z) > 2.5)
        .select(col("day"), col("w"), col("cents"), round(z, 4).as("z"))
        .orderBy("day")
    }, oracle =
      // weekday normalized to 0=Monday in both engines (Spark weekday();
      // DuckDB dayofweek() has 0=Sunday); sums exact, z identically spelled
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |wd AS (SELECT day, cents,
        |              CAST((dayofweek(day) + 6) % 7 AS INT) AS w FROM daily),
        |m AS (
        |  SELECT w, COUNT(*) AS n, CAST(SUM(cents) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE)
        |           AS s2
        |  FROM wd GROUP BY w),
        |calc AS (
        |  SELECT wd.day, wd.w, wd.cents,
        |         (CAST(wd.cents AS DOUBLE) - s1 / n)
        |           / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z
        |  FROM wd JOIN m USING (w))
        |SELECT day, w, cents, round(z, 4) AS z
        |FROM calc WHERE abs(z) > 2.5 ORDER BY day""".stripMargin),
    // Partition-skew profile (round 13) — the pre-shuffle planning
    // readout behind the salting decision (join_salted_skew APPLIES the
    // fix; this key MEASURES the imbalance a planner would react to):
    // rows are bucketed by the shuffle-key expression pmod(o_custkey, 32)
    // and the report is the bucket histogram's shape — bucket count,
    // min/max/total rows and skew_q6 = max·buckets·10⁶ DIV total (10⁶ =
    // perfectly even; AQE's skew-join trigger is the same max-vs-mean
    // read at 5×). All integer; ONE map-side-combinable bucket agg
    // (≤33 groups survive the combine) + a constant-size final agg.
    Query("profile_partition_skew", (s, d) => {
      val b = orders(s, d)
        .groupBy(pmod(col("o_custkey"), lit(32L)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"))
      b.agg(count(lit(1)).as("n_buckets"), sum(col("n_rows")).as("total"),
          min(col("n_rows")).as("min_rows"), max(col("n_rows")).as("max_rows"))
        .select(col("n_buckets"), col("total"), col("min_rows"),
          col("max_rows"),
          expr("max_rows * n_buckets * 1000000L DIV total").as("skew_q6"))
    }, oracle =
      // o_custkey is positive, so % equals pmod
      """WITH b AS (
        |  SELECT o_custkey % 32 AS bucket, COUNT(*) AS n_rows
        |  FROM orders GROUP BY 1)
        |SELECT COUNT(*) AS n_buckets, CAST(SUM(n_rows) AS BIGINT) AS total,
        |       CAST(MIN(n_rows) AS BIGINT) AS min_rows,
        |       CAST(MAX(n_rows) AS BIGINT) AS max_rows,
        |       CAST(MAX(n_rows) * COUNT(*) * 1000000 // SUM(n_rows)
        |         AS BIGINT) AS skew_q6
        |FROM b""".stripMargin),
    // C14e' — robust outliers by median absolute deviation, the companion
    // to zscore_outliers for skewed metrics where mean/stddev are dragged
    // by the tail. ENTIRELY in exact decimals: the median is an actual data
    // value (same explicit sort-and-select index as agg_percentile_disc),
    // deviations and the 3×MAD threshold are decimal subtraction/compare —
    // no float enters until the output surface, so the verdict set is
    // hashable with no threshold-gap analysis at all. Exact medians buffer
    // the value list (as agg_percentile_disc does); the 100 TB path swaps
    // in the GK sketch (agg_approx_percentile) for both picks.
    Query("anomaly_mad", (s, d) => {
      val spend = orders(s, d).groupBy("o_custkey")
        .agg(sum(dec(col("o_totalprice"))).cast("decimal(18,2)").as("s"))
      val med = spend.agg(sortedPick(col("s"), 0.5).as("med"))
      val dev = spend.crossJoin(broadcast(med))
        .withColumn("dev", abs(col("s") - col("med")))
      val mad = dev.agg(sortedPick(col("dev"), 0.5).as("mad"))
      dev.crossJoin(broadcast(mad))
        .filter(col("dev") > lit(3) * col("mad"))
        .select(col("o_custkey"), col("s").cast("double").as("spend"),
          col("dev").cast("double").as("dev"))
        .orderBy("o_custkey")
    }, oracle =
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |  FROM orders GROUP BY o_custkey),
        |med AS (
        |  SELECT list_sort(list(s))[CAST(greatest(ceil(0.5 * COUNT(*)), 1) AS INT)] AS med
        |  FROM spend),
        |dev AS (
        |  SELECT o_custkey, s, abs(s - med) AS dev FROM spend, med),
        |mad AS (
        |  SELECT list_sort(list(dev))[CAST(greatest(ceil(0.5 * COUNT(*)), 1) AS INT)] AS mad
        |  FROM dev)
        |SELECT o_custkey, CAST(s AS DOUBLE) AS spend, CAST(dev AS DOUBLE) AS dev
        |FROM dev, mad WHERE dev > 3 * mad
        |ORDER BY o_custkey""".stripMargin),
    // Tukey-fence outliers (round 6) — the third member of the outlier
    // family: zscore (parametric), MAD (robust-median), IQR fence (the
    // boxplot rule dashboards actually draw). ENTIRELY in integers:
    // per-customer spend rides as cents, the quartiles are actual data
    // values (the shared sortedPick index formula), and both fences
    // compare in 2× space — 2·cents < 5·q1 − 3·q3 IS cents < q1 − 1.5·IQR
    // with no fractional value ever materialized. Zero floats end to end,
    // no threshold-gap analysis needed. Quartiles buffer the value list
    // (agg_percentile_disc shape); the 100 TB path swaps in the GK sketch.
    // Month-over-month growth (round 13) — the period-over-period readout
    // every revenue dashboard heads with, as exact integers: monthly cents
    // (one map-side daily→monthly agg), previous month via lag over the
    // CALENDAR-BOUNDED monthly table, and growth_q6 = cents·10⁶ DIV prev
    // − 10⁶ — spelled so the integer division's operands are NON-NEGATIVE
    // (Spark DIV truncates toward zero, DuckDB // floors; they agree only
    // on non-negative operands, and a shrinking month would otherwise hit
    // the divergence). delta_cents is plain subtraction (sign-safe).
    // 100 TB: the monthly agg is the only fact shuffle; the lag window
    // runs on ~tens of calendar rows.
    Query("timeseries_mom_growth", (s, d) => {
      val monthly = orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      val w = Window.orderBy("month")
      monthly.withColumn("prev_cents", lag(col("cents"), 1).over(w))
        .filter(col("prev_cents").isNotNull)
        .select(col("month").cast("date").as("month"), col("cents"),
          col("prev_cents"),
          (col("cents") - col("prev_cents")).as("delta_cents"),
          expr("cents * 1000000 DIV prev_cents - 1000000").as("growth_q6"))
        .orderBy("month")
    }, oracle =
      // growth spelled as ratio − 1e6 so the integer division's operands
      // stay non-negative (// vs DIV agree only there)
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        |           AS month,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |l AS (SELECT month, cents,
        |             lag(cents) OVER (ORDER BY month) AS prev_cents
        |      FROM m)
        |SELECT CAST(month AS DATE) AS month, cents, prev_cents,
        |       cents - prev_cents AS delta_cents,
        |       CAST(cents * 1000000 // prev_cents - 1000000 AS BIGINT)
        |         AS growth_q6
        |FROM l WHERE prev_cents IS NOT NULL ORDER BY month""".stripMargin),
    Query("anomaly_iqr_fence", (s, d) => {
      val spend = orders(s, d).groupBy("o_custkey")
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"),
          count(lit(1)).as("n_orders"))
      val q = spend.agg(sortedPick(col("cents"), 0.25).as("q1"),
        sortedPick(col("cents"), 0.75).as("q3"))
      spend.crossJoin(broadcast(q))
        .withColumn("side",
          when(lit(2) * col("cents") < lit(5) * col("q1") - lit(3) * col("q3"),
            "low")
          .when(lit(2) * col("cents") > lit(5) * col("q3") - lit(3) * col("q1"),
            "high"))
        .filter(col("side").isNotNull)
        .select(col("o_custkey"), col("cents"), col("n_orders"), col("side"))
        .orderBy(desc("cents"), asc("o_custkey"))
    }, oracle =
      // the 2× space comparison: 2·cents vs 5·q1−3·q3 / 5·q3−3·q1 — the
      // 1.5·IQR fences with no fractional value ever materialized
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS cents,
        |         COUNT(*) AS n_orders
        |  FROM orders GROUP BY o_custkey),
        |q AS (
        |  SELECT list_sort(list(cents))[CAST(greatest(ceil(0.25 * COUNT(*)), 1) AS INT)] AS q1,
        |         list_sort(list(cents))[CAST(greatest(ceil(0.75 * COUNT(*)), 1) AS INT)] AS q3
        |  FROM spend)
        |SELECT o_custkey, cents, n_orders,
        |       CASE WHEN 2 * cents < 5 * q1 - 3 * q3 THEN 'low'
        |            ELSE 'high' END AS side
        |FROM spend, q
        |WHERE 2 * cents < 5 * q1 - 3 * q3 OR 2 * cents > 5 * q3 - 3 * q1
        |ORDER BY cents DESC, o_custkey""".stripMargin),
    // Tukey fences via the GK sketch (round 8; r7 verdict #5) — the
    // "100 TB quartile path" anomaly_iqr_fence's comment names, now
    // implemented instead of described: same integer-cents spend table and
    // the same 2×-space fence compare, but q1/q3 come from
    // percentile_approx (mergeable GK sketch — one map-side-combined pass,
    // fixed memory) instead of sortedPick's per-group value buffer, so the
    // quartile step scales like any other aggregate. percentile_approx
    // returns OBSERVED data values (rank error ≤ n/accuracy), so the
    // fences stay in exact integer space — the only approximation is WHICH
    // order statistic gets picked. Unit-tier like agg_approx_percentile
    // (DuckDB cannot replay the sketch); PlanSpec brackets both quartiles
    // and both fences between exact order statistics at rank ± the
    // sketch's error band.
    Query("anomaly_iqr_fence_approx", (s, d) => {
      val spend = orders(s, d).groupBy("o_custkey")
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"),
          count(lit(1)).as("n_orders"))
      val q = spend.agg(percentile_approx(col("cents"),
          array(lit(0.25), lit(0.75)), lit(10000)).as("qs"))
        .select(element_at(col("qs"), 1).as("q1"),
          element_at(col("qs"), 2).as("q3"))
      spend.crossJoin(broadcast(q))
        .withColumn("side",
          when(lit(2) * col("cents") < lit(5) * col("q1") - lit(3) * col("q3"),
            "low")
          .when(lit(2) * col("cents") > lit(5) * col("q3") - lit(3) * col("q1"),
            "high"))
        .filter(col("side").isNotNull)
        .select(col("o_custkey"), col("cents"), col("n_orders"), col("side"))
        .orderBy(desc("cents"), asc("o_custkey"))
    }),
    // C18b — multi-granularity time rollup: the (year, month) → (year) →
    // grand-total grouping-sets pyramid every calendar dashboard issues.
    // One pass — Spark expands grouping sets before the partial aggregate,
    // so the shuffle carries |groups| × 3 rows, not raw data per grain.
    Query.sql("rollup_time_grain", Seq("orders"),
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |       CAST(month(o_orderdate) AS INT) AS mon,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(GROUPING(year(o_orderdate)) AS INT) AS g_yr,
        |       CAST(GROUPING(month(o_orderdate)) AS INT) AS g_mon
        |FROM orders
        |GROUP BY GROUPING SETS ((year(o_orderdate), month(o_orderdate)),
        |                        (year(o_orderdate)), ())
        |ORDER BY g_yr, g_mon, yr ASC NULLS FIRST, mon ASC NULLS FIRST""".stripMargin),
    // C14b' — interpolated (continuous) percentiles, completing the family:
    // agg_percentile_disc picks data values, agg_approx_percentile sketches,
    // this interpolates between the two order statistics bracketing rank
    // p×(n-1). The rank arithmetic and the lerp are the same IEEE ops in
    // both engines (0.5×(n-1) is exact; 0.9's representation error is
    // shared), so no tolerance is needed. Same buffering caveat and GK
    // sketch scale path as the discrete form.
    Query("agg_percentile_cont", (s, d) => {
      val arr = sort_array(collect_list(col("l_extendedprice")))
      val n = count(lit(1))
      def pick(p: Double) = {
        val idx = lit(p) * (n - lit(1)).cast("double")
        val f = idx - floor(idx)
        element_at(arr, (floor(idx) + 1).cast("int")) * (lit(1.0) - f) +
          element_at(arr, (ceil(idx) + 1).cast("int")) * f
      }
      lineitem(s, d).groupBy("l_returnflag")
        .agg(pick(0.5).as("p50_price"), pick(0.9).as("p90_price"),
          n.as("n"))
        .orderBy("l_returnflag")
    }, oracle =
      // the CTE forces the rank arithmetic to DOUBLE — DuckDB's bare 0.5
      // literal is DECIMAL and would run the lerp in decimal arithmetic
      """WITH g AS (
        |  SELECT l_returnflag, list_sort(list(l_extendedprice)) AS arr,
        |         COUNT(*) AS n
        |  FROM lineitem GROUP BY l_returnflag),
        |i AS (
        |  SELECT l_returnflag, arr, n,
        |         0.5 * CAST(n - 1 AS DOUBLE) AS i50,
        |         0.9 * CAST(n - 1 AS DOUBLE) AS i90
        |  FROM g)
        |SELECT l_returnflag,
        |       arr[CAST(floor(i50) + 1 AS INT)] * (1.0 - (i50 - floor(i50)))
        |         + arr[CAST(ceil(i50) + 1 AS INT)] * (i50 - floor(i50)) AS p50_price,
        |       arr[CAST(floor(i90) + 1 AS INT)] * (1.0 - (i90 - floor(i90)))
        |         + arr[CAST(ceil(i90) + 1 AS INT)] * (i90 - floor(i90)) AS p90_price,
        |       n
        |FROM i ORDER BY l_returnflag""".stripMargin),
    // C14c' — skewness + excess-kurtosis from exact decimal power sums
    // (agg_variance extended to the 3rd/4th moments). Two disciplines keep
    // it bit-identical: (1) the measure is cast to DECIMAL(5,2) BEFORE the
    // power chain so x⁴'s inferred precision (23,8) never exceeds 38 —
    // wider inputs would overflow and Spark silently rounds (precision
    // loss) where DuckDB doesn't; (2) the final normalization uses
    // v*sqrt(v) and v*v, never pow(v, 1.5) — pow is libm-dependent across
    // engines, sqrt and multiply are IEEE-exact.
    Query("agg_skewness", (s, d) => {
      val x = col("l_discount").cast("decimal(5,2)")
      val n = count(lit(1))
      val s1 = sum(x).cast("double")
      val s2 = sum(x * x).cast("double")
      val s3 = sum(x * x * x).cast("double")
      val s4 = sum(x * x * x * x).cast("double")
      val m = s1 / n
      val v = s2 / n - m * m
      val skew = (s3 / n - lit(3) * m * s2 / n + lit(2) * m * m * m) /
        (v * sqrt(v))
      val kurt = (s4 / n - lit(4) * m * s3 / n + lit(6) * m * m * s2 / n -
        lit(3) * m * m * m * m) / (v * v) - lit(3)
      lineitem(s, d).groupBy("l_returnflag")
        .agg(skew.as("skew_disc"), kurt.as("kurt_disc"), n.as("n"))
        .orderBy("l_returnflag")
    }, oracle =
      """WITH p AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(SUM(x) AS DOUBLE) AS s1,
        |         CAST(SUM(x * x) AS DOUBLE) AS s2,
        |         CAST(SUM(x * x * x) AS DOUBLE) AS s3,
        |         CAST(SUM(x * x * x * x) AS DOUBLE) AS s4
        |  FROM (SELECT l_returnflag, CAST(l_discount AS DECIMAL(5,2)) AS x
        |        FROM lineitem) t
        |  GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, n, s1, s2, s3, s4,
        |         s1 / n AS m, s2 / n - (s1 / n) * (s1 / n) AS v
        |  FROM p)
        |SELECT l_returnflag,
        |       (s3 / n - 3 * m * s2 / n + 2 * m * m * m) / (v * sqrt(v)) AS skew_disc,
        |       (s4 / n - 4 * m * s3 / n + 6 * m * m * s2 / n - 3 * m * m * m * m) / (v * v) - 3 AS kurt_disc,
        |       n
        |FROM m ORDER BY l_returnflag""".stripMargin),
    // C14f — exact Pearson correlation between two measures, from the same
    // decimal-moment discipline as agg_variance: the five sums (x, y, x²,
    // y², xy) are order-independent decimals collected in ONE map-side-
    // combined pass, and the final correlation is the same short chain of
    // IEEE ops in both engines — bit-identical, no tolerance needed. The
    // built-in corr() streams doubles and is partition-order-dependent, so
    // it can never be oracle-hashed (SURVEY §7.4.2). Measure choice is
    // load-bearing: quantity × discount keeps every scaled-integer sum
    // under 2^53, so both engines' decimal→double casts are EXACT — with
    // extendedprice² the sums need >16 digits and Spark's single-rounded
    // BigDecimal cast vs DuckDB's int128/10^scale path differ by 1 ulp
    // (measured, sf0.001).
    Query("agg_corr", (s, d) => {
      val x = dec(col("l_quantity")); val y = dec(col("l_discount"))
      val n = count(lit(1))
      val sx = sum(x).cast("double"); val sy = sum(y).cast("double")
      val sxx = sum(x * x).cast("double"); val syy = sum(y * y).cast("double")
      val sxy = sum(x * y).cast("double")
      val corr = (sxy - sx * sy / n) /
        sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
      lineitem(s, d).groupBy("l_returnflag")
        .agg(corr.as("corr_qty_disc"), n.as("n"))
        .orderBy("l_returnflag")
    }, oracle =
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |       (sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_qty_disc,
        |       n
        |FROM m ORDER BY l_returnflag""".stripMargin),
    // Correlation matrix profile (round 12h) — all six pairwise Pearson r
    // over the four lineitem measures in ONE aggregation pass: the
    // feature-redundancy readout a profiler runs before modeling (two
    // near-collinear measures carry one signal). Same float discipline
    // as agg_corr: every sum is an exact decimal, the Pearson expression
    // runs once in double per pair, identically spelled in both engines;
    // round(., 6) is display-only. Catalyst dedups the shared sum
    // children across pairs, so the plan is one map-side-combinable agg
    // of 15 exact sums; the 6-row matrix explodes from the single result
    // row. 100 TB: one scan, no shuffle wider than the partial-agg row.
    Query("profile_corr_matrix", (s, d) => {
      val cs = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val pairs = for { i <- cs.indices; j <- i + 1 until cs.size }
        yield (cs(i), cs(j))
      val n = count(lit(1))
      def co(a: String, b: String) = {
        val x = dec(col(a)); val y = dec(col(b))
        val sx = sum(x).cast("double"); val sy = sum(y).cast("double")
        val sxx = sum(x * x).cast("double"); val syy = sum(y * y).cast("double")
        val sxy = sum(x * y).cast("double")
        (sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
      }
      val aggCols = pairs.map { case (a, b) =>
        round(co(a, b), 6).as(s"c_${a}_$b") } :+ n.as("n")
      lineitem(s, d).agg(aggCols.head, aggCols.tail: _*)
        .select(explode(array(pairs.map { case (a, b) =>
          struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
            col(s"c_${a}_$b").as("corr")) }: _*)).as("p"))
        .select("p.*").orderBy("col_a", "col_b")
    }, oracle =
      // the agg_corr construction generated per pair over one shared sum CTE
      {
      val cs = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val pairs = for { i <- cs.indices; j <- i + 1 until cs.size }
        yield (cs(i), cs(j))
      def d18(c: String) = s"CAST($c AS DECIMAL(18,2))"
      val sums =
        cs.map(c => s"CAST(SUM(${d18(c)}) AS DOUBLE) AS s_$c") ++
          cs.map(c => s"CAST(SUM(${d18(c)} * ${d18(c)}) AS DOUBLE) AS ss_$c") ++
          pairs.map { case (a, b) =>
            s"CAST(SUM(${d18(a)} * ${d18(b)}) AS DOUBLE) AS sp_${a}_$b" }
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
           |       round((sp_${a}_$b - s_$a * s_$b / n)
           |             / sqrt((ss_$a - s_$a * s_$a / n)
           |                    * (ss_$b - s_$b * s_$b / n)), 6) AS corr
           |FROM m""".stripMargin }
      s"""WITH m AS (SELECT COUNT(*) AS n,
         |  ${sums.mkString(",\n  ")}
         |  FROM lineitem)
         |${rows.mkString("\nUNION ALL\n")}
         |ORDER BY col_a, col_b""".stripMargin
    }),
    // Per-column profile (round 12h) — the crawler/data-quality
    // recommendation pass (the reference's crawler infers schema; a DQ
    // ruleset starts from exactly this readout): for every orders column,
    // null count, exact distinct count, and completeness in q6 fixed
    // point, in ONE aggregation. The multi-column exact COUNT(DISTINCT)
    // plans one Expand (×|cols|+1 row multiplication) feeding partial
    // aggs — the standard exact plan; at 100 TB the declared scale path
    // is approx_count_distinct per column (no Expand, fixed memory —
    // the agg_approx_distinct pattern), with this exact form as the
    // oracle-checkable reference. The 6-row profile explodes from the
    // single result row.
    Query("profile_columns", (s, d) => {
      val cs = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      val aggs = Seq(count(lit(1)).as("n_rows")) ++ cs.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c")))
      orders(s, d).agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cs.map(c => struct(lit(c).as("col_name"),
          col("n_rows"), col(s"nn_$c").as("n_null"),
          col(s"nd_$c").as("n_distinct"),
          expr(s"(n_rows - nn_$c) * 1000000L DIV n_rows")
            .as("complete_q6"))): _*)).as("p"))
        .select("p.*").orderBy("col_name")
    }, oracle =
      // one aggregate row of exact counts, unpivoted to the 6-row profile
      {
      val cs = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      val aggs = cs.flatMap(c => Seq(
        s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$c",
        s"COUNT(DISTINCT $c) AS nd_$c"))
      val rows = cs.map(c =>
        s"""SELECT '$c' AS col_name, n_rows, nn_$c AS n_null,
           |       nd_$c AS n_distinct,
           |       CAST((n_rows - nn_$c) * 1000000 // n_rows AS BIGINT)
           |         AS complete_q6
           |FROM m""".stripMargin)
      s"""WITH m AS (SELECT COUNT(*) AS n_rows,
         |  ${aggs.mkString(",\n  ")}
         |  FROM orders)
         |${rows.mkString("\nUNION ALL\n")}
         |ORDER BY col_name""".stripMargin
    }),
    // The declared 100 TB sibling (round 13 — r12 verdict #2): the SAME
    // per-column profile with approx_count_distinct (HLL++, rsd 2%)
    // replacing the multi-column exact COUNT(DISTINCT). The exact form
    // plans one Expand that multiplies every input row ×(|cols|+1) before
    // the partial aggregates — the one profiling shape whose shuffle grows
    // with column count; the HLL form keeps ONE pass with |cols| fixed-
    // memory sketches riding partial aggregation, no Expand anywhere
    // (PlanSpec asserts the node's absence here and its presence in the
    // exact plan). Unit-tier: sketch estimates are engine-local — PlanSpec
    // brackets every per-column estimate within ±5% of the exact sibling's
    // n_distinct (the agg_approx_distinct discipline). Null/completeness
    // metrics are byte-identical to the exact key by construction.
    Query("profile_columns_approx", (s, d) => {
      val cs = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      val aggs = Seq(count(lit(1)).as("n_rows")) ++ cs.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        approx_count_distinct(col(c), 0.02).as(s"nd_$c")))
      orders(s, d).agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cs.map(c => struct(lit(c).as("col_name"),
          col("n_rows"), col(s"nn_$c").as("n_null"),
          col(s"nd_$c").as("n_distinct"),
          expr(s"(n_rows - nn_$c) * 1000000L DIV n_rows")
            .as("complete_q6"))): _*)).as("p"))
        .select("p.*").orderBy("col_name")
    }),
    // Grouped OLS trend (round 6) — per-status linear-regression slope of
    // monthly revenue vs month index, the drift/trend detector behind
    // metric monitoring. Where agg_corr needed the decimal→double
    // discipline, the slope needs NO floats at all: with integer x (the
    // 1992-anchored month index — the zorder lesson) and integer y
    // (monthly revenue cents) the closed form
    // slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) is a ratio of two exact
    // longs, emitted as the EXACT RATIONAL (slope_num, slope_den) —
    // consumers divide at read time. All five sums are map-side-combinable
    // longs in one pass over the pre-aggregated monthly table; worst-case
    // magnitudes (~10^16 at sf0.1) sit far under 2^63. DuckDB sums in
    // HUGEINT, so every product is exact there too — CAST back to BIGINT
    // is the only discipline the oracle needs.
    Query("regression_slope", (s, d) => {
      val monthly = orders(s, d)
        .select(col("o_orderstatus").as("st"),
          ((year(col("o_orderdate")) - 1992) * 12
            + month(col("o_orderdate")) - 1).cast("long").as("x"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .groupBy("st", "x").agg(sum(col("cents")).as("y"))
      monthly.groupBy("st").agg(
          count(lit(1)).as("n_months"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        // a single-month group has n·Σx² = (Σx)² — no trend is defined and
        // the rational's denominator would be 0; exclude it in BOTH engines
        .filter(col("n_months") > 1)
        .select(col("st"), col("n_months"),
          (col("n_months") * col("sxy") - col("sx") * col("sy"))
            .as("slope_num"),
          (col("n_months") * col("sxx") - col("sx") * col("sx"))
            .as("slope_den"))
        .orderBy("st")
    }, oracle =
      // integer-only closed form; DuckDB's HUGEINT sums make every product
      // exact — CAST back to BIGINT is the only needed discipline
      """WITH m AS (
        |  SELECT o_orderstatus AS st,
        |         CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate)
        |              - 1 AS BIGINT) AS x,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |a AS (
        |  SELECT st, COUNT(*) AS n_months,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx,
        |         CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM m GROUP BY st HAVING COUNT(*) > 1)
        |SELECT st, n_months,
        |       CAST(n_months * sxy - sx * sy AS BIGINT) AS slope_num,
        |       CAST(n_months * sxx - sx * sx AS BIGINT) AS slope_den
        |FROM a ORDER BY st""".stripMargin),
    // C14g — the arg-max / boolean aggregate family: max_by/min_by with an
    // explicit (value, PK) struct so ties break deterministically (a bare
    // max_by(x, price) is nondeterministic whenever prices tie — the same
    // trap as first() without ordering, SURVEY §7.4.5), plus
    // bool_and/bool_or/count_if. One pass, map-side combined; the DuckDB
    // oracle picks the same rows through a window rank — an independent
    // implementation of arg-max, not a replay.
    Query("agg_argminmax", (s, d) => {
      orders(s, d).groupBy("o_orderstatus")
        .agg(
          max_by(col("o_custkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("top_cust"),
          min_by(col("o_custkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_cust"),
          bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
          count_if(col("o_totalprice") > 200000).as("n_over_200k"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }, oracle =
      // the oracle resolves arg-max through a window rank over the same
      // (value, PK) ordering — an independent implementation, not max_by
      """WITH top AS (
        |  SELECT o_orderstatus, o_custkey,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |bot AS (
        |  SELECT o_orderstatus, o_custkey,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
        |  FROM orders),
        |agg AS (
        |  SELECT o_orderstatus,
        |         bool_and(o_totalprice > 1000) AS all_over_1k,
        |         bool_or(o_totalprice > 400000) AS any_over_400k,
        |         COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_over_200k,
        |         COUNT(*) AS n
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT a.o_orderstatus, t.o_custkey AS top_cust, b.o_custkey AS bottom_cust,
        |       a.all_over_1k, a.any_over_400k, a.n_over_200k, a.n
        |FROM agg a
        |JOIN (SELECT * FROM top WHERE rn = 1) t ON a.o_orderstatus = t.o_orderstatus
        |JOIN (SELECT * FROM bot WHERE rn = 1) b ON a.o_orderstatus = b.o_orderstatus
        |ORDER BY a.o_orderstatus""".stripMargin),
    // C20b — PIVOT: long→wide reshape, revenue per order-year × status.
    // The pivot values are declared explicitly — with them, pivot is ONE
    // pass (a groupBy(year) whose aggregates are status-conditional, no
    // extra job); omitting them triggers a distinct-values collect first,
    // the thing to never do at 100 TB.
    Query("pivot_wide", (s, d) => {
      orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .groupBy("o_year")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(decSum(col("o_totalprice")))
        .orderBy("o_year")
    }, oracle =
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
        |       CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
        |       CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin),
    // C20c — UNPIVOT (melt): wide→long reshape of a per-nation report into
    // (key, metric, value) rows — the inverse of pivot_wide. Unpivot is a
    // zero-shuffle expression-level expansion (each input row emits one row
    // per value column); both measures cast to double for one value column.
    Query("unpivot_long", (s, d) => {
      customer(s, d).groupBy("c_nationkey")
        .agg(count(lit(1)).cast("double").as("n_customers"),
          decSum(col("c_acctbal")).as("sum_acctbal"))
        .unpivot(Array(col("c_nationkey")),
          Array(col("n_customers"), col("sum_acctbal")), "metric", "value")
        .orderBy("c_nationkey", "metric")
    }, oracle =
      """WITH w AS (
        |  SELECT c_nationkey, CAST(COUNT(*) AS DOUBLE) AS n_customers,
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c_nationkey, 'n_customers' AS metric, n_customers AS value FROM w
        |UNION ALL
        |SELECT c_nationkey, 'sum_acctbal' AS metric, sum_acctbal AS value FROM w
        |ORDER BY c_nationkey, metric""".stripMargin),
    // C21 — deterministic array agg, surfaced as a joined string so the
    // cross-engine hash is list-representation-independent (SURVEY §7.4.6).
    Query("agg_collect_sorted", (s, d) => {
      lineitem(s, d).groupBy("l_orderkey")
        .agg(array_join(
          transform(sort_array(collect_list(col("l_linenumber"))),
            x => x.cast("string")), ",").as("linenumbers"))
        .orderBy("l_orderkey")
    }, oracle =
      """SELECT l_orderkey,
        |       array_to_string(list(l_linenumber ORDER BY l_linenumber), ',') AS linenumbers
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
  )
}

object TierCWindow {
  private def byStatus = Window.partitionBy("o_orderstatus")
    .orderBy(desc("o_totalprice"), asc("o_orderkey"))
  private def byCust = Window.partitionBy("o_custkey")
    .orderBy(asc("o_orderdate"), asc("o_orderkey"))

  /** The ONE static-30-minute-gap session derivation, shared by
    * `sessionize_batch` and `survival_km_sessions` (factored round 12h —
    * the ClickGraph lesson: two inline copies of a break rule can desync
    * silently while each still passes its own oracle). Per session:
    * (user_id, sid, session_start, session_end, n_events, sum_value).
    * The oracle-side twin is [[SessionOracleCtes]]. */
  /** Event-level rows with their 30-minute-gap session id — the one
    * sessionization recurrence, factored below the session-level
    * aggregate so row-level consumers (`sessionize_entry_exit`) share the
    * EXACT sid derivation with the session-level ones (`sessionize_batch`,
    * `survival_km_sessions`). Unused columns prune out of the scan. */
  private def sessionizedEvents(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val newS = when(lag(col("ts"), 1).over(byUser).isNull ||
      col("ts") >= lag(col("ts"), 1).over(byUser) +
        expr("INTERVAL 30 MINUTES"), 1).otherwise(0)
    events(s, d)
      .select(col("user_id"), col("ts"), col("value"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("page"))
      .withColumn("sid", sum(newS).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def staticSessions(s: SparkSession, d: String): DataFrame =
    sessionizedEvents(s, d)
      .groupBy("user_id", "sid")
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        decSum(col("value")).as("sum_value"))

  /** `e`/`flagged`/`sessions`/`ses` CTEs — the SAME static-gap session
    * derivation for the DuckDB oracles (one spelling, two consumers). */
  private val SessionOracleCtes: String =
    """e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |flagged AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                          ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged),
      |ses AS (
      |  SELECT user_id, sid, MIN(ts) AS session_start,
      |         MAX(ts) AS session_end, COUNT(*) AS n_events,
      |         SUM(CAST(value AS DECIMAL(18,2))) AS sum_value_dec
      |  FROM sessions GROUP BY user_id, sid)""".stripMargin

  def queries: Seq[Query] = Seq(
    // C22 — ranking family. Window ordering carries a PK tiebreaker
    // (o_orderkey) so ranks are deterministic across engines.
    Query("win_rank_rownum", (s, d) => {
      orders(s, d).select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          row_number().over(byStatus).as("rn"),
          rank().over(byStatus).as("rnk"),
          dense_rank().over(byStatus).as("drnk"),
          ntile(4).over(byStatus).as("quartile"),
          percent_rank().over(byStatus).as("pct_rank"),
          cume_dist().over(byStatus).as("cdist"))
        .orderBy("o_orderkey")
    }, oracle =
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice,
         |       ROW_NUMBER() $overStatus AS rn,
         |       RANK() $overStatus AS rnk,
         |       DENSE_RANK() $overStatus AS drnk,
         |       NTILE(4) $overStatus AS quartile,
         |       PERCENT_RANK() $overStatus AS pct_rank,
         |       CUME_DIST() $overStatus AS cdist
         |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C23 — lag/lead along each customer's order history.
    Query("win_lag_lead", (s, d) => {
      orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          lag(col("o_totalprice"), 1).over(byCust).as("prev_price"),
          lead(col("o_totalprice"), 1).over(byCust).as("next_price"))
        .orderBy("o_orderkey")
    }, oracle =
      s"""SELECT o_orderkey, o_custkey,
         |       LAG(o_totalprice, 1) $overCust) AS prev_price,
         |       LEAD(o_totalprice, 1) $overCust) AS next_price
         |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C24 — running total. Decimal inside the frame: DuckDB computes window
    // sums with a segment tree, Spark incrementally — only exact decimal
    // addition is order-independent (SURVEY §7.4.2).
    Query("win_running_sum", (s, d) => {
      orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          sum(dec(col("o_totalprice")))
            .over(byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"))
        .orderBy("o_orderkey")
    }, oracle =
      s"""SELECT o_orderkey, o_custkey,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
         |            $overCust ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS DOUBLE) AS running_total
         |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C24b — GLOBAL money-typed running revenue through the Prefix 2-pass
    // rank (round 17, r16 verdict #6): the DECIMAL(38,4) accumulator path
    // gets an oracle-checked caller instead of only PrefixSpec parity.
    // win_running_sum's per-customer frame never funnels (the key is
    // high-cardinality); a GLOBAL cumulative is exactly the shape that
    // would — `Window.orderBy` with no partition is one task at any
    // scale — so it routes through Prefix.runningAggs: range-shuffle on
    // the total order (shipdate, then the PK for a deterministic total
    // order), slice-local decimal sums, slice-offset stitch. The value
    // column is the 4-decimal revenue product as DECIMAL — NOT the ×100
    // cents-long discipline — so the decimal branch of the accumulator
    // (sd, DECIMAL(38,4)) carries every row end-to-end; the final cast
    // to DOUBLE is presentation only (cum quanta ≤ 1.8e14 at sf0.1,
    // inside double's 2^53 — both engines emit identical IEEE bits).
    Query("win_running_revenue_dec", (s, d) => {
      val li = lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      graft.operators.Prefix.runningAggs(li,
          Seq(col("l_shipdate").asc, col("l_orderkey").asc,
            col("l_linenumber").asc),
          col("rev"), sumOut = Some("cum"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("cum").cast("double").as("cum_revenue"))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |                     AS DECIMAL(18,4)))
        |            OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS cum_revenue
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // C25 — moving average over ROWS BETWEEN 3 PRECEDING AND CURRENT ROW.
    Query("win_moving_avg", (s, d) => {
      val w4 = byCust.rowsBetween(-3, 0)
      orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          (sum(dec(col("o_totalprice"))).over(w4).cast("double") /
            count(lit(1)).over(w4)).as("moving_avg"))
        .orderBy("o_orderkey")
    }, oracle =
      s"""SELECT o_orderkey, o_custkey,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
         |            $overCust ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |       / COUNT(*) $overCust ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         |       AS moving_avg
         |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C25b — rolling EXACT median (round 6): trailing-7-row median spend
    // per customer — the robust-center rolling stat win_moving_avg's mean
    // can't give. Spark has no exact median window function, so the frame
    // is materialized with collect_list + array_sort and the middle
    // element(s) picked by size parity — O(frame²·log frame) per row but
    // the frame is a constant 7, and the partition key (o_custkey) is
    // high-cardinality, so the 100 TB shape is one hash shuffle and
    // constant per-row work, same as any other window here. Float-free:
    // prices go through the DECIMAL(18,2) cast to integer CENTS first and
    // the output is 2·median (sum of the two middle elements when the
    // frame is even-sized) — always a long, never a fractional value, the
    // §7.4e integer-exactness discipline. The oracle uses DuckDB's native
    // median aggregate as an independent implementation (2·median of
    // bigints is integer-exact in double far below 2^53).
    Query("win_rolling_median", (s, d) => {
      // r17 optimization NEGATIVE RESULT, kept as-is: replacing the
      // sliding collect_list with six lag() offsets (+ per-row 7-array
      // sort) was measured SLOWER warm at sf0.1 under noop — 2.2-2.3 s
      // here vs 2.9-3.3 s for both lag variants (filter-HOF and
      // nulls-sort-last) — each offset maintains its own frame cursor
      // while the sliding buffer is one cheap add/remove per row.
      val w7 = byCust.rowsBetween(-6, 0)
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
      val arr = array_sort(collect_list(cents).over(w7))
      val nn = size(arr)
      orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          when(nn % 2 === 1,
              element_at(arr, ((nn + 1) / 2).cast("int")) * 2)
            .otherwise(element_at(arr, (nn / 2).cast("int"))
              + element_at(arr, (nn / 2 + 1).cast("int")))
            .as("med2_cents"),
          nn.as("n_win"))
        .orderBy("o_orderkey")
    }, oracle =
      // native median aggregate as the independent implementation; 2·median
      // of bigints is integer-exact in double far below 2^53
      s"""WITH c AS (
         |  SELECT o_orderkey, o_custkey, o_orderdate,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents
         |  FROM orders)
         |SELECT o_orderkey, o_custkey,
         |       CAST(2 * median(cents) $overCust
         |            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS med2_cents,
         |       CAST(COUNT(*) $overCust
         |            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS INT)
         |         AS n_win
         |FROM c ORDER BY o_orderkey""".stripMargin),
    // Share-of-total per partition (round 6) — Redshift's RATIO_TO_REPORT.
    // The ratio is the EXACT RATIONAL (cents, status_total_cents): integer
    // numerator and denominator, no division, no floats. Deliberately NOT
    // a window: an unbounded-frame sum over the 3-value o_orderstatus key
    // would funnel 100 TB into 3 window partitions (the topk_per_group
    // trap); the grouped total is 3 rows, broadcast back — the shape that
    // scales is agg + broadcast join, identical semantics.
    Query("win_ratio_share", (s, d) => {
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
      val base = orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"), cents.as("cents"))
      val totals = base.groupBy("o_orderstatus")
        .agg(sum(col("cents")).as("status_total_cents"))
      base.join(broadcast(totals), "o_orderstatus")
        .select("o_orderkey", "o_orderstatus", "cents", "status_total_cents")
        .orderBy("o_orderkey")
    }, oracle =
      // the oracle spells it as the WINDOW sum (Redshift's actual
      // RATIO_TO_REPORT shape) — an independent construction of the same
      // (cents, total) pairs the broadcast-join plan emits
      """SELECT o_orderkey, o_orderstatus,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         AS cents,
        |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                     AS BIGINT)) OVER (PARTITION BY o_orderstatus)
        |            AS BIGINT) AS status_total_cents
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C26 — first_value/last_value with an explicit full-partition frame
    // (default frame would make last_value = current row).
    Query("win_first_last", (s, d) => {
      val full = byCust.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          first(col("o_orderkey")).over(full).as("first_order"),
          last(col("o_orderkey")).over(full).as("last_order"))
        .orderBy("o_orderkey")
    }, oracle =
      s"""SELECT o_orderkey, o_custkey,
         |       FIRST_VALUE(o_orderkey) $overCust ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_order,
         |       LAST_VALUE(o_orderkey) $overCust ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
         |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C26b — nth_value with an explicit full frame (like first/last, the
    // default frame would truncate it at the current row): each order sees
    // its customer's 2nd-ever order, null while the history is shorter.
    Query("win_nth_value", (s, d) => {
      val full = byCust.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_order"),
          count(lit(1)).over(full).as("n_orders"))
        .orderBy("o_orderkey")
    }, oracle =
      s"""SELECT o_orderkey, o_custkey,
         |       NTH_VALUE(o_orderkey, 2) $overCust ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order,
         |       COUNT(*) $overCust ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n_orders
         |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C24b — event-time RANGE frame: trailing-7-day spend per customer.
    // RANGE frames bound by an interval over the ORDER BY column are the
    // time-series form row frames can't express (peer rows with equal
    // timestamps aggregate together). DataFrame rangeBetween only takes
    // longs, so this goes through the SQL entry point — same Catalyst plan,
    // and the same text as the oracle (both engines read `INTERVAL 7 DAY`).
    Query.sql("win_range_frame", Seq("orders"),
      """SELECT o_orderkey, o_custkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate
        |         RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
        |         AS DOUBLE) AS spend_7d
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // C27 — top-k per group: rank-filter. NB the window repartitions all
    // rows into |groups| partitions — fine for high-cardinality keys; the
    // 3-value o_orderstatus key at 100 TB wants topk_per_group_agg below.
    Query("topk_per_group", (s, d) => {
      orders(s, d)
        .withColumn("rn", row_number().over(byStatus))
        .filter(col("rn") <= 3)
        .select("o_orderstatus", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderstatus", "rn")
    }, oracle =
      s"""SELECT o_orderstatus, rn, o_orderkey, o_totalprice FROM (
         |  SELECT o_orderstatus, o_orderkey, o_totalprice,
         |         ROW_NUMBER() $overStatus AS rn
         |  FROM orders) t
         |WHERE rn <= 3
         |ORDER BY o_orderstatus, rn""".stripMargin),
    // C27b — the same top-3 via graft.operators.TopKAggregator: bounded
    // per-group buffers inside partial aggregation, so only k rows per
    // group per input partition cross the shuffle (no |groups|-partition
    // funnel). Oracle-identical to the window form by construction.
    Query("topk_per_group_agg", (s, d) => {
      import s.implicits._
      val agg = new graft.operators.TopKAggregator(3).toColumn
      orders(s, d)
        .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
        .as[(String, Double, Long)]
        .groupByKey(_._1).mapValues { case (_, price, key) => (price, key) }
        .agg(agg)
        .flatMap { case (st, top) =>
          top.zipWithIndex.map { case ((price, key), i) => (st, i + 1, key, price) }
        }
        .toDF("o_orderstatus", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderstatus", "rn")
    }, oracle =
      s"""SELECT o_orderstatus, rn, o_orderkey, o_totalprice FROM (
         |  SELECT o_orderstatus, o_orderkey, o_totalprice,
         |         ROW_NUMBER() $overStatus AS rn
         |  FROM orders) t
         |WHERE rn <= 3
         |ORDER BY o_orderstatus, rn""".stripMargin),
    // C23b — batch gap-sessionization: the lag→flag→cumsum→aggregate window
    // pipeline (the batch twin of D3's session_window, which only session
    // semantics streaming exposes). New session when >30 min elapses since
    // the user's previous event. Flags depend only on ts VALUES, so
    // equal-timestamp tie order can't change the result. 100 TB shape: one
    // hash shuffle on user_id shared by both windows and the final
    // aggregation — Catalyst reuses the single sort.
    Query("sessionize_batch", (s, d) =>
      staticSessions(s, d).drop("sid")
        .orderBy("user_id", "session_start"), oracle =
      s"""WITH $SessionOracleCtes
        |SELECT user_id, session_start, session_end, n_events,
        |       CAST(sum_value_dec AS DOUBLE) AS sum_value
        |FROM ses ORDER BY user_id, session_start""".stripMargin),
    // Per-session entry/exit readout (round 13) — the landing/exit-page
    // table funnels and UX dashboards consume: each session's first and
    // last page plus whole-second duration, over the SAME sessionizedEvents
    // sid recurrence sessionize_batch aggregates (factored — the two keys
    // cannot segment differently). Entry/exit resolve by min_by/max_by on
    // the (ts, event_id) struct, so tied timestamps break on the PK in
    // both engines (the agg_argminmax tie discipline; the oracle replays
    // the pick as row_number windows — an independent construction).
    // 100 TB: one user window + one map-side-combinable session agg —
    // the sessionize_batch shape plus two argmax columns.
    Query("sessionize_entry_exit", (s, d) =>
      sessionizedEvents(s, d)
        .groupBy("user_id", "sid")
        .agg(min(col("ts")).as("session_start"),
          count(lit(1)).as("n_events"),
          expr("(max(unix_micros(ts)) - min(unix_micros(ts))) DIV 1000000")
            .as("duration_s"),
          expr("min_by(page, struct(ts, event_id))").as("entry_page"),
          expr("max_by(page, struct(ts, event_id))").as("exit_page"))
        .drop("sid")
        .orderBy("user_id", "session_start"), oracle =
      // same sid recurrence with event_id/page carried; entry/exit picks
      // replayed as row_number windows over (ts, event_id) — an independent
      // construction of the min_by/max_by struct tiebreak
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS page
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, ts, event_id, page,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, event_id, page,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, sid, MIN(ts) AS session_start,
        |         COUNT(*) AS n_events,
        |         CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
        |           AS BIGINT) AS duration_s
        |  FROM sessions GROUP BY 1, 2),
        |fst AS (
        |  SELECT user_id, sid, page AS entry_page FROM (
        |    SELECT user_id, sid, page, row_number() OVER (
        |      PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
        |    FROM sessions) t WHERE rn = 1),
        |lst AS (
        |  SELECT user_id, sid, page AS exit_page FROM (
        |    SELECT user_id, sid, page, row_number() OVER (
        |      PARTITION BY user_id, sid ORDER BY ts DESC, event_id DESC)
        |      AS rn
        |    FROM sessions) t WHERE rn = 1)
        |SELECT user_id, session_start, n_events, duration_s,
        |       entry_page, exit_page
        |FROM agg JOIN fst USING (user_id, sid) JOIN lst USING (user_id, sid)
        |ORDER BY user_id, session_start""".stripMargin),
    // C23b'' — peak concurrent sessions per day (round 14b): the capacity
    // readout ("how many users were on AT ONCE?") sizing decisions read,
    // computed by the classic sweep line — every session contributes a +1
    // at start and a −1 at end, and concurrency is the running sum over
    // the time-ordered boundary stream. Closed-interval rule: at equal
    // timestamps starts sort BEFORE ends (delta DESC), so a session
    // touching another's boundary — and a single-event session at its own
    // instant — counts as active. Determinism without a PK: rows tied on
    // (t, delta) receive cum values forming a deterministic MULTISET (the
    // +1s at t permute c+1..c+k), and the surfaced per-day MAX and count
    // are multiset-invariant. Sessions cross midnight, so the running sum
    // is global by construction — over the 2·|sessions|-bounded boundary
    // stream, never the event stream, and runs through
    // Prefix.runningAggs (round 15): range exchange on (t, delta DESC) +
    // partition-local cumsum + a ≤|partitions|-row offset window — no
    // single task ever consumes the boundary stream. Day grouping after
    // is map-side combinable. Shares staticSessions with
    // sessionize_batch — the peak audits exactly the sessions the
    // engine publishes.
    Query("sessions_concurrent_peak", (s, d) => {
      val ses = staticSessions(s, d)
      val bounds = ses.select(col("session_start").as("t"),
          lit(1L).as("delta"))
        .unionByName(ses.select(col("session_end").as("t"),
          lit(-1L).as("delta")))
      graft.operators.Prefix.runningAggs(bounds,
          Seq(col("t").asc, col("delta").desc), col("delta"),
          sumOut = Some("conc"))
        .groupBy(to_date(col("t")).as("day"))
        .agg(max(col("conc")).as("peak_concurrency"),
          count(lit(1)).as("n_boundaries"))
        .orderBy("day")
    }, oracle =
      // the same shared session CTEs; the sweep line spelled as the
      // boundary-union running sum with the identical (t, delta DESC) order
      s"""WITH $SessionOracleCtes,
        |bounds AS (
        |  SELECT session_start AS t, CAST(1 AS BIGINT) AS delta FROM ses
        |  UNION ALL
        |  SELECT session_end AS t, CAST(-1 AS BIGINT) AS delta FROM ses),
        |sweep AS (
        |  SELECT t, SUM(delta) OVER (ORDER BY t, delta DESC
        |                             ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM bounds)
        |SELECT CAST(t AS DATE) AS day,
        |       CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
        |       COUNT(*) AS n_boundaries
        |FROM sweep GROUP BY day ORDER BY day""".stripMargin),
    // C23b' — DYNAMIC-gap sessionization (round 10): the gap depends on
    // the event (clicks cool off in 5 min, views in 15, everything else
    // 30) — the batch twin of session_window's dynamic-gap form, and a
    // structurally DIFFERENT recurrence from sessionize_batch: a varying
    // gap means the session's expiry is the RUNNING MAX of t+gap over all
    // previous events, not the previous event's lag (a short-gap event
    // after a long-gap one must not close a session the long gap is still
    // holding open). Everything in exact epoch-second longs; the break
    // flag depends only on (t, gap) VALUES, and tied-t rows can never
    // break against each other (t > t+gap is false), so equal-timestamp
    // tie order can't change the result in either engine. 100 TB shape:
    // three windows on ONE (user_id, t) sort — single hash shuffle,
    // Catalyst reuses the sort; linear per key.
    Query("sessionize_dynamic_gap", (s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("t")
      val prevEnd = max(col("t") + col("gap")).over(
        byUser.rowsBetween(Window.unboundedPreceding, -1))
      events(s, d)
        .select(col("user_id"), col("ts").cast("long").as("t"),
          when(col("event_type") === "click", 300L)
            .when(col("event_type") === "view", 900L)
            .otherwise(1800L).as("gap"),
          col("value"))
        .withColumn("new_s",
          when(prevEnd.isNull || col("t") > prevEnd, 1).otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min(col("t")).as("session_start_s"),
          max(col("t") + col("gap")).as("session_end_s"),
          count(lit(1)).as("n_events"),
          decSum(col("value")).as("sum_value"))
        .drop("sid")
        .orderBy("user_id", "session_start_s")
    }, oracle =
      // floor(epoch(..)) truncates to whole seconds exactly like Spark's
      // timestamp→long cast (the workflow_scheduled recipe); the running-max
      // expiry and cumsum replay the same all-integer recurrence
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
        |         CAST(CASE event_type WHEN 'click' THEN 300
        |              WHEN 'view' THEN 900 ELSE 1800 END AS BIGINT) AS gap,
        |         value
        |  FROM events),
        |f AS (
        |  SELECT user_id, t, gap, value,
        |         CASE WHEN MAX(t + gap) OVER pw IS NULL
        |                OR t > MAX(t + gap) OVER pw
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW pw AS (PARTITION BY user_id ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s AS (
        |  SELECT user_id, t, gap, value,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id, MIN(t) AS session_start_s,
        |       MAX(t + gap) AS session_end_s, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_s""".stripMargin),
    // C23e — sequential pattern matching (the MATCH_RECOGNIZE shape,
    // rewritten with lag since neither engine ships MR): find every
    // strictly-rising 3-order run in a customer's history. Row-pattern
    // detection over event sequences is one partitioned sort + k lags —
    // linear per key, the same single user-shuffle discipline as the
    // funnel.
    Query("win_pattern_rising", (s, d) => {
      val seq = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      orders(s, d)
        .withColumn("p1", lag(col("o_totalprice"), 1).over(seq))
        .withColumn("p2", lag(col("o_totalprice"), 2).over(seq))
        .filter(col("p2").isNotNull &&
          col("p2") < col("p1") && col("p1") < col("o_totalprice"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("p2"), col("p1"), col("o_totalprice").as("p0"))
        .orderBy("o_orderkey")
    }, oracle =
      """WITH l AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         lag(o_totalprice, 1) OVER w AS p1,
        |         lag(o_totalprice, 2) OVER w AS p2
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        |SELECT o_custkey, o_orderkey, p2, p1, o_totalprice AS p0
        |FROM l
        |WHERE p2 IS NOT NULL AND p2 < p1 AND p1 < o_totalprice
        |ORDER BY o_orderkey""".stripMargin),
    // C24d — running DISTINCT count over a window, which no engine supports
    // directly (COUNT(DISTINCT) OVER is invalid SQL in both): the standard
    // first-occurrence rewrite — flag each (status, customer)'s first order
    // with one window, cumulative-sum the flags with a second. Two windows
    // on different partitionings = two shuffles; the second partitions by
    // the 3-value status key, a deliberate funnel demo — at 100 TB the
    // per-day grain would pre-aggregate first-occurrences map-side before
    // any status-level window (the topk_per_group_agg argument).
    Query("win_distinct_running", (s, d) => {
      val firstSeen = Window.partitionBy("o_orderstatus", "o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      val running = Window.partitionBy("o_orderstatus")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .withColumn("first_seen",
          (row_number().over(firstSeen) === 1).cast("int"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          sum(col("first_seen")).over(running).as("distinct_custs"))
        .orderBy("o_orderkey")
    }, oracle =
      """WITH f AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderdate,
        |         CASE WHEN row_number() OVER (
        |           PARTITION BY o_orderstatus, o_custkey
        |           ORDER BY o_orderdate, o_orderkey) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM orders)
        |SELECT o_orderkey, o_orderstatus,
        |       CAST(SUM(first_seen) OVER (
        |         PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS distinct_custs
        |FROM f ORDER BY o_orderkey""".stripMargin),
    // C23c — ordered event funnel (signup → view → purchase): each stage's
    // timestamp is the user's first qualifying event AT OR AFTER the
    // previous stage — sequence matters, not mere presence. Three
    // conditional-min window passes over the SAME user_id partitioning, so
    // Catalyst plans one hash shuffle + one sort reused by all three (the
    // self-join encoding would pay a shuffle per stage). funnel_stage is
    // how far the user got. The DuckDB oracle builds the stages by
    // re-joining events per stage — an independent plan for the same
    // semantics.
    Query("funnel_steps", (s, d) => {
      val byUser = Window.partitionBy("user_id")
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("t1",
          min(when(col("event_type") === "signup", col("ts"))).over(byUser))
        .withColumn("t2",
          min(when(col("event_type") === "view" && col("ts") >= col("t1"),
            col("ts"))).over(byUser))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") >= col("t2"),
            col("ts"))).over(byUser))
        .groupBy("user_id")
        .agg(max(col("t1")).as("signup_ts"), max(col("t2")).as("view_ts"),
          max(col("t3")).as("purchase_ts"))
        .withColumn("funnel_stage",
          when(col("purchase_ts").isNotNull, 3)
            .when(col("view_ts").isNotNull, 2)
            .when(col("signup_ts").isNotNull, 1).otherwise(0))
        .orderBy("user_id")
    }, oracle =
      // stages built by re-joining events per stage — independent of the
      // stacked-window plan Spark runs
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |           FROM events),
        |s1 AS (SELECT user_id,
        |              MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t1
        |       FROM e GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |              MIN(CASE WHEN e.event_type = 'view' AND e.ts >= s1.t1
        |                       THEN e.ts END) AS t2
        |       FROM s1 JOIN e ON e.user_id = s1.user_id
        |       GROUP BY s1.user_id, s1.t1),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
        |              MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t2
        |                       THEN e.ts END) AS t3
        |       FROM s2 JOIN e ON e.user_id = s2.user_id
        |       GROUP BY s2.user_id, s2.t1, s2.t2)
        |SELECT user_id, t1 AS signup_ts, t2 AS view_ts, t3 AS purchase_ts,
        |       CASE WHEN t3 IS NOT NULL THEN 3
        |            WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage
        |FROM s3 ORDER BY user_id""".stripMargin),
    // TIME-CONSTRAINED funnel (round 13) — funnel_steps with a conversion
    // window: a step only counts if it happens within 1 HOUR of the
    // previous step (the attribution-window form real funnel products
    // default to; the unconstrained key credits a purchase weeks after
    // the view). Same ordered min-over-window construction, each step's
    // window anchored at the previous step's timestamp and capped at
    // +1 hour; output is the per-stage user count summary — the numbers
    // a conversion dashboard heads with. All timestamp/long comparisons,
    // zero floats. 100 TB: three user-partitioned window passes over one
    // event scan + a 1-row count agg; the CASE/aggregate structure
    // combines map-side.
    Query("funnel_conversion_window", (s, d) => {
      val byUser = Window.partitionBy("user_id")
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(byUser))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") >= col("t1") &&
            col("ts") <= col("t1") + expr("INTERVAL 1 HOUR"),
            col("ts"))).over(byUser))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") >= col("t2") &&
            col("ts") <= col("t2") + expr("INTERVAL 1 HOUR"),
            col("ts"))).over(byUser))
        .groupBy("user_id")
        .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
          max(col("t3")).as("t3"))
        .agg(count(when(col("t1").isNotNull, 1)).as("n_view"),
          count(when(col("t2").isNotNull, 1)).as("n_click_1h"),
          count(when(col("t3").isNotNull, 1)).as("n_purchase_1h"))
    }, oracle =
      // the funnel_steps chain with each step additionally capped at
      // +1 hour from its anchor, collapsed to the stage-count summary
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |           FROM events),
        |s1 AS (SELECT user_id,
        |              MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        |       FROM e GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |              MIN(CASE WHEN e.event_type = 'click'
        |                        AND e.ts >= s1.t1
        |                        AND e.ts <= s1.t1 + INTERVAL 1 HOUR
        |                       THEN e.ts END) AS t2
        |       FROM s1 JOIN e ON e.user_id = s1.user_id
        |       GROUP BY s1.user_id, s1.t1),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
        |              MIN(CASE WHEN e.event_type = 'purchase'
        |                        AND e.ts >= s2.t2
        |                        AND e.ts <= s2.t2 + INTERVAL 1 HOUR
        |                       THEN e.ts END) AS t3
        |       FROM s2 JOIN e ON e.user_id = s2.user_id
        |       GROUP BY s2.user_id, s2.t1, s2.t2)
        |SELECT COUNT(t1) AS n_view, COUNT(t2) AS n_click_1h,
        |       COUNT(t3) AS n_purchase_1h
        |FROM s3""".stripMargin),
    // ABC / Pareto revenue classification (round 12j) — the 80/95 cut
    // every inventory/account-tiering analysis runs: customers ranked by
    // revenue, class A while the running share ≤ 80% of total, B to 95%,
    // C after. All integer: the class test cross-multiplies (cum·100 ≤
    // t·80 — no division), shares are q6 fixed point; cum·100 ≤ 2e14 at
    // sf0.1; the tightest product is the share's rev·10⁶ ≈ 2.3e18 (~4×
    // under 2⁶³ — beyond ~sf0.4 move the share numerator to
    // DECIMAL(38,0) or drop the quantizer to q4). 100 TB shape: the per-customer agg is
    // the only fact shuffle; the running revenue share runs through
    // Prefix.runningAggs (round 15 — the "range-partitioned sort +
    // per-partition offsets" this comment used to merely name): range
    // exchange on (rev DESC, custkey) + partition-local cumsum + a
    // ≤|partitions|-row offset window, so no single task consumes the
    // |customers| table; the 1-row total rides a broadcast crossJoin.
    Query("abc_classification", (s, d) => {
      val cust = orders(s, d).groupBy("o_custkey")
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("rev"))
        .localCheckpoint() // feeds tot AND the prefix — materialize once
      val tot = cust.agg(sum(col("rev")).as("t"))
      graft.operators.Prefix.runningAggs(cust,
          Seq(col("rev").desc, col("o_custkey").asc), col("rev"),
          sumOut = Some("cum"))
        .crossJoin(broadcast(tot))
        .withColumn("cls",
          when(col("cum") * 100 <= col("t") * 80, "A")
            .when(col("cum") * 100 <= col("t") * 95, "B").otherwise("C"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).as("rev_cents"),
          expr("sum(rev) * 1000000L DIV max(t)").as("share_q6"))
        .orderBy("cls")
    }, oracle =
      // cross-multiplied class cuts (no division), HUGEINT sums cast back
      """WITH cust AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS t FROM cust),
        |ranked AS (
        |  SELECT o_custkey, rev, t,
        |         CAST(SUM(rev) OVER (ORDER BY rev DESC, o_custkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum
        |  FROM cust, tot),
        |classed AS (
        |  SELECT *, CASE WHEN cum * 100 <= t * 80 THEN 'A'
        |                 WHEN cum * 100 <= t * 95 THEN 'B'
        |                 ELSE 'C' END AS cls
        |  FROM ranked)
        |SELECT cls, COUNT(*) AS n_customers,
        |       CAST(SUM(rev) AS BIGINT) AS rev_cents,
        |       CAST(SUM(rev) * 1000000 // MAX(t) AS BIGINT) AS share_q6
        |FROM classed GROUP BY cls ORDER BY cls""".stripMargin),
    // View→purchase conversion latency distribution (round 12j) — the
    // product-analytics staple funnel_steps doesn't give: HOW LONG the
    // converting population takes. Per user, first view and the first
    // purchase at-or-after it (the funnel_steps window construction, two
    // stages); latency in exact whole seconds; then one global summary
    // row — converters, min/max, and exact p25/p50/p75 via the
    // agg_percentile_disc sortedPick (collect over |converters| values —
    // post-aggregation, bounded by users, the sortedPick contract).
    // 100 TB shape: two user-partitioned window passes + one |users|-row
    // agg; raw events never reach the percentile stage.
    Query("conversion_latency", (s, d) => {
      val byUser = Window.partitionBy("user_id")
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(byUser))
        .withColumn("t2",
          min(when(col("event_type") === "purchase" && col("ts") >= col("t1"),
            col("ts"))).over(byUser))
        .groupBy("user_id")
        .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"))
        .filter(col("t2").isNotNull)
        .select(expr("(unix_micros(t2) - unix_micros(t1)) DIV 1000000")
          .as("lat_s"))
        .agg(count(lit(1)).as("n_converted"),
          min(col("lat_s")).as("min_s"),
          sortedPick(col("lat_s"), 0.25).as("p25_s"),
          sortedPick(col("lat_s"), 0.5).as("p50_s"),
          sortedPick(col("lat_s"), 0.75).as("p75_s"),
          max(col("lat_s")).as("max_s"))
    }, oracle =
      // the funnel two-stage window construction, then the
      // agg_percentile_disc sorted-list pick over the converter latencies
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |           FROM events),
        |s1 AS (SELECT user_id,
        |              MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        |       FROM e GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |              MIN(CASE WHEN e.event_type = 'purchase'
        |                        AND e.ts >= s1.t1
        |                       THEN e.ts END) AS t2
        |       FROM s1 JOIN e ON e.user_id = s1.user_id
        |       GROUP BY s1.user_id, s1.t1),
        |lat AS (
        |  SELECT (epoch_us(t2) - epoch_us(t1)) // 1000000 AS lat_s
        |  FROM s2 WHERE t2 IS NOT NULL)
        |SELECT COUNT(*) AS n_converted, MIN(lat_s) AS min_s,
        |       list_sort(list(lat_s))[CAST(greatest(ceil(0.25 * COUNT(*)), 1) AS INT)] AS p25_s,
        |       list_sort(list(lat_s))[CAST(greatest(ceil(0.5 * COUNT(*)), 1) AS INT)] AS p50_s,
        |       list_sort(list(lat_s))[CAST(greatest(ceil(0.75 * COUNT(*)), 1) AS INT)] AS p75_s,
        |       MAX(lat_s) AS max_s
        |FROM lat""".stripMargin),
    // C23d — weekly cohort retention: cohort = ISO week of the user's first
    // event, and each (cohort, week-offset) cell counts the distinct users
    // from that cohort active that week. The classic warehouse retention
    // matrix. Shape: min-over-user window (one user_id shuffle), collapse
    // to distinct (user, week) pairs map-side, then a cohort-sized final
    // aggregate — raw events never reach the second shuffle. Week
    // truncation is Monday-based ISO in both engines; the offset division
    // is exact (week diffs are multiples of 7 days).
    Query("cohort_retention", (s, d) => {
      val byUser = Window.partitionBy("user_id")
      events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .withColumn("cohort", min(col("week")).over(byUser))
        .select(col("user_id"), col("cohort").cast("date").as("cohort_week"),
          ((datediff(col("week"), col("cohort")) / 7).cast("int")).as("week_offset"))
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }, oracle =
      """WITH w AS (
        |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
        |  FROM events),
        |c AS (
        |  SELECT user_id, week,
        |         MIN(week) OVER (PARTITION BY user_id) AS cohort
        |  FROM w),
        |cells AS (
        |  SELECT DISTINCT user_id, CAST(cohort AS DATE) AS cohort_week,
        |         CAST(datediff('day', cohort, week) / 7 AS INT) AS week_offset
        |  FROM c)
        |SELECT cohort_week, week_offset, COUNT(*) AS n_users
        |FROM cells GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin),
    // Cohort lifetime value (round 13) — the revenue companion of
    // cohort_retention's user counts: customers cohorted by FIRST-order
    // month, each cohort's per-month revenue accumulated over cohort age
    // and averaged per member in exact cents (cum·100 DIV size — integer
    // q2, zero floats; cum ≤ 10¹³ cents at sf0.1, ~10⁶× headroom). The
    // LTV curve is what turns retention into money: "a month-0 customer
    // is worth X cents by month k". 100 TB: one customer window (first
    // order month), one (cohort, age) map-side-combinable agg — the
    // running sum and the size join live on the CALENDAR²-bounded cohort
    // matrix, never the fact table.
    Query("cohort_ltv", (s, d) => {
      val byCust = Window.partitionBy("o_custkey")
      val om = orders(s, d).select(col("o_custkey"),
          date_trunc("month", col("o_orderdate")).as("month"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .withColumn("cohort", min(col("month")).over(byCust))
      val size = om.select(col("o_custkey"), col("cohort")).distinct()
        .groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
      val rev = om.groupBy(col("cohort"),
          (months_between(col("month"), col("cohort"))).cast("int").as("age"))
        .agg(sum(col("cents")).as("rev_cents"))
      val cum = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cum_cents", sum(col("rev_cents")).over(cum))
        .join(broadcast(size), "cohort")
        .select(col("cohort").cast("date").as("cohort_month"), col("age"),
          col("rev_cents"), col("cum_cents"), col("cohort_size"),
          expr("cum_cents DIV cohort_size").as("ltv_cents"))
        .orderBy("cohort_month", "age")
    }, oracle =
      // exact integer cents end-to-end; the cumulative window runs on the
      // calendar-squared cohort matrix
      """WITH om AS (
        |  SELECT o_custkey,
        |         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        |           AS month,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders),
        |coh AS (
        |  SELECT o_custkey, month, cents,
        |         MIN(month) OVER (PARTITION BY o_custkey) AS cohort
        |  FROM om),
        |sz AS (SELECT cohort, COUNT(DISTINCT o_custkey) AS cohort_size
        |       FROM coh GROUP BY cohort),
        |rev AS (
        |  SELECT cohort, CAST(datediff('month', cohort, month) AS INT)
        |           AS age,
        |         CAST(SUM(cents) AS BIGINT) AS rev_cents
        |  FROM coh GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort, age, rev_cents,
        |         CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |  FROM rev)
        |SELECT CAST(cohort AS DATE) AS cohort_month, age, rev_cents,
        |       cum_cents, cohort_size,
        |       CAST(cum_cents // cohort_size AS BIGINT) AS ltv_cents
        |FROM cum JOIN sz USING (cohort)
        |ORDER BY cohort_month, age""".stripMargin),
    // Kaplan-Meier session survival (round 12h) — the product-limit
    // estimator (Kaplan & Meier 1958) over session DURATION: S(t) is the
    // probability a session lasts ≥ t whole minutes. A session whose gap
    // window had not yet elapsed at the observation end (session_end +
    // 30 min > max session_end) is CENSORED at its observed duration —
    // the defining feature vs a naive duration histogram: censored
    // sessions contribute at-risk time without being completions (the
    // fixture yields ~1 censored tail session; at a live 100 TB snapshot
    // every open session is censored, which is why the estimator, not
    // the histogram, is the production readout). Sessions come from the
    // SAME staticSessions derivation sessionize_batch ships (factored —
    // cannot drift). S(t) folds as the INTEGER recurrence
    // s' = s·(n_i−d_i) DIV n_i from s = 10⁶ (the timeseries_ewma
    // all-non-negative form — truncating vs flooring division cannot
    // diverge; s·n ≤ 10⁶·|sessions| under 2⁶³ to ~10¹² sessions), run in
    // a SQL higher-order function over the sorted death-time list; the
    // oracle replays it as a recursive CTE — an independent construction
    // of the same recurrence. 100 TB shape: the session agg collapses
    // events map-side; everything after — minute-bucketed time counts,
    // the reverse-cumulative at-risk window, the O(T²) fold — lives on
    // the DURATION-BOUNDED table (≤ max session minutes rows, a data
    // property like the calendar bound); the observation end rides a
    // 1-row broadcast.
    Query("survival_km_sessions", (s, d) => {
      val ses = staticSessions(s, d)
        .select(expr("(unix_micros(session_end) - unix_micros(session_start)) DIV 60000000").as("dur_min"),
          col("session_end"))
      val w = ses.agg(max(col("session_end")).as("wend"))
      val marked = ses.crossJoin(broadcast(w))
        .select(col("dur_min"),
          (expr("unix_micros(session_end) + 1800000000")
            <= expr("unix_micros(wend)")).cast("int").as("died"))
      val deaths = marked.filter(col("died") === 1)
        .groupBy(col("dur_min").as("t")).agg(count(lit(1)).as("d"))
      val times = marked.groupBy(col("dur_min").as("t"))
        .agg(count(lit(1)).as("c"))
      val revCum = Window.orderBy(desc("rt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val axis = times.select(col("t").as("rt"), col("c"))
        .withColumn("n_risk", sum(col("c")).over(revCum)).drop("c")
      deaths.join(axis, deaths("t") === axis("rt"))
        .agg(array_sort(collect_list(
          struct(col("t"), col("d"), col("n_risk")))).as("sv"))
        .select(
          expr("transform(sv, p -> p.t)").as("ts_"),
          expr("transform(sv, p -> p.d)").as("ds"),
          expr("transform(sv, p -> p.n_risk)").as("ns"))
        .withColumn("ss", expr(
          """transform(sequence(1, size(ts_)),
            |  i -> aggregate(sequence(1, i), 1000000L,
            |    (acc, j) -> acc * (element_at(ns, j) - element_at(ds, j))
            |                DIV element_at(ns, j)))""".stripMargin))
        .select(explode(expr("arrays_zip(ts_, ds, ns, ss)")).as("z"))
        .select(col("z.ts_").as("dur_min"), col("z.ds").as("n_deaths"),
          col("z.ns").as("n_risk"), col("z.ss").as("surv_q6"))
        .orderBy("dur_min")
    }, oracle =
      // independent replay of the KM integer recurrence as a recursive CTE
      // over the duration-ordered death table (the stream_ewma_anomaly
      // recipe); // ≡ DIV on the all-non-negative operands; sessions come
      // from the SAME shared CTE derivation as sessionize_batch's oracle
      s"""WITH RECURSIVE $SessionOracleCtes,
        |sd AS (
        |  SELECT (epoch_us(session_end) - epoch_us(session_start))
        |           // 60000000 AS dur_min,
        |         epoch_us(session_end) AS en_us
        |  FROM ses),
        |w AS (SELECT MAX(en_us) AS wend_us FROM sd),
        |mk AS (
        |  SELECT dur_min,
        |         CASE WHEN en_us + 1800000000 <= wend_us
        |              THEN 1 ELSE 0 END AS died
        |  FROM sd, w),
        |deaths AS (SELECT dur_min AS t, COUNT(*) AS d
        |           FROM mk WHERE died = 1 GROUP BY 1),
        |tms AS (SELECT dur_min AS t, COUNT(*) AS c FROM mk GROUP BY 1),
        |axis AS (
        |  SELECT t, CAST(SUM(c) OVER (ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_risk
        |  FROM tms),
        |km0 AS (
        |  SELECT deaths.t, d, n_risk,
        |         row_number() OVER (ORDER BY deaths.t) AS idx
        |  FROM deaths JOIN axis ON deaths.t = axis.t),
        |rec AS (
        |  SELECT idx, t, d, n_risk,
        |         1000000 * (n_risk - d) // n_risk AS s
        |  FROM km0 WHERE idx = 1
        |  UNION ALL
        |  SELECT k.idx, k.t, k.d, k.n_risk,
        |         r.s * (k.n_risk - k.d) // k.n_risk
        |  FROM rec r JOIN km0 k ON k.idx = r.idx + 1)
        |SELECT t AS dur_min, d AS n_deaths, n_risk,
        |       CAST(s AS BIGINT) AS surv_q6
        |FROM rec ORDER BY dur_min""".stripMargin),
    // Gaps-and-islands activity streaks (round 11): per user, maximal runs
    // of CONSECUTIVE active calendar days — the classic islands derivation
    // (day minus its per-user row_number is constant exactly within a
    // consecutive run) that retention/engagement pipelines compute and
    // that no single window function expresses. Reports per user the
    // active-day count, number of streaks, longest streak, and the start
    // date of the longest streak (earliest on ties — pinned via
    // min(start | len = max_len), not an engine-dependent argmax). All
    // counts exact longs, dates exact (UTC session both engines; the
    // cohort_retention date discipline). 100 TB shape: one distinct to
    // (user, day) — map-side combinable, collapses raw events to at most
    // |users|·|days| rows — then one user_id window and two
    // vocabulary-sized aggregations; raw events never reach the second
    // shuffle.
    Query("streaks_activity", (s, d) => {
      val days = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val byUser = Window.partitionBy("user_id").orderBy("day")
      val streaks = days
        .withColumn("grp", date_sub(col("day"), row_number().over(byUser)))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"), min(col("day")).as("start"))
      streaks
        .withColumn("max_len", max(col("len")).over(Window.partitionBy("user_id")))
        .groupBy("user_id")
        .agg(sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"),
          max(col("len")).as("longest"),
          min(when(col("len") === col("max_len"), col("start")))
            .as("longest_start"))
        .orderBy("user_id")
    }, oracle =
      // the same islands derivation (day - row_number constant within a run)
      // — the construction is standard enough that both engines spell it the
      // same way; every count is exact and the longest-start tiebreak is the
      // pinned min-over-max-length, not an argmax. SUM over BIGINT widens to
      // HUGEINT in DuckDB — cast back.
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |s AS (
        |  SELECT user_id, day,
        |         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |                                       ORDER BY day) AS INTEGER)
        |           AS grp
        |  FROM days),
        |st AS (
        |  SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS start
        |  FROM s GROUP BY user_id, grp),
        |mx AS (SELECT user_id, MAX(len) AS max_len FROM st GROUP BY user_id)
        |SELECT st.user_id,
        |       CAST(SUM(len) AS BIGINT) AS n_active_days,
        |       COUNT(*) AS n_streaks,
        |       CAST(MAX(len) AS BIGINT) AS longest,
        |       MIN(CASE WHEN len = max_len THEN start END) AS longest_start
        |FROM st JOIN mx ON st.user_id = mx.user_id
        |GROUP BY st.user_id ORDER BY st.user_id""".stripMargin),
    // RFM customer segmentation (round 11): the marketing-warehouse
    // staple — recency (days since epoch of last order), frequency
    // (order count), monetary (lifetime cents) per customer, each scored
    // 1-4 against the corpus quartile BOUNDARIES rather than by a global
    // ntile: the three quartile cut-points come from ONE 1-row
    // sortedPick aggregate (the agg_percentile_disc order-statistic
    // discipline — exact value at rank ceil(p·n), identical formula both
    // engines) and ride a broadcast crossJoin, so scoring is a map-side
    // comparison. That is the 100 TB-honest construction: a global
    // ntile(4) window would funnel every customer through one task,
    // while boundary-broadcast scoring scales with the customer
    // aggregate (the boundary agg buffers |customers| values — the GK
    // sketch is the swap-in at extreme cardinality, as documented for
    // every sortedPick site). All metrics exact integers; segment =
    // r·100 + f·10 + m.
    Query("rfm_segment", (s, d) => {
      val base = orders(s, d).groupBy("o_custkey").agg(
        datediff(max(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .as("rec_days"),
        count(lit(1)).as("n_orders"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
      val cuts = base.agg(
        sortedPick(col("rec_days"), 0.25).as("r25"),
        sortedPick(col("rec_days"), 0.50).as("r50"),
        sortedPick(col("rec_days"), 0.75).as("r75"),
        sortedPick(col("n_orders"), 0.25).as("f25"),
        sortedPick(col("n_orders"), 0.50).as("f50"),
        sortedPick(col("n_orders"), 0.75).as("f75"),
        sortedPick(col("cents"), 0.25).as("m25"),
        sortedPick(col("cents"), 0.50).as("m50"),
        sortedPick(col("cents"), 0.75).as("m75"))
      def score(v: Column, a: Column, b: Column, c: Column): Column =
        lit(1) + (v > a).cast("int") + (v > b).cast("int") +
          (v > c).cast("int")
      base.crossJoin(broadcast(cuts))
        .select(col("o_custkey"), col("rec_days"), col("n_orders"),
          col("cents"),
          score(col("rec_days"), col("r25"), col("r50"), col("r75")).as("r"),
          score(col("n_orders"), col("f25"), col("f50"), col("f75")).as("f"),
          score(col("cents"), col("m25"), col("m50"), col("m75")).as("m"))
        .withColumn("segment", col("r") * 100 + col("f") * 10 + col("m"))
        .orderBy("o_custkey")
    }, oracle =
      // quartile boundaries via the SAME sortedPick order statistic
      // (list_sort + ceil(p·n) index), scoring by boundary comparison —
      // integer metrics end to end
      """WITH base AS (
        |  SELECT o_custkey,
        |         CAST(datediff('day', DATE '1992-01-01', MAX(o_orderdate))
        |              AS INT) AS rec_days,
        |         COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |cuts AS (
        |  SELECT
        |    list_sort(list(rec_days))[CAST(greatest(ceil(0.25 * COUNT(*)), 1) AS INT)] AS r25,
        |    list_sort(list(rec_days))[CAST(greatest(ceil(0.50 * COUNT(*)), 1) AS INT)] AS r50,
        |    list_sort(list(rec_days))[CAST(greatest(ceil(0.75 * COUNT(*)), 1) AS INT)] AS r75,
        |    list_sort(list(n_orders))[CAST(greatest(ceil(0.25 * COUNT(*)), 1) AS INT)] AS f25,
        |    list_sort(list(n_orders))[CAST(greatest(ceil(0.50 * COUNT(*)), 1) AS INT)] AS f50,
        |    list_sort(list(n_orders))[CAST(greatest(ceil(0.75 * COUNT(*)), 1) AS INT)] AS f75,
        |    list_sort(list(cents))[CAST(greatest(ceil(0.25 * COUNT(*)), 1) AS INT)] AS m25,
        |    list_sort(list(cents))[CAST(greatest(ceil(0.50 * COUNT(*)), 1) AS INT)] AS m50,
        |    list_sort(list(cents))[CAST(greatest(ceil(0.75 * COUNT(*)), 1) AS INT)] AS m75
        |  FROM base)
        |SELECT o_custkey, rec_days, n_orders, cents,
        |       1 + CAST(rec_days > r25 AS INT) + CAST(rec_days > r50 AS INT)
        |         + CAST(rec_days > r75 AS INT) AS r,
        |       1 + CAST(n_orders > f25 AS INT) + CAST(n_orders > f50 AS INT)
        |         + CAST(n_orders > f75 AS INT) AS f,
        |       1 + CAST(cents > m25 AS INT) + CAST(cents > m50 AS INT)
        |         + CAST(cents > m75 AS INT) AS m,
        |       (1 + CAST(rec_days > r25 AS INT) + CAST(rec_days > r50 AS INT)
        |          + CAST(rec_days > r75 AS INT)) * 100
        |       + (1 + CAST(n_orders > f25 AS INT) + CAST(n_orders > f50 AS INT)
        |          + CAST(n_orders > f75 AS INT)) * 10
        |       + (1 + CAST(cents > m25 AS INT) + CAST(cents > m50 AS INT)
        |          + CAST(cents > m75 AS INT)) AS segment
        |FROM base, cuts ORDER BY o_custkey""".stripMargin),
    // Exponentially-weighted moving average (round 6) — the trend-smoothing
    // recurrence dashboards and drift monitors run over metric series.
    // EWMA is inherently sequential (s_t depends on s_{t-1}), which Spark
    // windows cannot express — so the per-key series folds INSIDE a SQL
    // higher-order function: collect the sorted monthly series, then
    // transform(i -> aggregate(prefix_i)) replays the recurrence per
    // prefix. The recurrence itself is INTEGER FIXED POINT (§7.4e PageRank
    // recipe), and deliberately in the all-non-negative form
    // s_t = (3·s_{t-1} + x_t·1e6) DIV 4   (α = 1/4)
    // so truncating vs flooring division can never diverge between
    // engines — bit-exact, zero float discipline. O(T²) fold work per key
    // is the price of per-prefix output; T = months (~80) is a constant,
    // and the 100 TB shape is one groupBy on the (high-cardinality in
    // production) series key with constant per-key work. Revenue rides as
    // integer cents; 3·s + x·1e6 stays under 2^63 for series sums to
    // ~7·10^11 cents — beyond that drop the quantizer to 1e3 or fold in
    // DECIMAL(38,0).
    Query("timeseries_ewma", (s, d) => {
      val monthly = orders(s, d)
        .select(col("o_orderstatus").as("st"),
          ((year(col("o_orderdate")) - 1992) * 12
            + month(col("o_orderdate")) - 1).as("ym"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .groupBy("st", "ym").agg(sum(col("cents")).as("v"))
      monthly.groupBy("st")
        .agg(array_sort(collect_list(struct(col("ym"), col("v")))).as("sv"))
        .select(col("st"),
          expr("transform(sv, p -> p.ym)").as("yms"),
          expr("transform(sv, p -> p.v)").as("vs"),
          expr("transform(sv, p -> p.v * 1000000L)").as("xs"))
        .withColumn("es", expr(
          """transform(sequence(1, size(xs)),
            |  i -> aggregate(slice(xs, 2, i - 1), element_at(xs, 1),
            |                 (acc, x) -> (3L * acc + x) DIV 4L))""".stripMargin))
        .select(col("st"),
          explode(expr("arrays_zip(yms, vs, es)")).as("z"))
        .select(col("st"), col("z.yms").as("ym"),
          col("z.vs").as("cents"), col("z.es").as("ewma_q6"))
        .orderBy("st", "ym")
    }, oracle =
      // list_reduce replays the same all-non-negative integer recurrence per
      // prefix; its seed IS the first element (no init arg), matching the
      // Spark fold's element_at(xs, 1) seed; // vs DIV can't diverge because
      // every term is non-negative
      """WITH m AS (
        |  SELECT o_orderstatus AS st,
        |         (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
        |           AS ym,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1, 2),
        |g AS (
        |  SELECT st, list(ym ORDER BY ym) AS yms,
        |         list(v ORDER BY ym) AS vs,
        |         list(v * 1000000 ORDER BY ym) AS xs
        |  FROM m GROUP BY st),
        |e AS (
        |  SELECT st, yms, vs,
        |         list_transform(range(1, len(xs) + 1),
        |           i -> list_reduce(xs[1:CAST(i AS INT)],
        |                            (acc, x) -> (3 * acc + x) // 4)) AS es
        |  FROM g)
        |SELECT st, CAST(yms[CAST(i AS INT)] AS INT) AS ym,
        |       vs[CAST(i AS INT)] AS cents,
        |       es[CAST(i AS INT)] AS ewma_q6
        |FROM e, UNNEST(range(1, len(yms) + 1)) AS t(i)
        |ORDER BY st, ym""".stripMargin),
    // C24a' — autocorrelation function (round 12g): Pearson r of the daily
    // revenue series against itself at lags 1..7 — the seasonality readout
    // that says WHICH lag the forecast_seasonal_baseline key should key
    // on (a weekly cycle shows as a lag-7 peak) and whether the CUSUM
    // scan's mean-shift model is even plausible. Per lag, only days where
    // BOTH endpoints exist pair up (the overlap convention of the sample
    // ACF's pairwise form). Float discipline (agg_corr recipe): every sum
    // is EXACT — day cents as longs, squares/products accumulated in
    // DECIMAL(38,0) (v² ~ 1e18 × 2.4k days overflows a long at sf0.1) —
    // and only the final Pearson expression runs in double, identically
    // spelled in both engines on identical exact inputs; round(., 6) is
    // display-only (nothing ranks on it). 100 TB shape: ONE map-side-
    // combinable daily agg (the only fact-table shuffle), then the lag
    // pairing explodes each of the ~2.4k CALENDAR-BOUNDED daily rows
    // into 7 shifted copies and equi-joins them back on day — the joined
    // frame is 7×|days|, bounded by time, not corpus; the per-lag sums
    // combine map-side into 7 rows.
    Query("timeseries_autocorr", (s, d) => {
      val daily = orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("v"))
      val shifted = daily
        .select(explode(expr("sequence(1, 7)")).as("lag"),
          col("day"), col("v"))
        .select(col("lag"), expr("date_add(day, lag)").as("day"),
          col("v").as("pv"))
      val dd = (c: Column) => c.cast("decimal(38,0)")
      val m = daily.join(shifted, Seq("day"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n"),
          sum(dd(col("v"))).as("sx"), sum(dd(col("pv"))).as("sy"),
          sum(dd(col("v")) * dd(col("v"))).as("sxx"),
          sum(dd(col("pv")) * dd(col("pv"))).as("syy"),
          sum(dd(col("v")) * dd(col("pv"))).as("sxy"))
      val db = (c: Column) => c.cast("double")
      val r = (db(col("sxy")) - db(col("sx")) * db(col("sy")) / col("n")) /
        sqrt((db(col("sxx")) - db(col("sx")) * db(col("sx")) / col("n")) *
          (db(col("syy")) - db(col("sy")) * db(col("sy")) / col("n")))
      m.select(col("lag"), col("n"), round(r, 6).as("acf"))
        .orderBy("lag")
    }, oracle =
      // exact HUGEINT sums cast to double, then the identically-spelled
      // Pearson expression — the agg_corr recipe at seven lags
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |sh AS (
        |  SELECT lag, day + CAST(lag AS INT) AS day2, v AS pv
        |  FROM daily, UNNEST(range(1, 8)) AS t(lag)),
        |m AS (
        |  SELECT lag, COUNT(*) AS n,
        |         CAST(SUM(d.v) AS DOUBLE) AS sx,
        |         CAST(SUM(s.pv) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(d.v AS HUGEINT) * d.v) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(s.pv AS HUGEINT) * s.pv) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(d.v AS HUGEINT) * s.pv) AS DOUBLE) AS sxy
        |  FROM daily d JOIN sh s ON d.day = s.day2
        |  GROUP BY lag)
        |SELECT CAST(lag AS INT) AS lag, n,
        |       round((sxy - sx * sy / n) /
        |             sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
        |         AS acf
        |FROM m ORDER BY lag""".stripMargin),
    // C24b' — OHLC time bars (round 12): the open/high/low/close/volume
    // candle aggregation every event-series dashboard and market-data
    // pipeline runs — per (event_type, hour) bar. Open/close are pinned
    // by min_by/max_by over the TOTAL (unix_micros, event_id) order (the
    // agg_argminmax struct-key discipline — event_id breaks any same-µs
    // tie across users), values are exact cents, so the whole candle is
    // hash-exact. 100 TB shape: ONE map-side-combinable aggregation —
    // min_by/max_by/min/max/count/sum all combine in partials, only
    // |bars| skinny rows cross the shuffle; no window ever sees raw
    // events (the oracle's row_number windows are the independent
    // construction, not the plan).
    Query("win_ohlc_bars", (s, d) => {
      events(s, d)
        .select(col("event_type"),
          date_trunc("hour", col("ts")).as("bar_ts"),
          expr("unix_micros(ts)").as("tus"), col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("v_c"))
        .groupBy("event_type", "bar_ts")
        .agg(
          min_by(col("v_c"), struct(col("tus"), col("event_id")))
            .as("open_c"),
          max(col("v_c")).as("high_c"), min(col("v_c")).as("low_c"),
          max_by(col("v_c"), struct(col("tus"), col("event_id")))
            .as("close_c"),
          count(lit(1)).as("n_events"), sum(col("v_c")).as("vol_c"))
        .orderBy("event_type", "bar_ts")
    }, oracle =
      // open/close via the INDEPENDENT row_number construction (the
      // agg_argminmax oracle shape) over the same total (tus, event_id)
      // order the engine's min_by/max_by struct keys pin
      """WITH e AS (
        |  SELECT event_type,
        |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar_ts,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
        |  FROM events),
        |o AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY event_type, bar_ts
        |                            ORDER BY tus, event_id) AS ra,
        |         row_number() OVER (PARTITION BY event_type, bar_ts
        |                            ORDER BY tus DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT event_type, bar_ts,
        |       CAST(MAX(CASE WHEN ra = 1 THEN v_c END) AS BIGINT) AS open_c,
        |       MAX(v_c) AS high_c, MIN(v_c) AS low_c,
        |       CAST(MAX(CASE WHEN rd = 1 THEN v_c END) AS BIGINT) AS close_c,
        |       COUNT(*) AS n_events, CAST(SUM(v_c) AS BIGINT) AS vol_c
        |FROM o GROUP BY 1, 2 ORDER BY event_type, bar_ts""".stripMargin),
    // C24b'' — seasonal-baseline forecast + MAE backtest (round 12): the
    // climatology baseline every forecasting system is graded against —
    // per (event_type, hour-of-day), the TRAIN-period (before the
    // profile_drift Jan-16 cut) mean value in exact cents forecasts the
    // TEST period, and the test MAE comes back as the skill readout. All
    // integer: forecast_c = train-sum DIV train-n, mae_c = Σ|v −
    // forecast| DIV test-n (order-independent integer sums; hours absent
    // from test report NULL mae, never 0/0). 100 TB shape: two map-side-
    // combinable passes to a 24·|types|-sized table — train aggregation
    // and test-error aggregation both combine in partials; the test pass
    // joins the broadcast forecast table before its agg.
    Query("forecast_seasonal_baseline", (s, d) => {
      val cut = lit("2024-01-16").cast("timestamp")
      val ev = events(s, d).select(col("event_type"),
        hour(col("ts")).as("hr"), col("ts"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v_c"))
      val train = ev.filter(col("ts") < cut)
        .groupBy("event_type", "hr")
        .agg(count(lit(1)).as("n_train"), sum(col("v_c")).as("sum_c"))
        .withColumn("forecast_c", expr("sum_c DIV n_train"))
        .drop("sum_c")
      val test = ev.filter(col("ts") >= cut)
        .join(broadcast(train.select("event_type", "hr", "forecast_c")),
          Seq("event_type", "hr"))
        .groupBy("event_type", "hr")
        .agg(count(lit(1)).as("n_test"),
          sum(abs(col("v_c") - col("forecast_c"))).as("ae_c"))
      train.join(test, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"), col("n_train"),
          col("forecast_c"),
          coalesce(col("n_test"), lit(0L)).as("n_test"),
          when(col("n_test").isNotNull, expr("ae_c DIV n_test"))
            .as("mae_c"))
        .orderBy("event_type", "hr")
    }, oracle =
      // train means and test MAE as pure integer floor divisions; hours
      // absent from the test window surface NULL mae
      """WITH e AS (
        |  SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS hr,
        |         CAST(ts AS TIMESTAMP) AS t,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
        |  FROM events),
        |train AS (
        |  SELECT event_type, hr, COUNT(*) AS n_train,
        |         CAST(SUM(v_c) // COUNT(*) AS BIGINT) AS forecast_c
        |  FROM e WHERE t < TIMESTAMP '2024-01-16' GROUP BY 1, 2),
        |test AS (
        |  SELECT e.event_type, e.hr, COUNT(*) AS n_test,
        |         SUM(abs(e.v_c - tr.forecast_c)) AS ae_c
        |  FROM e JOIN train tr USING (event_type, hr)
        |  WHERE e.t >= TIMESTAMP '2024-01-16' GROUP BY 1, 2)
        |SELECT tr.event_type, tr.hr, tr.n_train, tr.forecast_c,
        |       COALESCE(te.n_test, 0) AS n_test,
        |       CAST(CASE WHEN te.n_test IS NOT NULL
        |                 THEN te.ae_c // te.n_test END AS BIGINT) AS mae_c
        |FROM train tr LEFT JOIN test te USING (event_type, hr)
        |ORDER BY tr.event_type, tr.hr""".stripMargin),
    // C24b''' — CUSUM changepoint scan (round 12e): the classic level-shift
    // detector monitoring stacks run after the EWMA smoother — the
    // cumulative sum of deviations from the series mean peaks at the most
    // likely changepoint (Page's statistic in its offline scan form).
    // Float-free by construction: with daily revenue as exact cents v_t,
    // n days and total T = Σv, the deviation is scaled by n —
    //   dev_t = n·v_t − T,   S_t = Σ_{i≤t} dev_i = n·Σ_{i≤t}(v_i − T/n)
    // so S_t is n× the textbook CUSUM, an exact long in both engines
    // (monotone transform: the argmax day is identical). Magnitudes:
    // |S_t| ≤ 2·n·T ≈ 10¹⁶ at sf0.1 (n ≈ 2.4k days, T ≈ 2.3×10¹² cents)
    // — 800× under 2⁶³; at ~1000× revenue move the fold to DECIMAL(38,0)
    // or a monthly grain. The peak flag marks argmax |S_t| (every tied
    // day — exact integers, so the tie set is engine-identical). 100 TB
    // shape: one map-side-combinable daily aggregation (|days| rows cross
    // the shuffle), the 1-row (n, T) total and 1-row peak ride broadcast
    // crossJoins, and the running-sum window orders the CALENDAR-BOUNDED
    // daily table (~2.4k rows for 7 years — bounded by time, not corpus
    // size), the same justification as every sortedPick site.
    Query("timeseries_cusum", (s, d) => {
      val daily = orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("v"))
      val tot = daily.agg(count(lit(1)).as("n"), sum(col("v")).as("t"))
      val wRun = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = daily.crossJoin(broadcast(tot))
        .withColumn("cusum", sum(col("n") * col("v") - col("t")).over(wRun))
      val peak = scored.agg(max(abs(col("cusum"))).as("pk"))
      scored.crossJoin(broadcast(peak))
        .select(col("day"), col("v").as("day_cents"), col("cusum"),
          (abs(col("cusum")) === col("pk")).cast("int").as("is_peak"))
        .orderBy("day")
    }, oracle =
      // same n-scaled integer CUSUM (dev = n·v − T exact BIGINTs; DuckDB's
      // window SUM runs in HUGEINT, cast back); the tied-peak set is an
      // integer comparison so both engines flag identical days
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                       AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS t FROM daily),
        |sc AS (
        |  SELECT day, v,
        |         CAST(SUM(n * v - t) OVER (ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cusum
        |  FROM daily, tot),
        |pk AS (SELECT MAX(abs(cusum)) AS pk FROM sc)
        |SELECT day, v AS day_cents, cusum,
        |       CAST(abs(cusum) = pk AS INT) AS is_peak
        |FROM sc, pk ORDER BY day""".stripMargin),
    // C24c — time-series gap-fill + forward fill: the observed daily revenue
    // series per order priority is completed to EVERY calendar day of
    // 1995-01 (sequence() explode — expression-level, no shuffle, no
    // driver-side date loop), missing days get n_orders=0, and the last
    // observed revenue carries forward via last(ignoreNulls) over a per-key
    // window. Days before a key's first observation stay null (nothing to
    // carry). 100 TB shape: the series is |keys| × |days| — generated, not
    // shuffled — and the fill window partitions by key.
    Query("timeseries_gapfill", (s, d) => {
      val days = orders(s, d).select(col("o_orderpriority")).distinct()
        .withColumn("day", explode(expr(
          "sequence(DATE'1995-01-01', DATE'1995-01-31', interval 1 day)")))
      val daily = orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-02-01"))
        .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("rev"))
      val fill = Window.partitionBy("o_orderpriority").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.join(daily, Seq("o_orderpriority", "day"), "left")
        .select(col("o_orderpriority"), col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"), col("rev"),
          last(col("rev"), ignoreNulls = true).over(fill).as("rev_filled"))
        .orderBy("o_orderpriority", "day")
    }, oracle =
      """WITH days AS (
        |  SELECT p.o_orderpriority, CAST(g.generate_series AS DATE) AS day
        |  FROM (SELECT DISTINCT o_orderpriority FROM orders) p
        |  CROSS JOIN generate_series(DATE '1995-01-01', DATE '1995-01-31',
        |                             INTERVAL 1 DAY) g),
        |daily AS (
        |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
        |         COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-02-01 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT d.o_orderpriority, d.day,
        |       COALESCE(daily.n_orders, 0) AS n_orders, daily.rev,
        |       last_value(daily.rev IGNORE NULLS) OVER (
        |         PARTITION BY d.o_orderpriority ORDER BY d.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_filled
        |FROM days d
        |LEFT JOIN daily ON d.o_orderpriority = daily.o_orderpriority
        |               AND d.day = daily.day
        |ORDER BY d.o_orderpriority, d.day""".stripMargin),
    // C27c — Pareto frontier (skyline): parts not dominated on (min price,
    // max size). The naive NOT EXISTS encoding — which the DuckDB oracle
    // deliberately runs, as the independent check — is an O(n²) nested
    // loop. This plan is O(n log n): collapse to distinct prices with each
    // price's max size (map-side combined), one ordered window over that
    // post-aggregate table computes the running max size over all STRICTLY
    // cheaper prices (cumulative max, then lag to exclude the current
    // price), and a hash join back tags every part. A part survives iff its
    // size equals its price-group max AND beats every cheaper group's max.
    // The global window orders only the distinct-price table (≪ rows at
    // scale; the full-scale path range-partitions the sort and carries each
    // partition's boundary max — the AsOfJoin chunk-carry trick).
    Query("pareto_frontier", (s, d) => {
      val byPrice = part(s, d).groupBy("p_retailprice")
        .agg(max(col("p_size")).as("gmax"))
      val ord = Window.orderBy("p_retailprice")
      val cheaperMax = byPrice
        .withColumn("cmax", max(col("gmax")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("prev_max", lag(col("cmax"), 1).over(ord))
        .select("p_retailprice", "gmax", "prev_max")
      part(s, d).join(cheaperMax, Seq("p_retailprice"))
        .filter(col("p_size") === col("gmax") &&
          (col("prev_max").isNull || col("prev_max") < col("p_size")))
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    }, oracle =
      // the oracle runs the O(n²) NOT EXISTS dominance test the window plan
      // avoids — an independent implementation of the skyline semantics
      """SELECT a.p_partkey, a.p_name, a.p_retailprice, a.p_size
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
        |ORDER BY a.p_retailprice, a.p_partkey""".stripMargin),
    // PageRank over the click graph (round 6): edges are consecutive
    // same-user page transitions (lag over event_id — NOT ts: the events
    // fixture is ns-timestamped and Spark's µs truncation could reorder
    // sub-µs neighbors that DuckDB sees in full precision; event_id is a
    // total order in both engines). Ranks are integer fixed-point
    // (operators.PageRank): every step integer DIV/sum, so the iterative
    // operator is differentially checked bit-for-bit against a DuckDB
    // replay of the same recurrence — no float discipline needed at all.
    Query("pagerank_clicks", (s, d) => {
      val pages = ClickGraph.pages(s, d)
      graft.operators.PageRank.run(ClickGraph.directed(s, d), "src", "dst",
        pages, "page", pages, 5)
        .orderBy(desc("rank"), asc("page"))
    }, oracle = {
      val iterCte = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT nodes.page,
           |         (150000000000 // nn.n)
           |         + (85 * coalesce(c.s, 0)) // 100 AS r
           |  FROM nodes CROSS JOIN nn LEFT JOIN (
           |    SELECT e.dst, CAST(SUM(p.r // o.od) AS BIGINT) AS s
           |    FROM r${i - 1} p JOIN e ON p.page = e.src
           |    JOIN outdeg o ON e.src = o.src
           |    GROUP BY e.dst) c ON nodes.page = c.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${ClickGraph.OracleEv},
         |${ClickGraph.OracleDirected},
         |outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT page FROM ev),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |r0 AS (SELECT page, 1000000000000 // n AS r
         |       FROM nodes CROSS JOIN nn),
         |$iterCte
         |SELECT page, r AS "rank" FROM r5 ORDER BY r DESC, page""".stripMargin
    }),
    // Personalized PageRank (round 12f) — random walk with restart from a
    // SEED set (Page et al. 1999 §6; Jeh & Widom, WWW 2003): the teleport
    // mass lands only on the landing pages (page < 10), so the score reads
    // "authority AS SEEN FROM these entry points" — the related-content /
    // recommendation ranking the uniform pagerank_clicks cannot express
    // (pages unreachable from the seeds score exactly 0). Same integer
    // fixed-point recurrence as pagerank_clicks (operators.PageRank
    // scaladoc: SCALE=10^12, every step DIV/×/long-sum — bit-exact
    // cross-engine by construction); the oracle unrolls the identical
    // seeded recurrence; pagerank_clicks is the same loop with every page
    // a seed.
    Query("pagerank_personalized", (s, d) =>
      graft.operators.PageRank.run(
        ClickGraph.directed(s, d), "src", "dst",
        ClickGraph.pages(s, d), "page",
        ClickGraph.pages(s, d).filter(col("page") < 10), 5)
        .orderBy(desc("rank"), asc("page")), oracle =
      // the pagerank_clicks recurrence with the teleport term gated on the
      // seed flag and divided by |S| — the identical integer unroll
      {
      val iterCte = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT sv.page,
           |         sv.seed * (150000000000 // nn.n)
           |         + (85 * coalesce(c.s, 0)) // 100 AS r
           |  FROM sv CROSS JOIN nn LEFT JOIN (
           |    SELECT e.dst, CAST(SUM(p.r // o.od) AS BIGINT) AS s
           |    FROM r${i - 1} p JOIN e ON p.page = e.src
           |    JOIN outdeg o ON e.src = o.src
           |    GROUP BY e.dst) c ON sv.page = c.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${ClickGraph.OracleEv},
         |${ClickGraph.OracleDirected},
         |outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT page FROM ev),
         |sv AS (SELECT page,
         |              CASE WHEN page < 10 THEN 1 ELSE 0 END AS seed
         |       FROM nodes),
         |nn AS (SELECT CAST(SUM(seed) AS BIGINT) AS n FROM sv),
         |r0 AS (SELECT page, seed * (1000000000000 // n) AS r
         |       FROM sv CROSS JOIN nn),
         |$iterCte
         |SELECT page, r AS "rank" FROM r5 ORDER BY r DESC, page""".stripMargin
    }),
    // HITS hubs-and-authorities (round 12) — the bipartite-reinforcement
    // ranking PageRank's single score cannot express: navigation pages
    // that POINT AT the good content (hubs) vs the content pages
    // themselves (authorities). Max-normalized all-integer rounds —
    // operators.Hits scaladoc has the full derivation; the oracle unrolls
    // the identical integer recurrence (the pagerank/LPA precedent).
    // 100 TB: two |E|-linear join+agg passes per round, broadcast 1-row
    // maxes, per-round checkpointed loop frames.
    Query("graph_hits", (s, d) =>
      graft.operators.Hits.run(ClickGraph.directed(s, d), "src", "dst",
        ClickGraph.pages(s, d), "page", 3)
        .orderBy("page"), oracle =
      // the same integer fixed-point recurrence, 5 unrolled iterations;
      // SUM(BIGINT) is HUGEINT in DuckDB — CAST back so the schema matches.
      // `//` is DuckDB's integer floor division = Spark's DIV on these
      // non-negative values.
      // the identical max-normalized integer recurrence unrolled — 3 rounds
      // of (authority half-step, hub half-step), each: in(out)-edge sum,
      // 1-row max, q6 normalization with the zero-graph guard
      {
      val rounds = (1 to 3).map { t =>
        val prevH = if (t == 1) "h0" else s"h${t - 1}"
        s"""a${t}r AS (
           |  SELECT e.dst AS id, SUM($prevH.x) AS s
           |  FROM e JOIN $prevH ON $prevH.id = e.src GROUP BY 1),
           |a${t}m AS (SELECT MAX(s) AS m FROM a${t}r),
           |a$t AS (
           |  SELECT n0.id,
           |         CASE WHEN m > 0 THEN COALESCE(r.s, 0) * 1000000 // m
           |              ELSE 0 END AS x
           |  FROM n0 LEFT JOIN a${t}r r USING (id), a${t}m),
           |h${t}r AS (
           |  SELECT e.src AS id, SUM(a$t.x) AS s
           |  FROM e JOIN a$t ON a$t.id = e.dst GROUP BY 1),
           |h${t}m AS (SELECT MAX(s) AS m FROM h${t}r),
           |h$t AS (
           |  SELECT n0.id,
           |         CASE WHEN m > 0 THEN COALESCE(r.s, 0) * 1000000 // m
           |              ELSE 0 END AS x
           |  FROM n0 LEFT JOIN h${t}r r USING (id), h${t}m)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${ClickGraph.OracleEv},
         |${ClickGraph.OracleDirected},
         |n0 AS (SELECT DISTINCT page AS id FROM ev),
         |h0 AS (SELECT id, 1000000 AS x FROM n0),
         |$rounds
         |SELECT a3.id AS page, CAST(a3.x AS BIGINT) AS auth_q6,
         |       CAST(h3.x AS BIGINT) AS hub_q6
         |FROM a3 JOIN h3 USING (id) ORDER BY page""".stripMargin
    }),
    // Last-touch attribution (round 6): every purchase credits the same
    // user's most recent preceding touch (click/view) — the carry pattern
    // (last ignoreNulls over an event_id-ordered user window; the purchase
    // row's own touch expression is null, so "current row inclusive" still
    // means the last STRICTLY preceding touch). Purchases with no touch
    // history group under page -1. Revenue sums through DECIMAL(18,2)
    // (decSum — the §7.4 double discipline). One hash shuffle on user_id
    // shared by the window and nothing else; the aggregation's key space
    // is the page vocabulary.
    Query("attribution_last_touch", (s, d) => {
      val ev = events(s, d)
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"),
          get_json_object(col("props"), "$.k").cast("long").as("page"))
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("touch_page",
          last(when(col("event_type") =!= "purchase", col("page")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch_page"), lit(-1L)).as("touch_page"))
        .agg(count(lit(1)).as("n_purchases"),
          decSum(col("value")).as("revenue"))
        .orderBy("touch_page")
    }, oracle =
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS page
        |  FROM events
        |  WHERE event_type IN ('click', 'view', 'purchase')),
        |touched AS (
        |  SELECT event_type, value,
        |         last_value(CASE WHEN event_type <> 'purchase' THEN page END
        |                    IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS touch_page
        |  FROM ev)
        |SELECT coalesce(touch_page, -1) AS touch_page,
        |       COUNT(*) AS n_purchases,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM touched WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY touch_page""".stripMargin),
    // Position-based (U-shaped) attribution (round 12f) — the multi-touch
    // refinement of attribution_last_touch: every purchase splits its
    // revenue over its WHOLE touch path (the touches since the user's
    // previous purchase), 40% to the first touch, 40% to the last, the
    // middle 20% spread over the interior (the standard U-shape; m=1 →
    // 100%, m=2 → 50/50). Credits are integer BASIS POINTS (m>2 interior
    // bp = 2000 DIV (m−2) — truncation is the DEFINED rule, identical in
    // both engines), revenue is exact cents, and the one division to
    // whole credited cents happens ONCE on the final sum — zero floats
    // anywhere. Path segmentation is the gaps-and-islands running
    // purchase count (grp inclusive: a touch with grp g precedes purchase
    // number g+1; the purchase row's own grp IS its number), touches
    // after the last purchase and purchases with an empty path (credited
    // to page −1 at 100%) fall out of the inner/anti join pair. 100 TB
    // shape: one user_id window for segmentation, one (user, pidx) window
    // pair for position/length — both partition-parallel, keys nested so
    // the second shuffle is the only extra cost over last_touch — then a
    // page-vocabulary-sized map-side-combinable aggregation; products
    // cents×bp ≤ 10⁹ per row keep the long sum far from overflow.
    // Time-decay multi-touch attribution (round 13) — the THIRD model
    // next to last-touch and U-shaped position: each purchase's revenue
    // splits over its touch path with weights halving per whole 7-day
    // period of touch→purchase age (the exponential-decay family every
    // attribution product offers; whole halvings keep it EXACT — 2^k is
    // integer, so w_q6 = 10⁶ DIV 2^min(k,20) needs no pow/float, where a
    // fractional half-life exponent would). Same gaps-and-islands path
    // segmentation as attribution_position (grp running purchase count);
    // per-path normalization and the credit split are integer fixed point
    // (credit = cents·w DIV Σw — truncation per touch is the DEFINED
    // rule, so a path's credits sum to ≤ its revenue); age is guarded
    // non-negative (greatest(...,0)) so the integer division cannot hit
    // the Spark-DIV-vs-DuckDB-// sign divergence. Empty-path purchases
    // credit page −1 in full. 100 TB: one user window + one (user, pidx)
    // window + a page-vocabulary agg — the attribution_position shape;
    // cents·w_q6 ≤ 10¹² per row.
    Query("attribution_time_decay", (s, d) => {
      val ev = events(s, d)
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("tus"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
          get_json_object(col("props"), "$.k").cast("long").as("page"))
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val g = ev.withColumn("grp",
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).over(w))
      val touches = g.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("page"), col("tus").as("t_us"),
          (col("grp") + 1).as("pidx"))
      val purchases = g.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("grp").as("pidx"), col("cents"),
          col("tus").as("p_us"))
      val weighted = touches.join(purchases, Seq("user_id", "pidx"))
        .withColumn("w_q6", expr(
          "1000000L DIV shiftleft(1L, cast(least(" +
            "greatest(p_us - t_us, 0L) DIV 604800000000, 20) as int))"))
      val credited = weighted
        .withColumn("sum_w",
          sum(col("w_q6")).over(Window.partitionBy("user_id", "pidx")))
        .select(col("page"), expr("cents * w_q6 DIV sum_w").as("credit"))
      val orphans = purchases
        .join(touches, Seq("user_id", "pidx"), "left_anti")
        .select(lit(-1L).as("page"), col("cents").as("credit"))
      credited.unionAll(orphans)
        .groupBy(col("page").as("touch_page"))
        .agg(count(lit(1)).as("n_credits"),
          sum(col("credit")).as("credit_cents"))
        .orderBy("touch_page")
    }, oracle =
      // same segmentation CTEs as attribution_position; exact 2^k decay
      // weights, per-path integer normalization
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS page
        |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
        |g AS (
        |  SELECT *, SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM ev),
        |t AS (SELECT user_id, page, tus AS t_us, grp + 1 AS pidx
        |      FROM g WHERE event_type <> 'purchase'),
        |p AS (SELECT user_id, grp AS pidx, cents, tus AS p_us
        |      FROM g WHERE event_type = 'purchase'),
        |wgt AS (
        |  SELECT t.user_id, t.pidx, t.page, p.cents,
        |         1000000 // (1 << CAST(least(greatest(p.p_us - t.t_us, 0)
        |           // 604800000000, 20) AS INT)) AS w_q6
        |  FROM t JOIN p ON p.user_id = t.user_id AND p.pidx = t.pidx),
        |sw AS (SELECT *, SUM(w_q6) OVER (PARTITION BY user_id, pidx)
        |         AS sum_w FROM wgt),
        |cr AS (
        |  SELECT page, CAST(cents * w_q6 // sum_w AS BIGINT) AS credit
        |  FROM sw
        |  UNION ALL
        |  SELECT -1 AS page, cents AS credit FROM p
        |  WHERE NOT EXISTS (SELECT 1 FROM t
        |    WHERE t.user_id = p.user_id AND t.pidx = p.pidx))
        |SELECT page AS touch_page, COUNT(*) AS n_credits,
        |       CAST(SUM(credit) AS BIGINT) AS credit_cents
        |FROM cr GROUP BY 1 ORDER BY touch_page""".stripMargin),
    Query("attribution_position", (s, d) => {
      val ev = events(s, d)
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
          get_json_object(col("props"), "$.k").cast("long").as("page"))
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val g = ev.withColumn("grp",
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).over(w))
      val touches = g.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_id"), col("page"),
          (col("grp") + 1).as("pidx"))
      val purchases = g.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("grp").as("pidx"), col("cents"))
      val wp = Window.partitionBy("user_id", "pidx").orderBy("event_id")
      val pathed = touches
        .withColumn("pos", row_number().over(wp))
        .withColumn("m",
          count(lit(1)).over(Window.partitionBy("user_id", "pidx")))
      val credited = pathed.join(purchases, Seq("user_id", "pidx"))
        .select(col("page"), col("cents"),
          when(col("m") === 1, 10000L)
            .when(col("m") === 2, 5000L)
            .when(col("pos") === 1 || col("pos") === col("m"), 4000L)
            .otherwise(expr("2000 DIV (m - 2)")).as("bp"))
      val orphans = purchases
        .join(touches, Seq("user_id", "pidx"), "left_anti")
        .select(lit(-1L).as("page"), col("cents"), lit(10000L).as("bp"))
      credited.unionAll(orphans)
        .groupBy("page")
        .agg(count(lit(1)).as("n_credits"),
          sum(col("cents") * col("bp")).as("credit_bp_cents"))
        .select(col("page").as("touch_page"), col("n_credits"),
          col("credit_bp_cents"),
          expr("credit_bp_cents DIV 10000").as("credit_cents"))
        .orderBy("touch_page")
    }, oracle =
      // same segmentation (running purchase count), same integer basis-point
      // credit rule, same single final DIV to credited cents
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS page
        |  FROM events
        |  WHERE event_type IN ('click', 'view', 'purchase')),
        |g AS (
        |  SELECT *, SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS grp
        |  FROM ev),
        |t AS (SELECT user_id, event_id, page, grp + 1 AS pidx
        |      FROM g WHERE event_type <> 'purchase'),
        |p AS (SELECT user_id, grp AS pidx, cents
        |      FROM g WHERE event_type = 'purchase'),
        |pathed AS (
        |  SELECT user_id, pidx, page,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, pidx
        |                            ORDER BY event_id) AS pos,
        |         COUNT(*) OVER (PARTITION BY user_id, pidx) AS m
        |  FROM t),
        |cr AS (
        |  SELECT pa.page, p.cents,
        |         CASE WHEN pa.m = 1 THEN 10000
        |              WHEN pa.m = 2 THEN 5000
        |              WHEN pa.pos = 1 OR pa.pos = pa.m THEN 4000
        |              ELSE 2000 // (pa.m - 2) END AS bp
        |  FROM pathed pa
        |  JOIN p ON pa.user_id = p.user_id AND pa.pidx = p.pidx
        |  UNION ALL
        |  SELECT -1 AS page, cents, 10000 AS bp
        |  FROM p WHERE NOT EXISTS (
        |    SELECT 1 FROM t
        |    WHERE t.user_id = p.user_id AND t.pidx = p.pidx))
        |SELECT page AS touch_page, COUNT(*) AS n_credits,
        |       CAST(SUM(cents * bp) AS BIGINT) AS credit_bp_cents,
        |       CAST(SUM(cents * bp) AS BIGINT) // 10000 AS credit_cents
        |FROM cr GROUP BY 1 ORDER BY touch_page""".stripMargin),
    // Triangle census of the click graph (round 6) — the structural stat
    // behind clustering-coefficient quality signals on link graphs. The
    // Spark plan is the DEGREE-ORDERED orientation: each undirected edge
    // points from its lower-(deg, id) endpoint to the higher, so every
    // triangle is closed from exactly one node (its lowest-rank corner) and
    // — the 100 TB property — a hub's O(deg²) wedge space is never
    // enumerated from the hub itself; out-degrees in the oriented graph
    // are O(sqrt(E)) bounded, the standard arboricity argument. Wedges
    // come from the exact integer formula Σ d(d-1)/2, so the one-row
    // result (nodes, edges, wedges, triangles) is all longs — no floats.
    // The DuckDB oracle deliberately counts by the UNORIENTED a<b<c
    // three-way join — an independent construction of the same census.
    Query("graph_triangles", (s, d) => {
      // triangle side delegated to operators.Triangles (round 11): the
      // degree-oriented wedge enumeration — e1.t < e2.t normalized, closed
      // by a pure EQUI-join — now lives in ONE place, shared with
      // graph_clustering_coeff's per-node corner counts; checkpointed
      // (r17 optimization) for the same reason as there: five consumers
      // otherwise re-derive the edge list from raw events
      val und = ClickGraph.undCheckpoint(s, d)
      val deg = Graph.degrees(und)
      val tri = graft.operators.Triangles.enumerate(und, deg)
      val totals = und.agg(count(lit(1)).as("n_edges")).crossJoin(
        deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("d * (d - 1) DIV 2")).as("n_wedges")))
      totals.crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    }, oracle =
      // deliberately the UNORIENTED a<b<c three-way join — an independent
      // construction of the census the oriented Spark plan computes
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |deg AS (SELECT node, COUNT(*) AS d FROM (
        |          SELECT u AS node FROM und
        |          UNION ALL SELECT v AS node FROM und) t
        |        GROUP BY node),
        |tri AS (SELECT COUNT(*) AS n_triangles
        |        FROM und ab JOIN und bc ON ab.v = bc.u
        |        JOIN und ac ON ac.u = ab.u AND ac.v = bc.v)
        |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        |       (SELECT COUNT(*) FROM und) AS n_edges,
        |       (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg)
        |         AS n_wedges,
        |       n_triangles
        |FROM tri""".stripMargin),
    // Per-node local clustering coefficient (round 11): how tightly each
    // page's click-neighborhood closes on itself — the node-level
    // refinement of graph_triangles' global census (census says HOW MANY
    // closures exist; this says WHERE). Corner counts come from the SAME
    // factored enumeration the census counts (operators.Triangles), so the
    // two keys cannot desync; the coefficient 2t/(d(d-1)) ships as the
    // exact integers (t, d) plus the q6 fixed-point quantization
    // 2t·10⁶ DIV d(d-1) — zero floats cross-engine (the
    // graph_common_neighbors jac_q6 recipe). Nodes with d < 2 (and
    // isolated pages) report cc_q6 = 0 rather than NULL-dividing. The
    // DuckDB oracle enumerates triangles INDEPENDENTLY by the a<b<c
    // three-way self-join — not the degree orientation — so the gate
    // cross-checks the enumeration algorithm itself. 100 TB shape: the
    // enumeration's bounds (see Triangles scaladoc) plus one explode to
    // 3 corner rows per triangle and two map-side-combinable aggs.
    Query("graph_clustering_coeff", (s, d) => {
      // checkpointed (r17 optimization): und feeds the degree agg (which
      // Triangles.enumerate orients by too) plus the enumeration's
      // orientation join and wedge-closing semi-join — each re-ran
      // the events scan + per-user window + distinct without the lineage
      // cut (the graph_modularity precedent)
      val und = ClickGraph.undCheckpoint(s, d)
      val deg = Graph.degrees(und)
      val corners = graft.operators.Triangles.enumerate(und, deg)
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("t"))
      ClickGraph.pages(s, d)
        .join(deg.withColumnRenamed("node", "page"), Seq("page"), "left")
        .join(corners.withColumnRenamed("node", "page"), Seq("page"), "left")
        .select(col("page"),
          coalesce(col("d"), lit(0L)).as("degree"),
          coalesce(col("t"), lit(0L)).as("triangles"))
        .withColumn("cc_q6",
          when(col("degree") >= 2,
            expr("2 * triangles * 1000000 DIV (degree * (degree - 1))"))
            .otherwise(lit(0L)))
        .orderBy("page")
    }, oracle =
      // INDEPENDENT triangle enumeration: the canonical a<b<c three-way
      // self-join, NOT the Spark side's degree orientation — the gate
      // cross-checks the enumeration algorithm, not just the arithmetic.
      // Corner counts unpivot each triangle to its 3 members.
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |deg AS (SELECT node, COUNT(*) AS d FROM (
        |          SELECT u AS node FROM und
        |          UNION ALL SELECT v AS node FROM und) t
        |        GROUP BY node),
        |tri AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
        |        FROM und ab JOIN und bc ON ab.v = bc.u
        |        JOIN und ac ON ac.u = ab.u AND ac.v = bc.v),
        |corners AS (SELECT node, COUNT(*) AS t FROM (
        |              SELECT a AS node FROM tri
        |              UNION ALL SELECT b FROM tri
        |              UNION ALL SELECT c FROM tri) x
        |            GROUP BY node),
        |pg AS (SELECT DISTINCT page FROM ev)
        |SELECT pg.page,
        |       CAST(coalesce(deg.d, 0) AS BIGINT) AS degree,
        |       CAST(coalesce(corners.t, 0) AS BIGINT) AS triangles,
        |       CASE WHEN coalesce(deg.d, 0) >= 2
        |            THEN (2 * coalesce(corners.t, 0) * 1000000)
        |                 // (deg.d * (deg.d - 1))
        |            ELSE 0 END AS cc_q6
        |FROM pg LEFT JOIN deg ON deg.node = pg.page
        |        LEFT JOIN corners ON corners.node = pg.page
        |ORDER BY pg.page""".stripMargin),
    // Connected components of the click graph (round 11): the shared
    // ConnectedComponents loop (frontier-restricted pointer jumping —
    // the dedup_clusters engine) run on the click graph, labeling every
    // page with the smallest page id reachable from it; isolated pages
    // keep their own id. Until now the CC operator was gated only through
    // dedup_clusters, whose oracle replays min-propagation; HERE the
    // DuckDB oracle is a recursive-CTE TRANSITIVE CLOSURE — reach(src,
    // node) to fixpoint, then min per src — a fully independent
    // construction of the fixpoint (closure is O(Σ|component|²) rows,
    // fine for an oracle, never for the engine). 100 TB shape: the
    // operator's (see its scaladoc) — per-round work tracks the frontier,
    // log-diameter rounds, nothing wider than (id, comp) shuffles.
    Query("graph_components", (s, d) =>
      graft.operators.ConnectedComponents
        .run(ClickGraph.und(s, d), "u", "v", ClickGraph.pages(s, d), "page")
        .select(col("page"), col("comp").as("component"))
        .orderBy("page"), oracle =
      // recursive-CTE transitive closure to fixpoint, then min per source —
      // an independent construction of the min-label fixpoint the
      // ConnectedComponents loop converges to (closure rows are
      // Σ|component|², an oracle-only luxury)
      s"""WITH RECURSIVE ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |${ClickGraph.OracleAdj},
        |pg AS (SELECT DISTINCT page FROM ev),
        |reach(src, node) AS (
        |  SELECT page, page FROM pg
        |  UNION
        |  SELECT r.src, a.x FROM reach r JOIN adj a ON a.w = r.node)
        |SELECT src AS page, MIN(node) AS component
        |FROM reach GROUP BY src ORDER BY page""".stripMargin),
    // Component-size histogram (round 13) — the fragmentation readout run
    // on top of graph_components' labeling (dedup-cluster triage, giant-
    // component checks): how many components exist at each size. SAME
    // ConnectedComponents.run fixpoint (min-label is unique, so the
    // oracle's independent recursive-reach construction aggregates to the
    // identical histogram). Two vocabulary-sized map-side aggs after the
    // CC loop — nothing new touches the edge list.
    Query("graph_component_sizes", (s, d) =>
      graft.operators.ConnectedComponents
        .run(ClickGraph.und(s, d), "u", "v", ClickGraph.pages(s, d), "page")
        .groupBy("comp").agg(count(lit(1)).as("comp_size"))
        .groupBy("comp_size").agg(count(lit(1)).as("n_components"))
        .orderBy("comp_size"), oracle =
      // the same recursive-reach fixpoint aggregated to the size histogram —
      // min-label components are unique, so the independent construction
      // aggregates identically
      s"""WITH RECURSIVE ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |${ClickGraph.OracleAdj},
        |pg AS (SELECT DISTINCT page FROM ev),
        |reach(src, node) AS (
        |  SELECT page, page FROM pg
        |  UNION
        |  SELECT r.src, a.x FROM reach r JOIN adj a ON a.w = r.node),
        |comp AS (SELECT src AS page, MIN(node) AS component
        |         FROM reach GROUP BY src),
        |sizes AS (SELECT component, COUNT(*) AS comp_size
        |          FROM comp GROUP BY component)
        |SELECT comp_size, COUNT(*) AS n_components
        |FROM sizes GROUP BY comp_size ORDER BY comp_size""".stripMargin),
    // First-order Markov next-page model (round 11): the empirical
    // transition table sequence-mining and prefetch pipelines train on —
    // per source page, the top-3 next pages by observed transition count
    // over the RAW (non-distinct) consecutive-click transitions
    // (ClickGraph.transitions — the same lag derivation as the edge set,
    // WITHOUT the dedup, because probabilities need multiplicity). The
    // transition probability ships as the exact rational (n, out_total)
    // plus n·10⁶ DIV out_total fixed point — zero floats. 100 TB shape:
    // one user_id window (shared with every other click derivation), one
    // map-side-combinable (src, dst) count whose cardinality is the page
    // vocabulary squared at worst, then a per-src top-3 window over that
    // vocabulary-sized aggregate — raw events never reach the second
    // shuffle.
    Query("markov_next_page", (s, d) => {
      val cnt = ClickGraph.transitions(s, d)
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      val bySrc = Window.partitionBy("src").orderBy(desc("n"), asc("dst"))
      cnt.withColumn("rnk", row_number().over(bySrc))
        .withColumn("out_total", sum(col("n")).over(Window.partitionBy("src")))
        .filter(col("rnk") <= 3)
        .select(col("src"), col("rnk"), col("dst"), col("n"),
          col("out_total"), expr("n * 1000000 DIV out_total").as("p_q6"))
        .orderBy("src", "rnk")
    }, oracle =
      // same raw-transition derivation (shared CTE constant), straight
      // count + window replay — every value an exact long, p_q6 integer
      // fixed point (// vs DIV agree on non-negative operands)
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleTransitions},
        |cnt AS (SELECT src, dst, COUNT(*) AS n FROM tr GROUP BY src, dst),
        |rk AS (SELECT src, dst, n,
        |         ROW_NUMBER() OVER (PARTITION BY src
        |                            ORDER BY n DESC, dst ASC) AS rnk,
        |         SUM(n) OVER (PARTITION BY src) AS out_total
        |       FROM cnt)
        |SELECT src, CAST(rnk AS INT) AS rnk, dst, n,
        |       CAST(out_total AS BIGINT) AS out_total,
        |       (n * 1000000) // CAST(out_total AS BIGINT) AS p_q6
        |FROM rk WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin),
    // Top click PATHS (round 14): the most common length-3 page
    // sequences over the consecutive-duplicate-compressed per-user click
    // stream — the "what journeys do users actually take" product-
    // analytics readout one step up from markov_next_page's first-order
    // transitions (a 3-gram exposes exactly the second-order structure
    // the Markov table cannot). Same derivation discipline as
    // transitions(): self-transitions are compressed FIRST (lag filter),
    // then two lags over the compressed stream form the triple. Scale:
    // both windows are per-user partitions (partition-parallel, never
    // global); the count agg is map-side-combinable and its key space is
    // page-vocabulary³-bounded; top-25 is a TakeOrdered heap with a
    // total (n DESC, p1, p2, p3) order.
    Query("path_common_3grams", (s, d) => {
      val byU = Window.partitionBy("user_id").orderBy("event_id")
      val compressed = ClickGraph.clicks(s, d)
        .withColumn("prev", lag(col("page"), 1).over(byU))
        .filter(col("prev").isNull || col("prev") =!= col("page"))
        .select("user_id", "event_id", "page")
      val tri = compressed
        .withColumn("p1", lag(col("page"), 2).over(byU))
        .withColumn("p2", lag(col("page"), 1).over(byU))
        .filter(col("p1").isNotNull)
        .select(col("p1"), col("p2"), col("page").as("p3"))
      tri.groupBy("p1", "p2", "p3").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("p1"), asc("p2"), asc("p3")).limit(25)
    }, oracle =
      // the compressed-stream double-lag triple derivation, verbatim
      s"""WITH ${ClickGraph.OracleEv},
        |seq0 AS (
        |  SELECT user_id, event_id, page,
        |         lag(page) OVER (PARTITION BY user_id ORDER BY event_id)
        |           AS prev
        |  FROM ev),
        |c AS (SELECT user_id, event_id, page FROM seq0
        |      WHERE prev IS NULL OR prev <> page),
        |tri AS (
        |  SELECT lag(page, 2) OVER w AS p1, lag(page, 1) OVER w AS p2,
        |         page AS p3
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
        |SELECT p1, p2, p3, COUNT(*) AS n FROM tri WHERE p1 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, p1, p2, p3 LIMIT 25""".stripMargin),
    // Common-neighbor link prediction (round 6; degree cap implemented
    // round 7) — the candidate-generation pass of graph-based
    // recommendation, delegated to operators.CommonNeighbors: wedge
    // enumeration from the shared neighbor with centers above `maxDegree`
    // dropped BEFORE the self-join, bounding candidate work at cap·|E|
    // (the Σd² hub blow-up lever, implemented — see the operator's
    // Scaladoc and the planted-hub bound test in CommonNeighborsSpec).
    // Ranked by neighborhood Jaccard cn/(da+db-cn) as an EXACT RATIONAL
    // (cn, jac_den) plus the 1e6 fixed-point quantization for the total
    // order — zero floats. The fixture click graph's max degree is 99 at
    // sf0.1, so the cluster-default cap of 1000 leaves fixture output
    // bit-identical to uncapped (asserted in CommonNeighborsSpec) — and
    // since r8 the DuckDB oracle applies the SAME cap (lowdeg CTE), so the
    // gate checks the cap's semantics rather than relying on the fixture
    // staying below it.
    Query("graph_common_neighbors", (s, d) =>
      graft.operators.CommonNeighbors.run(ClickGraph.und(s, d),
        maxDegree = 1000L, topK = 20), oracle =
      // same edge derivation; NOT EXISTS is the independent spelling of the
      // Spark plan's left-anti; // and DIV agree on non-negative floor.
      // lowdeg mirrors the Spark side's maxDegree=1000 wedge-center cap
      // (r7 ADVICE): with the cap in BOTH engines the differential gate
      // verifies the cap's semantics by design, and a future fixture with a
      // hub of degree >1000 can no longer diverge the two sides.
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |${ClickGraph.OracleAdj},
        |deg AS (SELECT w, COUNT(*) AS d FROM adj GROUP BY w),
        |lowdeg AS (SELECT w FROM deg WHERE d <= 1000),
        |cn AS (SELECT e1.x AS a, e2.x AS b, COUNT(*) AS cn
        |       FROM adj e1 JOIN adj e2 USING (w)
        |                   JOIN lowdeg USING (w)
        |       WHERE e1.x < e2.x GROUP BY 1, 2),
        |cand AS (SELECT * FROM cn WHERE NOT EXISTS (
        |           SELECT 1 FROM und WHERE u = cn.a AND v = cn.b))
        |SELECT a, b, cn, da.d + db.d - cn AS jac_den,
        |       (cn * 1000000) // (da.d + db.d - cn) AS jac_q6
        |FROM cand JOIN deg da ON da.w = cand.a
        |          JOIN deg db ON db.w = cand.b
        |ORDER BY jac_q6 DESC, a, b LIMIT 20""".stripMargin),
    // Resource-Allocation link prediction (round 12): the down-weighted
    // refinement of graph_common_neighbors — each shared neighbor z
    // contributes ⌊10⁶/deg(z)⌋ instead of 1, so hub commons (which carry
    // no signal) stop dominating the ranking (Zhou/Lü/Zhang 2009; RA
    // empirically beats CN and Adamic-Adar on most link-prediction
    // benchmarks; its 1/d weight is exact-integer-quantizable directly,
    // where AA's 1/ln d needs the measured-margin half-up discipline —
    // landed round 14 as graph_adamic_adar). Same candidate frame as CN
    // (operators.CommonNeighbors); score is an order-independent
    // exact long — zero floats. 100 TB: cap·|E| wedge work, two
    // map-side-combinable aggs, TakeOrdered top-k; the cap drops exactly
    // the wedges RA already down-weights toward zero.
    Query("graph_resource_alloc", (s, d) =>
      graft.operators.CommonNeighbors.resourceAllocation(ClickGraph.und(s, d),
        maxDegree = 1000L, topK = 20), oracle =
      // same wedge space as common_neighbors; per-wedge weight is the exact
      // integer 10^6 // deg(center), summed per pair — order-independent
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |${ClickGraph.OracleAdj},
        |deg AS (SELECT w, COUNT(*) AS d FROM adj GROUP BY w),
        |wedges AS (
        |  SELECT e1.x AS a, e2.x AS b, 1000000 // deg.d AS ra_w
        |  FROM adj e1 JOIN adj e2 USING (w) JOIN deg USING (w)
        |  WHERE e1.x < e2.x AND deg.d <= 1000),
        |scored AS (
        |  SELECT a, b, COUNT(*) AS cn, SUM(ra_w) AS ra_q6
        |  FROM wedges GROUP BY 1, 2)
        |SELECT a, b, cn, CAST(ra_q6 AS BIGINT) AS ra_q6
        |FROM scored s WHERE NOT EXISTS (
        |  SELECT 1 FROM und WHERE u = s.a AND v = s.b)
        |ORDER BY ra_q6 DESC, a, b LIMIT 20""".stripMargin),
    // Adamic-Adar link prediction (round 14) — the fourth classic
    // predictor, completing the Liben-Nowell & Kleinberg CIKM 2003
    // panel (CN/Jaccard, RA, PA, AA) on ONE shared candidate set: each
    // shared neighbor z contributes ⌊10⁶/ln(deg z) + 0.5⌋ — the
    // log-tempered midpoint between CN's flat 1 and RA's 1/d. The
    // half-up quantization rides the dsir/bigram-LM measured-margin
    // discipline (min boundary distance 2.58e-6 over d ≤ 2·10⁵, ~10⁴×
    // the cross-engine ln noise; PropertySpec pins the sweep), so the
    // per-pair sum is an order-independent exact long. Same capped
    // wedges, same 100 TB story as its three siblings.
    Query("graph_adamic_adar", (s, d) =>
      graft.operators.CommonNeighbors.adamicAdar(ClickGraph.und(s, d),
        maxDegree = 1000L, topK = 20), oracle =
      // same wedge space; per-wedge weight is the HALF-UP q6 of 1/ln(deg)
      // — identical double expression in both engines, measured boundary
      // margin 2.58e-6 over the d <= 2e5 sweep (PropertySpec)
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |${ClickGraph.OracleAdj},
        |deg AS (SELECT w, COUNT(*) AS d FROM adj GROUP BY w),
        |wedges AS (
        |  SELECT e1.x AS a, e2.x AS b,
        |         CAST(floor(1000000.0 / ln(deg.d) + 0.5) AS BIGINT) AS aa_w
        |  FROM adj e1 JOIN adj e2 USING (w) JOIN deg USING (w)
        |  WHERE e1.x < e2.x AND deg.d <= 1000),
        |scored AS (
        |  SELECT a, b, COUNT(*) AS cn, SUM(aa_w) AS aa_q6
        |  FROM wedges GROUP BY 1, 2)
        |SELECT a, b, cn, CAST(aa_q6 AS BIGINT) AS aa_q6
        |FROM scored s WHERE NOT EXISTS (
        |  SELECT 1 FROM und WHERE u = s.a AND v = s.b)
        |ORDER BY aa_q6 DESC, a, b LIMIT 20""".stripMargin),
    // Preferential-attachment link prediction (round 13) — the third
    // classic predictor next to CN/Jaccard and RA (Liben-Nowell &
    // Kleinberg CIKM 2003's degree-only baseline): score(a,b) =
    // deg(a)·deg(b), an exact long with zero per-wedge work beyond the
    // shared candidate enumeration. Same capped wedges and left-anti
    // existing-edge filter as its two siblings (one shared
    // operators.CommonNeighbors pipeline — the three rankings are
    // comparable row-for-row on an identical candidate set), so the
    // 100 TB story is unchanged: cap·|E| wedge work, map-side-combined
    // candidate counts, two broadcast-sized degree joins, TakeOrdered
    // top-k. Oracle replays the identical wedge/degree derivation.
    Query("graph_pref_attachment", (s, d) =>
      graft.operators.CommonNeighbors.preferentialAttachment(
        ClickGraph.und(s, d), maxDegree = 1000L, topK = 20), oracle =
      // same wedge/degree derivation, PA score = deg(a)·deg(b) exact
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |${ClickGraph.OracleAdj},
        |deg AS (SELECT w, COUNT(*) AS d FROM adj GROUP BY w),
        |wedges AS (
        |  SELECT e1.x AS a, e2.x AS b
        |  FROM adj e1 JOIN adj e2 USING (w) JOIN deg USING (w)
        |  WHERE e1.x < e2.x AND deg.d <= 1000),
        |cand AS (SELECT a, b, COUNT(*) AS cn FROM wedges GROUP BY 1, 2)
        |SELECT a, b, cn, CAST(da.d * db.d AS BIGINT) AS pa
        |FROM cand s JOIN deg da ON da.w = s.a JOIN deg db ON db.w = s.b
        |WHERE NOT EXISTS (SELECT 1 FROM und WHERE u = s.a AND v = s.b)
        |ORDER BY pa DESC, a, b LIMIT 20""".stripMargin),
    // Bipartite co-visitation projection (round 13) — the collaborative-
    // filtering construction ("users who visited A also visited B"): the
    // (user, page) incidence self-joined on user, NOT the click-sequence
    // edge set the other graph keys share — co-visitation counts users,
    // not transitions, so pages a user hit hours apart still pair. The
    // user-degree cap (≤1000 distinct pages) bounds the self-join at
    // cap·|incidence| exactly as the wedge cap bounds CN — a power user
    // touching everything contributes quadratic pairs with no signal
    // (the CN hub argument on the bipartite side). Top-20 by
    // (n_users DESC, a, b) via TakeOrdered. 100 TB: incidence distinct is
    // the corpus-sized shuffle; the capped self-join shuffles on user_id;
    // pair counts combine map-side into the page-vocabulary² space.
    Query("graph_covisitation", (s, d) => {
      val inc = ClickGraph.clicks(s, d)
        .select("user_id", "page").distinct()
        .localCheckpoint() // feeds the degree agg and BOTH join sides
      val deg = inc.groupBy("user_id").agg(count(lit(1)).as("du"))
      val capped = inc.join(deg.filter(col("du") <= 1000)
        .select("user_id"), "user_id")
      capped.as("a").join(capped.as("b"), "user_id")
        .filter(col("a.page") < col("b.page"))
        .select(col("a.page").as("a"), col("b.page").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_users"))
        .orderBy(desc("n_users"), asc("a"), asc("b")).limit(20)
    }, oracle =
      // bipartite incidence self-join with the same user-degree cap;
      // the top-20 order (n_users DESC, a, b) is total
      s"""WITH ${ClickGraph.OracleEv},
        |inc AS (SELECT DISTINCT user_id, page FROM ev),
        |deg AS (SELECT user_id, COUNT(*) AS du FROM inc GROUP BY user_id),
        |cap AS (SELECT inc.user_id, inc.page
        |        FROM inc JOIN deg USING (user_id) WHERE du <= 1000),
        |pr AS (SELECT a.page AS a, b.page AS b
        |       FROM cap a JOIN cap b
        |         ON a.user_id = b.user_id AND a.page < b.page)
        |SELECT a, b, COUNT(*) AS n_users FROM pr GROUP BY 1, 2
        |ORDER BY n_users DESC, a, b LIMIT 20""".stripMargin),
    // Bounded-hop reachability over the click graph (round 10): "pages
    // within 3 clicks of the seed set" via operators.Bfs — the frontier
    // loop whose per-round cost tracks the frontier's edges, never the
    // whole graph. Seeds are pages ≡ 0 (mod 97), a deterministic non-empty
    // subset of the 0-99 page vocabulary. The (page, dist) fixpoint is
    // unique (first-reach distance, unit weights), so the DuckDB oracle is
    // an UNROLLED per-hop derivation — an independent construction, not a
    // replay of the loop.
    Query("graph_bfs_reach", (s, d) => {
      val seeds = ClickGraph.pages(s, d).filter(col("page") % 97 === 0)
      graft.operators.Bfs.run(ClickGraph.und(s, d), "u", "v", seeds, "page",
        maxHops = 3).orderBy("dist", "page")
    }, oracle =
      // UNROLLED per-hop derivation: hop h = neighbors of hop h-1 minus
      // everything settled earlier — an independent construction of the BFS
      // fixpoint (unit weights make first-reach distance unique, so no
      // tie-break divergence is possible between the loop and the unroll).
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |${ClickGraph.OracleAdj},
        |h0 AS (SELECT page AS id FROM (SELECT DISTINCT page FROM ev)
        |       WHERE page % 97 = 0),
        |h1 AS (SELECT DISTINCT x AS id FROM adj JOIN h0 ON adj.w = h0.id
        |       WHERE x NOT IN (SELECT id FROM h0)),
        |h2 AS (SELECT DISTINCT x AS id FROM adj JOIN h1 ON adj.w = h1.id
        |       WHERE x NOT IN (SELECT id FROM h0
        |                       UNION ALL SELECT id FROM h1)),
        |h3 AS (SELECT DISTINCT x AS id FROM adj JOIN h2 ON adj.w = h2.id
        |       WHERE x NOT IN (SELECT id FROM h0
        |                       UNION ALL SELECT id FROM h1
        |                       UNION ALL SELECT id FROM h2))
        |SELECT id AS page, CAST(d AS BIGINT) AS dist FROM (
        |  SELECT id, 0 AS d FROM h0
        |  UNION ALL SELECT id, 1 FROM h1
        |  UNION ALL SELECT id, 2 FROM h2
        |  UNION ALL SELECT id, 3 FROM h3) t
        |ORDER BY dist, page""".stripMargin),
    // Synchronous label propagation (round 10): 4 fixed rounds of
    // most-frequent-neighbor-label with ties toward the smaller label —
    // both randomness sources of classic LPA pinned (update order via
    // synchronous rounds, tie-breaks via min-label), so the result is a
    // pure function of the graph and the DuckDB oracle can replay the
    // identical all-integer recurrence as chained CTEs (the
    // pagerank_clicks recipe). Isolated pages keep their own label.
    Query("graph_communities_lpa", (s, d) =>
      graft.operators.LabelPropagation.run(ClickGraph.und(s, d), "u", "v",
        ClickGraph.pages(s, d), "page", 4)
        .orderBy("page"), oracle =
      // the identical synchronous recurrence, 4 unrolled rounds (the
      // pagerank_clicks recipe): round r = per-vertex argmax of neighbor
      // label counts over round r-1, ties to the smaller label; vertices
      // absent from adj (isolated) carry their previous label.
      s"""WITH ${ClickGraph.OracleEv},
         |${ClickGraph.OracleUnd},
         |${ClickGraph.OracleAdj},
         |${ClickGraph.oracleLpa(4)}
         |SELECT id AS page, lab AS label FROM l4 ORDER BY page""".stripMargin),
    // Modularity of the LPA communities (round 12g) — Newman & Girvan
    // 2004's Q = Σ_c [L_c/m − (D_c/2m)²], the quality score that says
    // whether the partition graph_communities_lpa ships actually has
    // more intra-community edges than a random graph with the same
    // degrees would (the eval operator of the graph family, the role
    // retrieval_eval_ndcg plays for ANN). Exact integers throughout:
    // per-community q_num = 4·m·L_c − D_c² over the shared q_den = 4·m²
    // (Q = Σ q_num / q_den — multiply-through by 4m², zero floats;
    // |q_num| ≤ 4m² stays under 2⁶³ to m ≈ 10⁹ edges, beyond that move
    // the products to DECIMAL(38,0)). The labeling is the SAME
    // LabelPropagation.run the LPA key ships, and the oracle replays the
    // same shared recurrence (ClickGraph.oracleLpa) — the two keys cannot
    // drift. 100 TB shape: the label join is |E|-linear (two id-equi
    // joins), degree and intra-edge tallies combine map-side into
    // |communities| rows, and the 1-row edge count rides a broadcast
    // crossJoin.
    Query("graph_modularity", (s, d) => {
      val und = ClickGraph.und(s, d).localCheckpoint()
      val labels = graft.operators.LabelPropagation.run(und, "u", "v",
        ClickGraph.pages(s, d), "page", 4)
      val mm = und.agg(count(lit(1)).as("m"))
      val comm = labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
      val degc = Graph.degrees(und)
        .join(labels.select(col("page").as("node"), col("label")), "node")
        .groupBy("label").agg(sum("d").as("d_c"))
      val intra = und
        .join(labels.select(col("page").as("u"), col("label").as("lu")), "u")
        .join(labels.select(col("page").as("v"), col("label").as("lv")), "v")
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("label")).agg(count(lit(1)).as("l_c"))
      comm.join(degc, Seq("label"), "left").join(intra, Seq("label"), "left")
        .na.fill(0L, Seq("d_c", "l_c"))
        .crossJoin(broadcast(mm))
        .select(col("label"), col("n_nodes"), col("l_c"), col("d_c"),
          (lit(4L) * col("m") * col("l_c")
            - col("d_c") * col("d_c")).as("q_num"),
          (lit(4L) * col("m") * col("m")).as("q_den"))
        .orderBy("label")
    }, oracle =
      // the SAME shared LPA recurrence (ClickGraph.oracleLpa) feeding the
      // exact-integer modularity decomposition: every count/degree-sum is
      // a BIGINT, q_num = 4·m·L_c − D_c² exact in both engines
      s"""WITH ${ClickGraph.OracleEv},
         |${ClickGraph.OracleUnd},
         |${ClickGraph.OracleAdj},
         |${ClickGraph.oracleLpa(4)},
         |lab AS (SELECT id, lab FROM l4),
         |mm AS (SELECT COUNT(*) AS m FROM und),
         |comm AS (SELECT lab AS label, COUNT(*) AS n_nodes
         |         FROM lab GROUP BY 1),
         |deg AS (SELECT node, COUNT(*) AS dg FROM (
         |          SELECT u AS node FROM und
         |          UNION ALL SELECT v AS node FROM und) t GROUP BY 1),
         |degc AS (SELECT l.lab AS label, CAST(SUM(dg) AS BIGINT) AS d_c
         |         FROM deg JOIN lab l ON deg.node = l.id GROUP BY 1),
         |intra AS (SELECT lu.lab AS label, COUNT(*) AS l_c
         |          FROM und JOIN lab lu ON und.u = lu.id
         |                   JOIN lab lv ON und.v = lv.id
         |          WHERE lu.lab = lv.lab GROUP BY 1)
         |SELECT c.label, c.n_nodes,
         |       COALESCE(i.l_c, 0) AS l_c, COALESCE(dc.d_c, 0) AS d_c,
         |       CAST(4 * mm.m * COALESCE(i.l_c, 0)
         |            - COALESCE(dc.d_c, 0) * COALESCE(dc.d_c, 0)
         |            AS BIGINT) AS q_num,
         |       CAST(4 * mm.m * mm.m AS BIGINT) AS q_den
         |FROM comm c
         |LEFT JOIN degc dc ON c.label = dc.label
         |LEFT JOIN intra i ON c.label = i.label
         |CROSS JOIN mm
         |ORDER BY c.label""".stripMargin),
    // Degree profile of the click graph (round 10): the measurement that
    // justifies the graph operators' knobs — CommonNeighbors' maxDegree
    // hub cap and the triangle census's orientation bound are both
    // decisions about THIS distribution (the same role profile_skew plays
    // for the salted join). Histogram of undirected degrees with min/max
    // node witnesses per bucket — all longs, two map-side-combinable
    // aggregations (|V|-sized then |degree-vocabulary|-sized); nothing
    // wider than (node, d) ever shuffles.
    Query("graph_degree_stats", (s, d) => {
      val und = ClickGraph.und(s, d)
      val deg = Graph.degrees(und)
      deg.groupBy("d")
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
        .orderBy("d")
    }, oracle =
      // same edge derivation as the other graph oracles; the histogram is a
      // straight GROUP BY replay — the construction is shared, but every
      // count/min/max is an exact long so any drift in the edge derivation
      // itself (the risky part) hash-fails loudly
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |deg AS (SELECT node, COUNT(*) AS d FROM (
        |          SELECT u AS node FROM und
        |          UNION ALL SELECT v AS node FROM und) t
        |        GROUP BY node)
        |SELECT d, COUNT(*) AS n_nodes,
        |       MIN(node) AS min_node, MAX(node) AS max_node
        |FROM deg GROUP BY d ORDER BY d""".stripMargin),
    // Reciprocity of the directed click graph (round 14c) — the share of
    // transitions users also walk BACKWARDS (A→B with B→A present), the
    // classic directed-graph statistic next to degree_stats/assortativity
    // that says whether the navigation is corridor-like (low) or
    // back-and-forth browsing (high) — and concretely whether pagerank's
    // directed walk and the und() symmetrization lose information on this
    // graph. One |E|-bounded left-semi self-join of the DISTINCT edge set
    // against its own transpose (equi on both endpoints — never a pair
    // enumeration), two 1-row map-side counts, q6 ratio by integer DIV.
    Query("graph_reciprocity", (s, d) => {
      val e = ClickGraph.directed(s, d)
      val mutual = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(mutual.agg(count(lit(1)).as("n_mutual"))))
        .select(col("n_edges"), col("n_mutual"),
          expr("n_mutual * 1000000 DIV n_edges").as("reciprocity_q6"))
    }, oracle =
      // the mutual set spelled as EXISTS against the transpose — an
      // independent construction of the Spark side's left-semi self-join
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleDirected},
        |m AS (SELECT COUNT(*) AS n_mutual FROM e a
        |      WHERE EXISTS (SELECT 1 FROM e b
        |                    WHERE b.src = a.dst AND b.dst = a.src)),
        |t AS (SELECT COUNT(*) AS n_edges FROM e)
        |SELECT n_edges, n_mutual,
        |       CAST(n_mutual * 1000000 // n_edges AS BIGINT)
        |         AS reciprocity_q6
        |FROM m, t""".stripMargin),
    // Bounce rate per day (round 14c) — the share of single-event
    // sessions, THE engagement-quality headline next to the counts the
    // other session keys report (a rising bounce rate with flat DAU is
    // the classic "traffic up, value down" signal). Shares
    // staticSessions — the rate describes exactly the sessions the
    // engine publishes; day = the session's START day (a session is one
    // visit, counted once). One map-side day rollup over the session
    // table; bounce_q6 by integer DIV.
    Query("sessionize_bounce_rate", (s, d) => {
      staticSessions(s, d)
        .groupBy(to_date(col("session_start")).as("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L))
            .as("n_bounces"))
        .select(col("day"), col("n_sessions"), col("n_bounces"),
          expr("n_bounces * 1000000 DIV n_sessions").as("bounce_q6"))
        .orderBy("day")
    }, oracle =
      // the shared session CTEs rolled up by start day
      s"""WITH $SessionOracleCtes
        |SELECT CAST(session_start AS DATE) AS day,
        |       COUNT(*) AS n_sessions,
        |       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_bounces,
        |       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |            * 1000000 // COUNT(*) AS BIGINT) AS bounce_q6
        |FROM ses GROUP BY day ORDER BY day""".stripMargin),
    // Growth accounting (round 14c) — the daily new-vs-returning split
    // the DAU chart decomposes into (the growth-team view: is the line
    // held up by acquisition or retention?). One distinct (user, day)
    // pass, then first-seen day via a per-user window over THAT table —
    // the corpus contributes one distinct; the window sees at most
    // |users|·|days-active| rows, one hash partition by user, no second
    // shuffle. Day rollup after is map-side combinable.
    Query("growth_accounting", (s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id")
      ev.withColumn("first_day", min(col("day")).over(w))
        .groupBy("day")
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
            .as("n_returning"),
          count(lit(1)).as("n_active"))
        .orderBy("day")
    }, oracle =
      """WITH ev AS (
        |  SELECT DISTINCT user_id,
        |         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS first_day
        |      FROM ev GROUP BY user_id)
        |SELECT e.day,
        |       CAST(SUM(CASE WHEN e.day = f.first_day THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_new,
        |       CAST(SUM(CASE WHEN e.day <> f.first_day THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_returning,
        |       COUNT(*) AS n_active
        |FROM ev e JOIN f ON e.user_id = f.user_id
        |GROUP BY e.day ORDER BY e.day""".stripMargin),
    // DAU/MAU stickiness (round 14c) — the engagement ratio every product
    // dashboard leads with: per day, the distinct actives that day over
    // the distinct actives of its calendar month. Two exact-distinct
    // passes (map-side partial on (day, user) / (month, user) — the
    // standard two-level distinct, never a funnel), then the
    // CALENDAR-BOUNDED month table broadcasts back onto the daily one;
    // stickiness_q6 by integer DIV. 100 TB: the corpus contributes the
    // two distinct passes only; everything after is ≤366 rows/year.
    Query("engagement_dau_mau", (s, d) => {
      val ev = events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val dau = ev.groupBy("day")
        .agg(count_distinct(col("user_id")).as("dau"))
      val mau = ev.groupBy(trunc(col("day"), "month").as("month"))
        .agg(count_distinct(col("user_id")).as("mau"))
      dau.withColumn("month", trunc(col("day"), "month"))
        .join(broadcast(mau), Seq("month"))
        .select(col("day"), col("dau"), col("mau"),
          expr("dau * 1000000 DIV mau").as("stickiness_q6"))
        .orderBy("day")
    }, oracle =
      """WITH ev AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
        |  FROM events),
        |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
        |        FROM ev GROUP BY day),
        |mau AS (SELECT date_trunc('month', day) AS month,
        |               COUNT(DISTINCT user_id) AS mau
        |        FROM ev GROUP BY 1)
        |SELECT d.day, d.dau, m.mau,
        |       CAST(d.dau * 1000000 // m.mau AS BIGINT) AS stickiness_q6
        |FROM dau d JOIN mau m ON date_trunc('month', d.day) = m.month
        |ORDER BY d.day""".stripMargin),
    // Degree assortativity (round 12k) — Newman 2002's r: the Pearson
    // correlation of endpoint degrees over the (symmetrized) edge list,
    // the one-number answer to "do hubs link to hubs?" that decides
    // whether the degree cap in CommonNeighbors/RA bites (disassortative
    // graphs put hubs at wedge centers). agg_corr recipe on the edge
    // list: degrees are exact longs, all five sums exact (deg ≤ |V|,
    // products ≤ |V|²·2|E| — longs to ~10⁵ vertices × 10⁸ edges, beyond
    // that DECIMAL(38,0)), one identically-spelled double expression;
    // round(., 6) display-only. 100 TB shape: degree table = one
    // map-side-combinable agg; the two degree lookups are |E|-linear
    // id-equi joins (the graph_modularity shape); the sums combine
    // map-side into one row.
    Query("graph_assortativity", (s, d) => {
      val und = ClickGraph.und(s, d).localCheckpoint()
      val deg = Graph.degrees(und)
      val pairs = Graph.sym(und, "u", "v").toDF("a", "b")
        .join(deg.select(col("node").as("a"), col("d").as("x")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("d").as("y")), Seq("b"))
      val n = count(lit(1))
      val sx = sum(col("x")).cast("double")
      val sy = sum(col("y")).cast("double")
      val sxx = sum(col("x") * col("x")).cast("double")
      val syy = sum(col("y") * col("y")).cast("double")
      val sxy = sum(col("x") * col("y")).cast("double")
      val r = (sxy - sx * sy / n) /
        sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
      pairs.agg(n.as("n_endpoints"), round(r, 6).as("assortativity"))
    }, oracle =
      // the agg_corr construction over the shared symmetric adjacency —
      // HUGEINT-exact sums cast to double, one identical Pearson expression
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |${ClickGraph.OracleAdj},
        |deg AS (SELECT w AS node, COUNT(*) AS dg FROM adj GROUP BY 1),
        |pairs AS (
        |  SELECT dx.dg AS x, dy.dg AS y
        |  FROM adj JOIN deg dx ON adj.w = dx.node
        |           JOIN deg dy ON adj.x = dy.node),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |         CAST(SUM(x) AS DOUBLE) AS sx,
        |         CAST(SUM(y) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
        |  FROM pairs)
        |SELECT n AS n_endpoints,
        |       round((sxy - sx * sy / n)
        |             / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
        |         AS assortativity
        |FROM m""".stripMargin),
    // k-CORE peel profile (round 11): 3 fixed synchronous peel rounds —
    // each round drops every node whose degree in the SURVIVING subgraph
    // is below k, reporting per page the round it was peeled in (1-3;
    // 0 = still in the round-3 residual) plus its residual degree. The
    // density/cohesion profile community pipelines threshold on (LPA
    // labels say WHICH community; the core number says how deeply
    // embedded a node is). k is DENSITY-RELATIVE — floor of the exact
    // average degree, 2|E| DIV |V|, an integer-exact 1-row scalar both
    // engines compute identically — because no fixed k is meaningful
    // across this fixture family's density range (min degree runs 2 →
    // 91 from sf0.001 to sf0.1); at sf0.001 all four output branches
    // are exercised (core of 22 survives), at denser SFs the
    // above-average cut cascades the whole graph out in 2 rounds — a
    // true property of those graphs. Fixed rounds, not convergence, by
    // the LPA precedent (bounded unrollable recurrence ⇒ the DuckDB
    // oracle is an independent unrolled CTE chain, not a loop replay).
    // 100 TB shape: each round is one map-side-combinable degree agg +
    // two semi-joins on the edge list — O(|E|) per round, nothing wider
    // than (node, deg) shuffles; k rides a 1-row broadcast;
    // localCheckpoint cuts the per-round lineage like the other loop
    // operators.
    Query("graph_kcore_peel", (s, d) => {
      val und = ClickGraph.und(s, d).localCheckpoint()
      val pg = ClickGraph.pages(s, d).localCheckpoint()
      val kdf = und.agg(count(lit(1)).as("ne"))
        .crossJoin(pg.agg(count(lit(1)).as("nv")))
        .select(expr("2 * ne DIV nv").as("k"))
      def deg(e: DataFrame) = Graph.degrees(e).withColumnRenamed("node", "page")
      def alive(e: DataFrame) =
        deg(e).crossJoin(broadcast(kdf)).filter(col("d") >= col("k"))
          .select("page").localCheckpoint()
      def prune(e: DataFrame, a: DataFrame) =
        e.join(a.select(col("page").as("u")), Seq("u"), "left_semi")
          .join(a.select(col("page").as("v")), Seq("v"), "left_semi")
          .select("u", "v").localCheckpoint()
      val a1 = alive(und); val e1 = prune(und, a1)
      val a2 = alive(e1); val e2 = prune(e1, a2)
      val a3 = alive(e2); val e3 = prune(e2, a3)
      val r1 = pg.join(a1, Seq("page"), "left_anti")
        .select(col("page"), lit(1).as("removed_round"), lit(0L).as("core_deg"))
      val r2 = a1.join(a2, Seq("page"), "left_anti")
        .select(col("page"), lit(2).as("removed_round"), lit(0L).as("core_deg"))
      val r3 = a2.join(a3, Seq("page"), "left_anti")
        .select(col("page"), lit(3).as("removed_round"), lit(0L).as("core_deg"))
      val core = a3.join(deg(e3), Seq("page"), "left")
        .select(col("page"), lit(0).as("removed_round"),
          coalesce(col("d"), lit(0L)).as("core_deg"))
      r1.unionByName(r2).unionByName(r3).unionByName(core).orderBy("page")
    }, oracle =
      // independent unrolled 3-round peel over the shared edge derivation;
      // k = 2|E| // |V| exact-integer, same scalar the Spark side broadcasts
      s"""WITH ${ClickGraph.OracleEv},
        |${ClickGraph.OracleUnd},
        |pg AS (SELECT DISTINCT page FROM ev),
        |kk AS (SELECT (2 * (SELECT COUNT(*) FROM und))
        |              // (SELECT COUNT(*) FROM pg) AS k),
        |d1 AS (SELECT node, COUNT(*) AS dg FROM (
        |         SELECT u AS node FROM und UNION ALL SELECT v FROM und) t
        |       GROUP BY node),
        |a1 AS (SELECT node FROM d1, kk WHERE dg >= k),
        |e1 AS (SELECT u, v FROM und WHERE u IN (SELECT node FROM a1)
        |                              AND v IN (SELECT node FROM a1)),
        |d2 AS (SELECT node, COUNT(*) AS dg FROM (
        |         SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) t
        |       GROUP BY node),
        |a2 AS (SELECT node FROM d2, kk WHERE dg >= k),
        |e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT node FROM a2)
        |                             AND v IN (SELECT node FROM a2)),
        |d3 AS (SELECT node, COUNT(*) AS dg FROM (
        |         SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) t
        |       GROUP BY node),
        |a3 AS (SELECT node FROM d3, kk WHERE dg >= k),
        |e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT node FROM a3)
        |                             AND v IN (SELECT node FROM a3)),
        |dc AS (SELECT node, COUNT(*) AS dg FROM (
        |         SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3) t
        |       GROUP BY node),
        |res AS (
        |  SELECT page, 1 AS removed_round, 0 AS core_deg
        |  FROM pg WHERE page NOT IN (SELECT node FROM a1)
        |  UNION ALL
        |  SELECT node, 2, 0 FROM a1 WHERE node NOT IN (SELECT node FROM a2)
        |  UNION ALL
        |  SELECT node, 3, 0 FROM a2 WHERE node NOT IN (SELECT node FROM a3)
        |  UNION ALL
        |  SELECT a3.node, 0, coalesce(dc.dg, 0)
        |  FROM a3 LEFT JOIN dc ON a3.node = dc.node)
        |SELECT page, removed_round, CAST(core_deg AS BIGINT) AS core_deg
        |FROM res ORDER BY page""".stripMargin)
  )

  private val overStatus =
    "OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC)"
  private val overCust =
    "OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC"
}

object TierCSortSet {
  def queries: Seq[Query] = Seq(
    // C28 — multi-key sort with explicit NULLS placement (range-partitioned
    // global sort in Spark; sampling picks balanced boundaries at scale).
    Query("sort_multikey_nulls", (s, d) => {
      orders(s, d)
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("P")).as("st"),
          col("o_totalprice"))
        .orderBy(desc_nulls_last("st"), asc("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey, NULLIF(o_orderstatus,'P') AS st, o_totalprice
        |FROM orders
        |ORDER BY st DESC NULLS LAST, o_orderkey ASC""".stripMargin),
    // C29 — global top-k: Spark plans TakeOrderedAndProject (per-partition
    // heaps + driver merge), never a full sort.
    Query("limit_topk", (s, d) => {
      orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(20)
    }, oracle =
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin),
    // C30 — UNION ALL.
    Query("set_union_all", (s, d) => {
      val c = customer(s, d).select(col("c_custkey").as("k"), lit("c").as("src"))
      val su = supplier(s, d).select(col("s_suppkey").as("k"), lit("s").as("src"))
      c.unionAll(su).orderBy("k", "src")
    }, oracle =
      """SELECT * FROM (
        |  SELECT c_custkey AS k, 'c' AS src FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS k, 's' AS src FROM supplier) t
        |ORDER BY k, src""".stripMargin),
    // C31 — UNION (distinct).
    Query("set_union_distinct", (s, d) => {
      val c = customer(s, d).select(col("c_nationkey").as("nk"))
      val su = supplier(s, d).select(col("s_nationkey").as("nk"))
      c.union(su).distinct().orderBy("nk")
    }, oracle =
      """SELECT nk FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  UNION
        |  SELECT s_nationkey AS nk FROM supplier) t
        |ORDER BY nk""".stripMargin),
    // C32 — INTERSECT.
    Query("set_intersect", (s, d) => {
      val c = customer(s, d).select(col("c_nationkey").as("nk"))
      val su = supplier(s, d).select(col("s_nationkey").as("nk"))
      c.intersect(su).orderBy("nk")
    }, oracle =
      """SELECT nk FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  INTERSECT
        |  SELECT s_nationkey AS nk FROM supplier) t
        |ORDER BY nk""".stripMargin),
    // C33 — EXCEPT. Operand choice matters: nationkey EXCEPT goes empty
    // once suppliers cover all 25 nations (sf>=0.01), which would make the
    // oracle check vacuous — customer keys minus big-spender keys stays
    // non-trivial at every scale factor.
    Query("set_except", (s, d) => {
      val c = customer(s, d).select(col("c_custkey").as("k"))
      val big = orders(s, d).filter(col("o_totalprice") > 250000)
        .select(col("o_custkey").as("k"))
      c.except(big).orderBy("k")
    }, oracle =
      """SELECT k FROM (
        |  SELECT c_custkey AS k FROM customer
        |  EXCEPT
        |  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 250000) t
        |ORDER BY k""".stripMargin),
    // C34 — SELECT DISTINCT (hash-distinct = groupBy on all cols).
    Query("distinct_rows", (s, d) => {
      orders(s, d).select("o_orderstatus", "o_orderpriority")
        .dropDuplicates()
        .orderBy("o_orderstatus", "o_orderpriority")
    }, oracle =
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
  )
}
