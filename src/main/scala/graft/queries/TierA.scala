package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.core.Tables._
import graft.etl._

/** Tier A — ingest/ETL queries (SURVEY.md §2 A1-A9). Only A1 is
  * oracle-checkable SQL; the rest exercise real ETL machinery against temp
  * dirs (driver records a rows>0 check; EtlSpec holds the assertions).
  */
object TierA {

  private def tmp(prefix: String): String = scratchDir(prefix)

  /** Canonical-row digest recipe SHARED by the fingerprint pair
    * (`etl_table_fingerprint` / `etl_partition_fingerprint`) — one
    * definition so the table- and partition-grain audits can never
    * drift: each orders row canonicalizes to a type-stable string
    * (integer cents, ISO date, explicit null tokens — doubles and
    * timestamps never stringify directly, their engine formatting
    * differs) and hashes to the first 8 md5 hex digits as a long. The
    * oracle-side twin is [[fingerprintHashSql]]. */
  private val fingerprintRowHash: org.apache.spark.sql.Column = {
    val row = concat_ws("|",
      col("o_orderkey").cast("string"),
      coalesce(col("o_custkey").cast("string"), lit("null")),
      coalesce(col("o_orderstatus"), lit("null")),
      coalesce((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").cast("string"), lit("null")),
      coalesce(to_date(col("o_orderdate")).cast("string"), lit("null")))
    conv(substring(md5(row), 1, 8), 16, 10).cast("long")
  }

  /** The order-independent digest aggregates over the shared row hash —
    * (count, sum, bit_xor, min, max), each associative-commutative, so
    * per-partition digests roll up to the table digest exactly
    * (EtlSpec asserts the identity). */
  private val fingerprintAggs: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n_rows"), sum(col("h")).as("hash_sum"),
    expr("bit_xor(h)").as("hash_xor"),
    min(col("h")).as("hash_min"), max(col("h")).as("hash_max"))

  /** DuckDB spelling of [[fingerprintRowHash]] — interpolated into BOTH
    * fingerprint oracles so the two SQL recipes are also one definition. */
  private val fingerprintHashSql: String =
    """CAST(('0x' || substr(md5(
      |           CAST(o_orderkey AS VARCHAR) || '|' ||
      |           COALESCE(CAST(o_custkey AS VARCHAR), 'null') || '|' ||
      |           COALESCE(o_orderstatus, 'null') || '|' ||
      |           COALESCE(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
      |             * 100 AS BIGINT) AS VARCHAR), 'null') || '|' ||
      |           COALESCE(CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
      |             'null')), 1, 8)) AS BIGINT)""".stripMargin

  /** The SCD2 dimension-history table SHARED by `etl_upsert_scd2` (the
    * publish) and `etl_scd2_snapshot_asof` (the point-in-time read) — one
    * builder so the two keys can never disagree about the published
    * history: base versions open 2024-01-01; custkey%10 keys are updated
    * (+100 balance) effective 2024-06-01, closing the old version. */
  private[queries] def scd2Table(s: SparkSession, d: String,
      effectiveDay: String = "2024-06-01"): DataFrame = {
    val openFrom = to_date(lit("2024-01-01"))
    val effective = to_date(lit(effectiveDay))
    val farFuture = to_date(lit("9999-12-31"))
    val base = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      .withColumn("valid_from", openFrom)
    val updates = base.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      .withColumn("valid_from", effective)
    val updKeys = updates.select("c_custkey")
    val untouched = base.join(broadcast(updKeys), Seq("c_custkey"), "left_anti")
      .withColumn("valid_to", farFuture).withColumn("is_current", lit(true))
    val closed = base.join(broadcast(updKeys), Seq("c_custkey"), "left_semi")
      .withColumn("valid_to", effective).withColumn("is_current", lit(false))
    val opened = updates
      .withColumn("valid_to", farFuture).withColumn("is_current", lit(true))
    untouched.unionByName(closed).unionByName(opened)
      .select("c_custkey", "c_name", "c_acctbal", "valid_from", "valid_to",
        "is_current")
  }

  def queries: Seq[Query] = Seq(
    // A1 — columnar scan (README.md:113 data-store selection). Projection is
    // pruned at the parquet footer; at 100 TB the scan reads 4 columns only.
    Query("scan_parquet", (s, d) => {
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // A1b/A1c — the other lake text/columnar formats a complete engine
    // ingests: JSON-lines and ORC round-trips (rows-only; format plumbing,
    // not new semantics).
    Query("scan_json", (s, d) => {
      val dir = tmp("graft_json")
      nation(s, d).write.mode("overwrite").json(dir)
      // JSON inference widens ints to bigint; restore the catalog types so
      // the round-trip is schema-exact and oracle-checkable
      s.read.json(dir).select(
          col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("int").as("n_regionkey"))
        .orderBy("n_nationkey")
    }, oracle =
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),
    Query("scan_orc", (s, d) => {
      val dir = tmp("graft_orc")
      nation(s, d).write.mode("overwrite").orc(dir)
      s.read.orc(dir).orderBy("n_nationkey")
    }, oracle =
      """SELECT * FROM nation ORDER BY n_nationkey"""),
    // A1d — raw text-line ingest (the log-file lake format): lines land as
    // a single `value` column and structure is recovered by regex capture —
    // the grep-shaped ingest every lake's logs/ prefix needs before it can
    // become a table. Round-trip oracle like scan_json: parse(write(t)) = t.
    Query("scan_text_logs", (s, d) => {
      val dir = tmp("graft_textlog")
      nation(s, d).select(concat(
          lit("key="), col("n_nationkey"),
          lit(" name="), col("n_name"),
          lit(" region="), col("n_regionkey")).as("value"))
        .write.mode("overwrite").text(dir)
      s.read.text(dir).select(
          regexp_extract(col("value"), "key=(\\d+)", 1).cast("int")
            .as("n_nationkey"),
          // greedy up to the next field tag — names contain spaces
          regexp_extract(col("value"), "name=(.*) region=", 1).as("n_name"),
          regexp_extract(col("value"), "region=(\\d+)", 1).cast("int")
            .as("n_regionkey"))
        .orderBy("n_nationkey")
    }, oracle =
      // round-trip: the regex-parsed log lines must reconstruct the table
      """SELECT * FROM nation ORDER BY n_nationkey"""),
    // A2 — OpenCSVSerde round-trip (README.md:124-131): write with the serde
    // dialect, read back with the same options.
    Query("scan_csv_serde", (s, d) => {
      val dir = tmp("graft_csv")
      CsvSource.write(nation(s, d), dir)
      CsvSource.read(s, dir).orderBy("n_nationkey")
    }, oracle =
      // ETL round-trips whose results equal a source table (or a pure
      // transform of one) are oracle-checkable too — the comparison proves
      // the serde/JDBC/streaming plumbing is lossless, not just non-empty.
      """SELECT * FROM nation ORDER BY n_nationkey"""),
    // A3 — crawler-style schema inference (README.md:104): types come back
    // from data, not a declared schema.
    Query("infer_schema", (s, d) => GraftBridge.scoped(s) { c =>
      val dir = tmp("graft_crawl")
      CsvSource.write(region(c, d), dir)
      new Crawler(c).crawl(dir, "crawled_region").orderBy("r_regionkey")
    }, oracle =
      """SELECT * FROM region ORDER BY r_regionkey"""),
    // A4 — Hive-style partition discovery (README.md:117): key=value dirs
    // become a partition column; per-partition counts prove pruning works.
    Query("partition_discovery", (s, d) => {
      val dir = tmp("graft_part")
      orders(s, d).write.partitionBy("o_orderstatus").mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    }, oracle =
      """SELECT o_orderstatus, COUNT(*) AS cnt FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // A5 — "Add new columns only" evolution across two crawler runs
    // (README.md:117, re-crawl :132): v2 adds a column; the merged schema
    // keeps v1 fields untyped-changed and appends the new one.
    Query("schema_evolution_add_only", (s, d) => GraftBridge.scoped(s) { c =>
      import c.implicits._
      val dirV1 = tmp("graft_evo1"); val dirV2 = tmp("graft_evo2")
      val crawler = new Crawler(c)
      val table = "evolving"
      CsvSource.write(region(c, d), dirV1)
      crawler.crawl(dirV1, table)
      CsvSource.write(
        region(c, d).withColumn("r_comment", concat(lit("about "), col("r_name"))),
        dirV2)
      crawler.crawl(dirV2, table)
      val merged = crawler.schemaOf(table).get
      merged.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
        .toDF("field", "type").orderBy("field")
    }, oracle =
      // The merged schema after an add-only re-crawl is fully determined:
      // v1 fields keep their CSV-inferred types, the v2-only column appends.
      """SELECT * FROM (VALUES ('r_comment','string'),('r_name','string'),
        |                      ('r_regionkey','int')) AS t(field, "type")
        |ORDER BY field""".stripMargin),
    // A6 — JDBC warehouse load (README.md:134-138, :150): embedded Derby
    // stands in for Redshift; write via JDBC, read back via JDBC.
    Query("sink_jdbc", (s, d) => {
      val sink = JdbcSink(s"jdbc:derby:${tmp("graft_derby")}/db;create=true",
        "NATION_WAREHOUSE")
      sink.write(nation(s, d))
      // Derby stores identifiers uppercase; re-alias for oracle parity
      sink.read(s).select(
          col("n_nationkey").as("n_nationkey"),
          col("n_name").as("n_name"),
          col("n_regionkey").as("n_regionkey"))
        .orderBy("n_nationkey")
    }, oracle =
      """SELECT * FROM nation ORDER BY n_nationkey"""),
    // A7 — workflow DAG (README.md:155-166): trigger → crawl → transform
    // (the Glue "Change schema" job, :149) → load (:150), each node gated
    // on the one before it.
    Query("workflow_dag", (s, d) => GraftBridge.scoped(s) { c =>
      val src = tmp("graft_wf_src"); val out = tmp("graft_wf_out")
      CsvSource.write(supplier(c, d), src)
      Workflow.run(Seq(
        Workflow.node("crawl")(_ =>
          new Crawler(c).crawl(src, "wf_supplier")),
        Workflow.node("transform", "crawl")(up => up("crawl").select(
          col("s_suppkey").as("supplier_id"),
          upper(col("s_name")).as("supplier_name"),
          col("s_acctbal").cast("double").as("balance"))),
        Workflow.node("load", "transform") { up =>
          ParquetSink(out).write(up("transform")); up("transform")
        }))
      c.read.parquet(out).orderBy("supplier_id")
    }, oracle =
      """SELECT s_suppkey AS supplier_id, upper(s_name) AS supplier_name,
        |       s_acctbal AS balance
        |FROM supplier ORDER BY supplier_id""".stripMargin),
    // A7b — AND-gate workflow (README.md:164, "start after ALL watched
    // events"): TWO crawlers feed one join job; the job is gated on BOTH
    // crawl events, the load on the job. Nodes are declared out of
    // dependency order on purpose — scheduling follows the watch edges,
    // not the declaration sequence (EtlSpec asserts gating + failure halt).
    Query("workflow_fanin", (s, d) => GraftBridge.scoped(s) { c =>
      val srcN = tmp("graft_wff_n"); val srcR = tmp("graft_wff_r")
      val out = tmp("graft_wff_out")
      CsvSource.write(nation(c, d), srcN)
      CsvSource.write(region(c, d), srcR)
      Workflow.run(Seq(
        Workflow.node("load", "join_job") { up =>
          ParquetSink(out).write(up("join_job")); up("join_job")
        },
        Workflow.node("join_job", "crawl_nation", "crawl_region") { up =>
          up("crawl_nation").join(up("crawl_region"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey").cast("long").as("nation_id"),
              col("n_name").as("nation_name"),
              col("r_name").as("region_name"))
        },
        Workflow.node("crawl_nation")(_ =>
          new Crawler(c).crawl(srcN, "wff_n")),
        Workflow.node("crawl_region")(_ =>
          new Crawler(c).crawl(srcR, "wff_r"))))
      c.read.parquet(out).orderBy("nation_id")
    }, oracle =
      // the AND-gated two-crawler join must equal the plain fixture join —
      // the comparison proves the whole CSV-crawl-join-load chain is lossless
      """SELECT n_nationkey AS nation_id, n_name AS nation_name,
        |       r_name AS region_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY nation_id""".stripMargin),
    // A7c — Glue-Studio visual job (round 6): the declarative transform
    // node graph compiled to ONE Catalyst plan (etl/VisualJob.scala). The
    // filter node sits "late" in the graph and the mapping node drops
    // columns mid-graph, yet the compiled plan pushes both to the scans —
    // the design point: node boundaries are invisible to the optimizer
    // because compile() builds plan, never executes per node.
    Query("etl_visual_job", (s, d) => {
      import graft.etl.VisualJob._
      val graph = Map[String, Node](
        "orders" -> Source("orders"),
        "customer" -> Source("customer"),
        "big_orders" -> FilterRows("orders", "o_totalprice > 100000"),
        "cust_slim" -> ApplyMapping("customer", Seq(
          ("c_custkey", "o_custkey", "bigint"),
          ("c_mktsegment", "segment", "string"))),
        "joined" -> EquiJoin("big_orders", "cust_slim", Seq("o_custkey")),
        "by_segment" -> Aggregate("joined", Seq("segment"), Seq(
          "n" -> "count(1)",
          "revenue" ->
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")))
      compile(graph,
        Map("orders" -> orders(s, d), "customer" -> customer(s, d)),
        "by_segment").orderBy("segment")
    }, oracle =
      // the compiled node graph must equal the plain relational spelling —
      // proving the declarative DSL adds no semantics of its own
      """SELECT c_mktsegment AS segment, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 100000
        |GROUP BY 1 ORDER BY segment""".stripMargin),
    // A7c-b — the round-8 Studio palette nodes (Union, DropDuplicates,
    // DropFields) through the differential gate, not just unit tests: two
    // row-preserving filter branches of the same table union by name, the
    // whole-row dedup collapses rows satisfying BOTH predicates, so
    // union-distinct ≡ a single OR filter — which is exactly how the
    // oracle spells it (an independent construction; a by-position union
    // or a dedup that dropped too much/little would hash-diverge). The
    // DropFields node sits before the branch split and must prune the
    // scan; dedup-then-aggregate stays one Catalyst plan.
    Query("etl_visual_job_union", (s, d) => {
      import graft.etl.VisualJob._
      val graph = Map[String, Node](
        "orders" -> Source("orders"),
        "slim" -> DropFields("orders", Seq("o_orderdate")),
        "hi" -> FilterRows("slim", "o_totalprice > 150000"),
        "urgent" -> FilterRows("slim", "o_orderpriority = '1-URGENT'"),
        "both" -> Union(Seq("hi", "urgent")),
        "uniq" -> DropDuplicates("both"),
        "by_status" -> Aggregate("uniq", Seq("o_orderstatus"), Seq(
          "n" -> "count(1)",
          "revenue" ->
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")))
      compile(graph, Map("orders" -> orders(s, d)), "by_status")
        .orderBy("o_orderstatus")
    }, oracle =
      // union-distinct of two selections of one table ≡ the OR filter —
      // the oracle's independent spelling of Union + whole-row
      // DropDuplicates (orders' PK guarantees no intra-branch dupes)
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders
        |WHERE o_totalprice > 150000 OR o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),
    // A8 — Job-Bookmark increments (README.md:145): two AvailableNow runs
    // over a growing dir; the checkpoint guarantees file-level exactly-once.
    Query("bookmark_incremental", (s, d) => {
      val src = tmp("graft_bm_src"); val ckpt = tmp("graft_bm_ckpt")
      val sink = tmp("graft_bm_sink")
      val n = nation(s, d)
      n.filter(col("n_nationkey") < 10)
        .write.options(CsvSource.options).mode("append").csv(src)
      Incremental.runAvailableNow(s, src, n.schema, ckpt, sink)
      // second batch lands → only it is processed by run 2 (EtlSpec
      // asserts the first batch is not re-emitted)
      n.filter(col("n_nationkey") >= 10)
        .write.options(CsvSource.options).mode("append").csv(src)
      Incremental.runAvailableNow(s, src, n.schema, ckpt, sink)
      s.read.parquet(sink).orderBy("n_nationkey")
    }, oracle =
      """SELECT * FROM nation ORDER BY n_nationkey"""),
    // A10 — bucketed co-located fact-fact join: both sides persisted
    // pre-hashed on the join key, so the join plans NO Exchange (asserted in
    // ColocateSpec). The once-at-write shuffle is the 100 TB pattern for
    // repeatedly-joined fact tables.
    Query("join_bucketed_colocated", (s, d) => {
      val wh = tmp("graft_bucketed")
      val suffix = java.lang.Long.toHexString(System.nanoTime)
      val (ot, lt) = (s"orders_b_$suffix", s"lineitem_b_$suffix")
      Colocate.writeBucketed(
        orders(s, d).select("o_orderkey", "o_orderstatus"),
        "o_orderkey", ot, 8, s"$wh/orders")
      Colocate.writeBucketed(
        lineitem(s, d).select("l_orderkey", "l_quantity", "l_linenumber"),
        "l_orderkey", lt, 8, s"$wh/lineitem")
      Colocate.bucketedJoin(s, ot, lt, "o_orderkey", "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"), decSum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    }, oracle =
      // Bucketing/salting are physical-layout strategies; results must equal
      // the plain join — which is exactly what the oracle checks.
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // A11 — salted join for known key skew: deterministic salt splinters the
    // big side, small side replicated S ways; results identical to the plain
    // join (asserted in ColocateSpec).
    Query("join_salted_skew", (s, d) => {
      val big = lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity")
      val small = orders(s, d).select("o_orderkey", "o_orderstatus")
        .withColumnRenamed("o_orderkey", "l_orderkey")
      Colocate.saltedJoin(big, small, "l_orderkey", col("l_linenumber"), 4)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("o_orderstatus")
    }, oracle =
      """SELECT o_orderstatus, COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // A11b — bloom runtime-prefilter join (round 8), the third scale lever
    // of the join family after bucketing (once-at-write co-location) and
    // salting (skew): when a dim-side predicate keeps <1% of keys but the
    // surviving set is still too big to broadcast, the classic plan
    // shuffles the ENTIRE fact side. The runtime-filter move: build a
    // bloom over the selective side's join keys (one tiny aggregate),
    // ship it as a scalar subquery, and prune the fact side MAP-SIDE
    // before its shuffle — at 100 TB that converts a full-fact-table
    // shuffle into ~the matching fraction. The exact equi-join that
    // follows clears bloom false positives, so results are identical to
    // the plain join by construction (the oracle IS the plain join — no
    // bloom anywhere in it). Uses Spark's own runtime-filter expressions
    // (BloomFilterAggregate/MightContain — what InjectRuntimeFilter
    // inserts when its heuristics fire) surfaced as graft SQL functions;
    // stating the filter explicitly documents the intent and works where
    // the optimizer's cost gate declines. estimatedItems is fixture-fixed
    // (65536 covers 56× the sf0.1 build side); production sizes it from
    // table stats — only the FP rate depends on it, never correctness.
    Query("join_bloom_prefilter", (s, d) =>
      Query.runSql(s, d, Seq("orders", "lineitem"),
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_totalprice > 480000 AND o_orderpriority = '1-URGENT'
          |  AND bloom_might_contain(
          |        (SELECT bloom_agg(xxhash64(o_orderkey), 65536L) FROM orders
          |         WHERE o_totalprice > 480000 AND o_orderpriority = '1-URGENT'),
          |        xxhash64(l_orderkey))
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      oracle =
      // the PLAIN join — the bloom prefilter is pure plumbing that must not
      // change a single row, so the oracle contains no trace of it
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 480000 AND o_orderpriority = '1-URGENT'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // A13 — SCD-1 upsert (MERGE-by-PK) without a table format: load a base
    // version, apply an update batch where updates win by primary key, and
    // publish as a new version directory (object stores swap versions via
    // manifest/rename; a lakehouse format would do this transactionally).
    // The anti-join keeps untouched rows; updates overwrite matched keys.
    Query("etl_upsert_scd1", (s, d) => {
      val out = tmp("graft_upsert")
      val base = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      base.write.mode("overwrite").parquet(s"$out/v1")
      val updates = base.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      val current = s.read.parquet(s"$out/v1")
      val merged = updates.unionByName(
        current.join(updates.select("c_custkey"), Seq("c_custkey"), "left_anti"))
      merged.write.mode("overwrite").parquet(s"$out/v2")
      s.read.parquet(s"$out/v2").orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_name,
        |       CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100
        |            ELSE c_acctbal END AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin),
    // A13b — SCD-2 upsert (history-preserving merge): instead of
    // overwriting matched keys (SCD-1 above), the old row is CLOSED
    // (valid_to = effective date, is_current = false) and the new row
    // opened — the warehouse dimension-history pattern every Glue→Redshift
    // load eventually needs. Same update batch as SCD-1 (custkey % 10,
    // +100 balance) with a fixed effective date so the result is a pure
    // function of the base table. One union of three disjoint linear
    // branches (untouched / closed / opened) — no shuffle beyond the
    // update-key joins, which broadcast (updates ≪ base at scale).
    Query("etl_upsert_scd2", (s, d) =>
      scd2Table(s, d).orderBy("c_custkey", "valid_from"), oracle =
      // history rows: untouched keys keep one open row; updated keys get the
      // original closed at the effective date plus the new open row
      """SELECT c_custkey, c_name, c_acctbal,
        |       DATE '2024-01-01' AS valid_from,
        |       CASE WHEN c_custkey % 10 = 0 THEN DATE '2024-06-01'
        |            ELSE DATE '9999-12-31' END AS valid_to,
        |       c_custkey % 10 <> 0 AS is_current
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal + 100,
        |       DATE '2024-06-01', DATE '9999-12-31', true
        |FROM customer WHERE c_custkey % 10 = 0
        |ORDER BY c_custkey, valid_from""".stripMargin),
    // A13d — POINT-IN-TIME snapshot from the SCD2 table (round 14): the
    // read side of slowly-changing history — reconstruct the dimension AS
    // OF a past instant by version-interval containment
    // (valid_from ≤ T < valid_to), exactly one version per key. T =
    // 2024-07-01 sits after the effective date, so updated keys must
    // resolve to their OPENED (post-update) version and untouched keys to
    // their original — the snapshot exercises version resolution, not
    // just a copy (the oracle derives the expected version per key from
    // the change predicates independently). Single-sourced from the same
    // scd2Table builder as the upsert key — the snapshot can never test a
    // different history than the one published. 100 TB: one filter over
    // the dimension — with valid_from as a partition/cluster key the scan
    // prunes to versions alive at T; no shuffle (the sort is
    // presentation).
    Query("etl_scd2_snapshot_asof", (s, d) => {
      val t = to_date(lit("2024-07-01"))
      scd2Table(s, d)
        .filter(col("valid_from") <= t && t < col("valid_to"))
        .select("c_custkey", "c_name", "c_acctbal", "valid_from")
        .orderBy("c_custkey")
    }, oracle =
      // the oracle derives each key's expected version AT the snapshot
      // instant independently from the change predicates — NOT by replaying
      // the interval filter — so the differential gate checks the Spark
      // side's version-interval resolution
      """SELECT c_custkey, c_name,
        |       CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100
        |            ELSE c_acctbal END AS c_acctbal,
        |       CASE WHEN c_custkey % 10 = 0 THEN DATE '2024-06-01'
        |            ELSE DATE '2024-01-01' END AS valid_from
        |FROM customer ORDER BY c_custkey""".stripMargin),
    // A13d' — FACT-to-SCD2 as-of join (round 14b): enrich every event with
    // the dimension version valid AT ITS OWN timestamp — the late-binding
    // temporal join every warehouse fact load runs against a versioned
    // dimension (the snapshot key freezes ONE instant; this resolves a
    // DIFFERENT instant per row). Same scd2Table builder, effective date
    // moved to 2024-01-16 so the REAL event stream straddles the version
    // boundary (events run 2024-01-01..30; the default 2024-06-01 would
    // leave the post-update versions untouched and the join untested).
    // Join shape: equi on the key + interval-containment residual
    // (valid_from ≤ event day < valid_to) — exactly one version matches
    // by the SCD2 interval partition, so the fact row count is preserved
    // (the oracle proves it by deriving each event's expected version
    // from the change predicates, never replaying the interval filter).
    // The preservation claim rides one fixture invariant: no event
    // predates the 2024-01-01 dim open (such a row would match NO
    // interval and vanish where the oracle's CASE keeps it) — EtlSpec
    // asserts it at gate scale so a fixture regeneration fails loudly,
    // not as a silent oracle divergence (review find).
    // 100 TB: the fact side streams through one broadcast hash join (the
    // dim ships versions, still dimension-sized); no fact shuffle.
    Query("etl_dim_asof_join", (s, d) => {
      val dim = scd2Table(s, d, effectiveDay = "2024-01-16")
      events(s, d).select(col("event_id"), col("user_id"), col("ts"))
        .join(broadcast(dim),
          col("user_id") === col("c_custkey") &&
            col("valid_from") <= to_date(col("ts")) &&
            to_date(col("ts")) < col("valid_to"))
        .select(col("event_id"), col("user_id"), col("c_acctbal"),
          col("valid_from"))
        .orderBy("event_id")
    }, oracle =
      // the oracle derives each EVENT's expected version from the change
      // predicates (key%10 + the event-day threshold) — never by replaying
      // the interval-containment join it checks
      """SELECT e.event_id, e.user_id,
        |       CASE WHEN c.c_custkey % 10 = 0
        |             AND CAST(CAST(e.ts AS TIMESTAMP) AS DATE)
        |                 >= DATE '2024-01-16'
        |            THEN c.c_acctbal + 100 ELSE c.c_acctbal END AS c_acctbal,
        |       CASE WHEN c.c_custkey % 10 = 0
        |             AND CAST(CAST(e.ts AS TIMESTAMP) AS DATE)
        |                 >= DATE '2024-01-16'
        |            THEN DATE '2024-01-16' ELSE DATE '2024-01-01' END
        |         AS valid_from
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin),
    // A13e — stable pseudonymization with referential integrity (round
    // 14b): the privacy-preserving ETL step a training-data pipeline runs
    // before keys leave the trust boundary — replace the customer key
    // with md5('cust:'||key) on BOTH tables (a pure function of the key:
    // reruns, engines and the two tables agree with no mapping table to
    // leak), then compute revenue-by-segment ENTIRELY in pseudonym space.
    // The oracle computes the same report from the RAW keys — it never
    // hashes — so the gate proves the pseudonym join reproduces the real
    // join bit-for-bit (a token collision or a null-handling drift would
    // split/merge groups and break the hash match). NULL keys tokenize to
    // NULL (concat propagates) and drop from both joins identically.
    // 100 TB: one hash expression per row, then the identical shuffle the
    // raw-key join would run — pseudonymization adds zero shuffles; the
    // distinct-customer count is the standard two-level exact distinct.
    Query("etl_pseudonymize_join", (s, d) => {
      def tok(c: Column) = md5(concat(lit("cust:"), c.cast("string")))
      val cust = customer(s, d)
        .select(tok(col("c_custkey")).as("cust_token"), col("c_mktsegment"))
      val ord = orders(s, d).select(
        tok(col("o_custkey")).as("cust_token"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      ord.join(cust, Seq("cust_token"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          count_distinct(col("cust_token")).as("n_customers"),
          sum(col("cents")).as("revenue_cents"))
        .orderBy("c_mktsegment")
    }, oracle =
      // the oracle joins the RAW keys and never hashes — the gate proves
      // the pseudonym-space join reproduces the real join exactly
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |       COUNT(DISTINCT o_custkey) AS n_customers,
        |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),
    // A13h — schema-DRIFT audit between two published snapshots (round
    // 14c): the crawler-class change report (reference README.md:104 —
    // detecting schema change is the Glue crawler's whole job) one level
    // up from schema_evolution_add_only's read-side merge: v2 adds a
    // column, drops one and retypes one, and the audit reports exactly
    // the (added / removed / type_changed) rows a migration reviewer
    // signs off on. The diff runs on the two FOOTER schemas — at 100 TB
    // this reads two parquet footers and zero data rows; the driver-side
    // set arithmetic is over column LISTS, not data (the one place
    // driver-side work is the correct design). The oracle is the
    // expected report as a literal — the gate proves the engine derived
    // it from the real written files.
    Query("etl_schema_drift_audit", (s, d) => {
      val out = tmp("graft_drift")
      val v1 = orders(s, d)
      v1.write.mode("overwrite").parquet(s"$out/v1")
      v1.withColumn("o_channel", lit("web"))
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
        .drop("o_orderpriority")
        .write.mode("overwrite").parquet(s"$out/v2")
      val m1 = s.read.parquet(s"$out/v1").schema.fields
        .map(f => f.name -> f.dataType.simpleString).toMap
      val m2 = s.read.parquet(s"$out/v2").schema.fields
        .map(f => f.name -> f.dataType.simpleString).toMap
      val rows =
        (m2.keySet -- m1.keySet).toSeq.sorted
          .map(n => (n, "added", null: String, m2(n))) ++
        (m1.keySet -- m2.keySet).toSeq.sorted
          .map(n => (n, "removed", m1(n), null: String)) ++
        (m1.keySet & m2.keySet).filter(n => m1(n) != m2(n)).toSeq.sorted
          .map(n => (n, "type_changed", m1(n), m2(n)))
      import s.implicits._
      rows.toDF("column", "status", "type_v1", "type_v2")
        .orderBy("column")
    }, oracle =
      // the expected drift report as a literal — the gate proves the
      // engine derived it from the actually-written footers
      """SELECT * FROM (VALUES
        |  ('o_channel', 'added', CAST(NULL AS VARCHAR), 'string'),
        |  ('o_orderpriority', 'removed', 'string', CAST(NULL AS VARCHAR)),
        |  ('o_totalprice', 'type_changed', 'double', 'decimal(18,2)'))
        |  AS t("column", status, type_v1, type_v2)
        |ORDER BY "column"""".stripMargin),
    // A13g — parquet BLOOM-FILTER layout (round 14c): the point-lookup
    // lever that completes the physical-layout family next to
    // etl_zorder_layout (range clustering) and etl_compact_files (file
    // sizing) — write the fact table with a parquet bloom filter on the
    // lookup key (parquet.bloom.filter.enabled#col, ndv-sized), read it
    // back through a point predicate. At 100 TB a needle query skips
    // every row group whose bloom excludes the key — the scan touches
    // footers + a handful of groups instead of the table — while the
    // gate checks the round-trip returns exactly the plain filter's rows
    // (a bloom can only skip, never drop: false positives read extra,
    // never less). Predicate pushdown reaches the reader
    // (parquet.filter.bloom.enabled defaults true on read).
    // MEASURED parquet-mr 1.16 subtlety (footer-verified in EtlSpec): a
    // fully DICTIONARY-encoded column gets NO bloom even when enabled —
    // the dictionary already serves as the exact membership filter, so
    // the writer skips the redundant sketch. The fixture's key stays
    // dictionary-encodable, so the write also disables dictionary for
    // that one column to exercise the real bloom path; at production NDV
    // the dictionary page overflows to plain on its own and the override
    // is unnecessary.
    Query("etl_parquet_bloom_skip", (s, d) => {
      val out = tmp("graft_bloom")
      orders(s, d).write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(out)
      s.read.parquet(out)
        .filter(col("o_custkey") === 42)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }, oracle =
      // the bloom layout must return exactly the plain filter's rows
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey = 42
        |ORDER BY o_orderkey""".stripMargin),
    // A13f — GDPR-style delete-cascade audit (round 14c): before a
    // right-to-be-forgotten batch lands, the compliance report every
    // regulated pipeline runs — how many dimension keys go, how many fact
    // rows cascade with them, whether any fact row would be ORPHANED
    // after the cascade (a referential-integrity violation the delete
    // must not introduce), and what remains. Victims = the snapshot_diff
    // delete predicate (custkey % 97); NULL-custkey orders are anonymous
    // by design, not orphans. All four counts are independent 1-row
    // aggregates over semi/anti joins against the broadcast victim set —
    // at 100 TB the fact table streams through each check once, and the
    // victim list is deletion-batch-sized by nature.
    Query("etl_delete_cascade_audit", (s, d) => {
      val victims = customer(s, d).filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey"))
      val o = orders(s, d)
      val cascade = o.join(broadcast(victims),
        col("o_custkey") === col("c_custkey"), "left_semi")
      val remaining = o.join(broadcast(victims),
        col("o_custkey") === col("c_custkey"), "left_anti")
      val survivors = customer(s, d).filter(col("c_custkey") % 97 =!= 0)
        .select(col("c_custkey"))
      val orphansAfter = remaining.filter(col("o_custkey").isNotNull)
        .join(broadcast(survivors),
          col("o_custkey") === col("c_custkey"), "left_anti")
      victims.agg(count(lit(1)).as("n_deleted_customers"))
        .crossJoin(broadcast(
          cascade.agg(count(lit(1)).as("n_cascade_orders"))))
        .crossJoin(broadcast(
          orphansAfter.agg(count(lit(1)).as("n_orphans_after"))))
        .crossJoin(broadcast(
          remaining.agg(count(lit(1)).as("n_orders_remaining"))))
    }, oracle =
      // every count recomputed from the pure predicates — the orphan check
      // is the FK-violation count among post-delete survivors
      """SELECT
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey % 97 = 0)
        |    AS n_deleted_customers,
        |  (SELECT COUNT(*) FROM orders o JOIN customer c
        |     ON o.o_custkey = c.c_custkey WHERE c.c_custkey % 97 = 0)
        |    AS n_cascade_orders,
        |  (SELECT COUNT(*) FROM orders o
        |   WHERE o.o_custkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM customer c
        |                     WHERE c.c_custkey = o.o_custkey
        |                       AND c.c_custkey % 97 = 0)
        |     AND NOT EXISTS (SELECT 1 FROM customer c
        |                     WHERE c.c_custkey = o.o_custkey
        |                       AND c.c_custkey % 97 <> 0))
        |    AS n_orphans_after,
        |  (SELECT COUNT(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                     WHERE c.c_custkey = o.o_custkey
        |                       AND c.c_custkey % 97 = 0))
        |    AS n_orders_remaining""".stripMargin),
    // A13c — snapshot diff between two published versions: the audit step
    // after any SCD publish ("what did this load change?") — added /
    // deleted / updated / unchanged counts from ONE co-partitioned
    // full-outer join on the PK, with row payloads compared as structs.
    // v2 applies updates (custkey % 10: +100 balance), deletes (% 97) and
    // inserts (% 103, re-keyed +1e6), so every status is exercised; the
    // oracle recomputes the four counts from the same pure predicates.
    Query("etl_snapshot_diff", (s, d) => {
      val out = tmp("graft_snapdiff")
      val base = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      base.write.mode("overwrite").parquet(s"$out/v1")
      val updates = base.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      // inserted rows re-key into the NEGATIVE range — disjoint from real
      // custkeys (non-negative) at every scale factor; a fixed positive
      // offset would collide with live keys once the table outgrows it
      val added = base.filter(col("c_custkey") % 103 === 0)
        .withColumn("c_custkey", -(col("c_custkey") + 1))
      val v2 = updates.unionByName(
          base.join(updates.select("c_custkey"), Seq("c_custkey"), "left_anti"))
        .filter(col("c_custkey") % 97 =!= 0)
        .unionByName(added)
      v2.write.mode("overwrite").parquet(s"$out/v2")
      val a = s.read.parquet(s"$out/v1").select(col("c_custkey"),
        struct(col("c_name"), col("c_acctbal")).as("v1"))
      val b = s.read.parquet(s"$out/v2").select(col("c_custkey"),
        struct(col("c_name"), col("c_acctbal")).as("v2"))
      a.join(b, Seq("c_custkey"), "full_outer")
        .select(when(col("v1").isNull, "added")
          .when(col("v2").isNull, "deleted")
          .when(col("v1") === col("v2"), "unchanged")
          .otherwise("updated").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    }, oracle =
      // pure functions of c_custkey: the same predicates the publish applied
      """SELECT * FROM (
        |  SELECT 'added' AS status, COUNT(*) AS n FROM customer
        |  WHERE c_custkey % 103 = 0
        |  UNION ALL
        |  SELECT 'deleted' AS status, COUNT(*) AS n FROM customer
        |  WHERE c_custkey % 97 = 0
        |  UNION ALL
        |  SELECT 'unchanged' AS status, COUNT(*) AS n FROM customer
        |  WHERE c_custkey % 10 <> 0 AND c_custkey % 97 <> 0
        |  UNION ALL
        |  SELECT 'updated' AS status, COUNT(*) AS n FROM customer
        |  WHERE c_custkey % 10 = 0 AND c_custkey % 97 <> 0) t
        |ORDER BY status""".stripMargin),
    // A13d — CDC apply: materialize the current table from a base snapshot
    // plus an ordered change log of full-row images (the Debezium/DMS
    // after-image shape a Glue→Redshift pipeline replicates). Last write
    // per PK wins by log sequence; a trailing 'D' removes the key; a later
    // re-insert resurrects it (keys divisible by 77 exercise
    // update→delete→re-insert). The apply is ONE map-side-combined
    // max_by(payload, seq) aggregate — never a per-key window funnel, and
    // at 100 TB the log shuffles once against the base on the PK. The
    // change log is a pure function of the fixture, so the oracle replays
    // the same log and resolves last-write-wins through a window rank — an
    // independent implementation of the apply.
    Query("etl_cdc_apply", (s, d) => {
      val base = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      def logRows(f: DataFrame => DataFrame, seq: Int, op: String) =
        f(base).withColumn("seq", lit(seq)).withColumn("op", lit(op))
      val log = logRows(identity, 0, "I")
        .unionByName(logRows(_.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 50.0), 1, "U"))
        .unionByName(logRows(_.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_acctbal", lit(null).cast("double")), 2, "D"))
        .unionByName(logRows(_.filter(col("c_custkey") % 13 === 0)
          .withColumn("c_custkey", -(col("c_custkey") + 1)), 3, "I"))
        .unionByName(logRows(_.filter(col("c_custkey") % 77 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 75.0), 4, "I"))
      log.groupBy("c_custkey")
        .agg(max_by(struct(col("c_name"), col("c_acctbal"), col("op")),
          col("seq")).as("last"))
        .filter(col("last.op") =!= "D")
        .select(col("c_custkey"), col("last.c_name").as("c_name"),
          col("last.c_acctbal").as("c_acctbal"))
        .orderBy("c_custkey")
    }, oracle =
      // the oracle replays the same deterministic change log but resolves
      // last-write-wins through a window rank instead of max_by
      """WITH log AS (
        |  SELECT c_custkey, c_name, c_acctbal, 0 AS seq, 'I' AS op FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 50.0, 1, 'U' FROM customer
        |  WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, CAST(NULL AS DOUBLE), 2, 'D' FROM customer
        |  WHERE c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT -(c_custkey + 1), c_name, c_acctbal, 3, 'I' FROM customer
        |  WHERE c_custkey % 13 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 75.0, 4, 'I' FROM customer
        |  WHERE c_custkey % 77 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey
        |                               ORDER BY seq DESC) AS rn
        |  FROM log)
        |SELECT c_custkey, c_name, c_acctbal
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY c_custkey""".stripMargin),
    // A14 — Z-order layout audit: the multi-dimension data-clustering
    // technique behind Delta/Iceberg OPTIMIZE ZORDER. Interleaving the bits
    // of (customer bucket, order month) gives a 1-D sort key whose ranges
    // stay LOCAL in both dimensions, so parquet row-group min/max stats can
    // skip files for predicates on EITHER column — a plain sort only serves
    // its leading column. The query computes the z-value with the classic
    // shift-and-mask bit spread (pure per-row arithmetic, identical
    // operator chain in the DuckDB oracle) and reports per-z-bucket count +
    // min/max of both dimensions — exactly the row-group stats a scan
    // would prune on; narrow spans in both columns are the property that
    // makes z-order pay. At 100 TB the write path is repartitionByRange(z)
    // + sortWithinPartitions(z) before etl_compact_files' rewrite.
    Query("etl_zorder_layout", (s, d) => {
      def spread(c: Column): Column = {
        val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(16711935L))
        val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(252645135L))
        val e = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(858993459L))
        e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(1431655765L))
      }
      // month index anchored at the fixture's MINIMUM year (orders span
      // 1992-1998): the shift-and-mask spread assumes a non-negative 16-bit
      // input, and a pre-anchor year would go negative and wrap through the
      // masks, scattering that slice across the top of the z range
      val ym = ((year(col("o_orderdate")) - 1992) * 12 +
        (month(col("o_orderdate")) - 1)).cast("long")
      val x = col("o_custkey") % 4096
      val z = spread(x).bitwiseOR(shiftleft(spread(ym), 1))
      orders(s, d)
        .select(x.as("x"), ym.as("ym"), shiftright(z, 13).as("zbucket"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("ym")).as("min_ym"), max(col("ym")).as("max_ym"))
        .orderBy("zbucket")
    }, oracle =
      // the same shift-and-mask spread chain, spelled in DuckDB bit operators
      """WITH base AS (
        |  SELECT o_custkey % 4096 AS x0,
        |         (year(o_orderdate) - 1992) * 12 + (month(o_orderdate) - 1) AS ym,
        |         o_custkey % 4096 AS x,
        |         (year(o_orderdate) - 1992) * 12 + (month(o_orderdate) - 1) AS y
        |  FROM orders),
        |s1 AS (SELECT x0, ym,
        |              (x | (x << 8)) & 16711935 AS x,
        |              (y | (y << 8)) & 16711935 AS y FROM base),
        |s2 AS (SELECT x0, ym,
        |              (x | (x << 4)) & 252645135 AS x,
        |              (y | (y << 4)) & 252645135 AS y FROM s1),
        |s3 AS (SELECT x0, ym,
        |              (x | (x << 2)) & 858993459 AS x,
        |              (y | (y << 2)) & 858993459 AS y FROM s2),
        |s4 AS (SELECT x0, ym,
        |              (x | (x << 1)) & 1431655765 AS x,
        |              (y | (y << 1)) & 1431655765 AS y FROM s3)
        |SELECT (x | (y << 1)) >> 13 AS zbucket, COUNT(*) AS n,
        |       MIN(x0) AS min_x, MAX(x0) AS max_x,
        |       MIN(ym) AS min_ym, MAX(ym) AS max_ym
        |FROM s4 GROUP BY 1 ORDER BY zbucket""".stripMargin),
    // A2b — malformed-record handling (every real CSV lake has bad rows):
    // PERMISSIVE mode quarantines rows that fail the schema into
    // _corrupt_record instead of failing the job or silently nulling;
    // DROPMALFORMED is the filter view of the same contract. The report
    // proves the accounting: good + corrupt = total, dropped = good. The
    // oracle derives all four from the nation count + the 3 planted bad
    // rows (pure function of the fixture).
    Query("scan_csv_corrupt", (s, d) => {
      val dir = tmp("graft_corrupt")
      val base = nation(s, d)
      CsvSource.write(base, dir)
      Files.writeString(java.nio.file.Paths.get(s"$dir/bad.csv"),
        "n_nationkey,n_name,n_regionkey\nxx,Badland,9\n8,Halfbad,yy\nzz,Worse,zz\n")
      val withCorrupt = org.apache.spark.sql.types.StructType(
        base.schema.fields :+ org.apache.spark.sql.types.StructField(
          "_corrupt_record", org.apache.spark.sql.types.StringType, true))
      // cache(): Spark disallows plans whose pruned read schema is ONLY the
      // internal corrupt column (the aggregation below references nothing
      // else); caching the parsed rows sidesteps the pushdown restriction
      val permissive = s.read.options(CsvSource.options)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(withCorrupt).csv(dir).cache()
      // the isNotNull filter is a no-op on surviving rows (nation is
      // null-free) — its job is to reference EVERY column so CSV column
      // pruning can't skip parsing them: a bare count() parses nothing,
      // detects no malformed rows, and DROPMALFORMED silently drops none
      val dropped = s.read.options(CsvSource.options)
        .option("mode", "DROPMALFORMED")
        .schema(base.schema).csv(dir)
        .filter(base.schema.fieldNames.map(col(_).isNotNull).reduce(_ && _))
      permissive.agg(
          count(lit(1)).as("n_rows"),
          sum(col("_corrupt_record").isNotNull.cast("long")).as("n_corrupt"),
          sum(col("_corrupt_record").isNull.cast("long")).as("n_good"))
        .crossJoin(dropped.agg(count(lit(1)).as("n_dropmalformed")))
    }, oracle =
      // counts are a pure function of the fixture: nation rows + 3 planted
      // bad lines; DROPMALFORMED keeps exactly the good ones
      """SELECT CAST((SELECT COUNT(*) FROM nation) + 3 AS BIGINT) AS n_rows,
        |       CAST(3 AS BIGINT) AS n_corrupt,
        |       CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_good,
        |       CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_dropmalformed""".stripMargin),
    // A12b — partition backfill with DYNAMIC partition overwrite: recompute
    // ONE year's partition (1996, +10.00 price correction) and overwrite it
    // in place — the other partitions must survive untouched, which is
    // exactly what static overwrite mode would violate (it clobbers the
    // whole table) and what the oracle catches: every year's count/sum must
    // match, with only 1996 corrected. The daily-backfill primitive of any
    // date-partitioned lake.
    Query("etl_backfill_partition", (s, d) => {
      val out = tmp("graft_backfill")
      val o = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_totalprice", "o_year")
      o.write.partitionBy("o_year").mode("overwrite").parquet(out)
      // dynamic mode as a per-write option, which outranks the session
      // conf: a session-wide setting would also reach concurrent writes
      o.filter(col("o_year") === 1996)
        .withColumn("o_totalprice", col("o_totalprice") + 10.0)
        .write.partitionBy("o_year").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(out)
      s.read.parquet(out)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total"))
        .orderBy("o_year")
    }, oracle =
      // only 1996 carries the +10.00 correction — a static overwrite would
      // have clobbered every other year and the counts would diverge
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice +
        |                CASE WHEN year(o_orderdate) = 1996 THEN 10.0 ELSE 0 END
        |              AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin),
    // A14 — data-quality report (the Glue Data Quality analogue): one pass
    // computing the load-gate metrics a warehouse ingest checks — row count,
    // PK uniqueness/nullability, value-range sanity, freshness bounds.
    Query("etl_data_quality", (s, d) => {
      val o = orders(s, d)
      o.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct_pk"),
        sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("n_null_pk"),
        sum(when(col("o_totalprice") <= 0, 1).otherwise(0)).as("n_nonpositive_price"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"))
    }, oracle =
      """SELECT COUNT(*) AS n_rows,
        |       COUNT(DISTINCT o_orderkey) AS n_distinct_pk,
        |       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_pk,
        |       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpositive_price,
        |       MIN(o_orderdate) AS min_date,
        |       MAX(o_orderdate) AS max_date
        |FROM orders""".stripMargin),
    // A6c — declarative data-quality RULESET evaluation (round 12i): the
    // Glue Data Quality / Deequ shape — a ruleset of named constraints
    // (Completeness, Uniqueness, ColumnValues, RowCount) evaluated in ONE
    // aggregation pass to (rule, metric, threshold, passed) rows, the
    // artifact a DQ gate stores and alerts on. Where etl_data_quality is
    // the raw counts, this key is the CONTRACT: each rule carries its
    // threshold and verdict, metric and threshold share the rule's unit
    // (q6 fraction for the four ratio rules, plain row count for
    // RowCount). All integer: fractions are x·10⁶ DIV n. 100 TB shape:
    // one map-side-combinable agg (the uniqueness COUNT(DISTINCT pk) is
    // the one Expand-widened metric — the profile_columns
    // approx_count_distinct caveat applies); the 5-row ruleset explodes
    // from the single result row.
    Query("etl_dq_ruleset", (s, d) => {
      val o = orders(s, d)
      val m = o.agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("nd_pk"),
        sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("nn_cust"),
        sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)).as("pos_price"),
        sum(when(col("o_orderstatus").isin("F", "O", "P"), 1L)
          .otherwise(0L)).as("ok_status"))
      m.select(explode(array(
          struct(lit("completeness_o_custkey").as("rule"),
            expr("nn_cust * 1000000L DIV n").as("metric_q6"),
            lit(990000L).as("threshold_q6")),
          struct(lit("uniqueness_o_orderkey").as("rule"),
            expr("nd_pk * 1000000L DIV n").as("metric_q6"),
            lit(999000L).as("threshold_q6")),
          struct(lit("values_o_totalprice_positive").as("rule"),
            expr("pos_price * 1000000L DIV n").as("metric_q6"),
            lit(1000000L).as("threshold_q6")),
          struct(lit("values_o_orderstatus_domain").as("rule"),
            expr("ok_status * 1000000L DIV n").as("metric_q6"),
            lit(1000000L).as("threshold_q6")),
          struct(lit("rowcount_min").as("rule"),
            col("n").as("metric_q6"), lit(100L).as("threshold_q6")))).as("r"))
        .select(col("r.rule"), col("r.metric_q6"), col("r.threshold_q6"),
          (col("r.metric_q6") >= col("r.threshold_q6")).cast("int")
            .as("passed"))
        .orderBy("rule")
    }, oracle =
      // same single-pass metrics, unpivoted to the 5-rule contract rows
      """WITH m AS (
        |  SELECT COUNT(*) AS n,
        |         COUNT(DISTINCT o_orderkey) AS nd_pk,
        |         CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS nn_cust,
        |         CAST(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS pos_price,
        |         CAST(SUM(CASE WHEN o_orderstatus IN ('F','O','P')
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS ok_status
        |  FROM orders),
        |rules AS (
        |  SELECT 'completeness_o_custkey' AS rule,
        |         CAST(nn_cust * 1000000 // n AS BIGINT) AS metric_q6,
        |         CAST(990000 AS BIGINT) AS threshold_q6 FROM m
        |  UNION ALL
        |  SELECT 'uniqueness_o_orderkey',
        |         CAST(nd_pk * 1000000 // n AS BIGINT),
        |         CAST(999000 AS BIGINT) FROM m
        |  UNION ALL
        |  SELECT 'values_o_totalprice_positive',
        |         CAST(pos_price * 1000000 // n AS BIGINT),
        |         CAST(1000000 AS BIGINT) FROM m
        |  UNION ALL
        |  SELECT 'values_o_orderstatus_domain',
        |         CAST(ok_status * 1000000 // n AS BIGINT),
        |         CAST(1000000 AS BIGINT) FROM m
        |  UNION ALL
        |  SELECT 'rowcount_min', CAST(n AS BIGINT),
        |         CAST(100 AS BIGINT) FROM m)
        |SELECT rule, metric_q6, threshold_q6,
        |       CAST(metric_q6 >= threshold_q6 AS INT) AS passed
        |FROM rules ORDER BY rule""".stripMargin),
    // The declared 100 TB form of the ruleset (round 13 — r12 verdict #2):
    // identical rules, but the uniqueness metric's exact COUNT(DISTINCT pk)
    // is replaced by approx_count_distinct (HLL++, rsd 2%). The exact
    // single-distinct plans Catalyst's two-level rewrite — the FULL PK
    // domain crosses a hashpartitioning(o_orderkey) exchange before the
    // final agg (with a second distinct it would widen further into an
    // Expand, the profile_columns shape) — while the HLL form is ONE
    // partial+final pass whose only exchange is the SinglePartition merge
    // of fixed-memory sketch buffers. The uniqueness threshold keeps
    // headroom for the HLL error (0.999 target − 2% rsd ⇒ gate at 0.97):
    // a DQ gate tuned for the approx path budgets the sketch error INTO
    // the threshold, which is why the rule is named distinctly.
    // Unit-tier: PlanSpec asserts the no-PK-shuffle/no-Expand plan shape,
    // brackets the approx uniqueness metric within ±5% of the exact key's,
    // and checks the four non-sketch rows are byte-identical to the exact
    // ruleset's.
    Query("etl_dq_ruleset_approx", (s, d) => {
      val o = orders(s, d)
      val m = o.agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("o_orderkey"), 0.02).as("nd_pk"),
        sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("nn_cust"),
        sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)).as("pos_price"),
        sum(when(col("o_orderstatus").isin("F", "O", "P"), 1L)
          .otherwise(0L)).as("ok_status"))
      m.select(explode(array(
          struct(lit("completeness_o_custkey").as("rule"),
            expr("nn_cust * 1000000L DIV n").as("metric_q6"),
            lit(990000L).as("threshold_q6")),
          struct(lit("uniqueness_o_orderkey_approx").as("rule"),
            expr("nd_pk * 1000000L DIV n").as("metric_q6"),
            lit(970000L).as("threshold_q6")),
          struct(lit("values_o_totalprice_positive").as("rule"),
            expr("pos_price * 1000000L DIV n").as("metric_q6"),
            lit(1000000L).as("threshold_q6")),
          struct(lit("values_o_orderstatus_domain").as("rule"),
            expr("ok_status * 1000000L DIV n").as("metric_q6"),
            lit(1000000L).as("threshold_q6")),
          struct(lit("rowcount_min").as("rule"),
            col("n").as("metric_q6"), lit(100L).as("threshold_q6")))).as("r"))
        .select(col("r.rule"), col("r.metric_q6"), col("r.threshold_q6"),
          (col("r.metric_q6") >= col("r.threshold_q6")).cast("int")
            .as("passed"))
        .orderBy("rule")
    }),
    // A15 — order-independent table fingerprint (round 13): the
    // cross-system migration audit the reference's pipeline story implies
    // (validate the warehouse copy against the lake copy WITHOUT moving
    // either): each row canonicalizes to a type-stable string (integer
    // cents, ISO date, explicit null token — doubles/timestamps never
    // stringify directly, their engine formatting differs), hashes to the
    // first 8 md5 hex digits as a long, and the table digest is the
    // ORDER-INDEPENDENT (count, sum, bit_xor, min, max) of those hashes —
    // comparable across engines, clusters and row orders. Headroom
    // (round-14 ADVICE correction): the WORST-CASE bound sum ≤ 2³²·n
    // overflows a long at n ≈ 2.1·10⁹ rows — the ~4·10⁹ figure holds only
    // for the expected average hash 2³¹; size to the worst case, i.e.
    // move the sum to DECIMAL(38,0) beyond ~2·10⁹ rows (xor/min/max are
    // width-free). Outside the md5-digit
    // LEDGER (SURVEY §7.4): the ledger partitions digits of md5(doc_id)
    // so independent per-id sampling decisions never correlate — this key
    // hashes the full ROW STRING of a different table, a disjoint input
    // domain. 100 TB: one scan, one partial-agg row per partition crosses
    // the shuffle — the cheapest possible full-table integrity check.
    Query("etl_table_fingerprint", (s, d) =>
      orders(s, d).select(fingerprintRowHash.as("h"))
        .agg(fingerprintAggs.head, fingerprintAggs.tail: _*), oracle =
      // the identical canonical row string (concat_ws skips no field — every
      // nullable wraps in an explicit token) hashed via '0x'-literal cast;
      // the digest aggregates are order-independent by construction
      s"""WITH h AS (
         |  SELECT $fingerprintHashSql AS h
         |  FROM orders)
         |SELECT COUNT(*) AS n_rows, CAST(SUM(h) AS BIGINT) AS hash_sum,
         |       CAST(bit_xor(h) AS BIGINT) AS hash_xor,
         |       MIN(h) AS hash_min, MAX(h) AS hash_max
         |FROM h""".stripMargin),
    // A15b — PARTITION-grain fingerprint (round 14, r13 verdict #5): the
    // incremental-audit form of A15 — the SAME canonical-row digest
    // recipe (fingerprintRowHash/fingerprintAggs, one definition shared
    // with etl_table_fingerprint, cannot drift) grouped by the natural
    // partition key (order year), so a cross-system migration audit
    // localizes WHICH partition diverged and re-checks only that one
    // instead of re-scanning the table. The per-partition digests roll up
    // to the table digest by construction (sum/xor/min/max are all
    // associative-commutative over the same h values; EtlSpec asserts the
    // roll-up identity). 100 TB: still one scan; the shuffle carries one
    // partial-agg row per (task, year) — years are calendar-bounded, so
    // the digest table is ~|years| rows at any corpus size.
    Query("etl_partition_fingerprint", (s, d) =>
      orders(s, d)
        .select(year(to_date(col("o_orderdate"))).as("part_year"),
          fingerprintRowHash.as("h"))
        .groupBy("part_year")
        .agg(fingerprintAggs.head, fingerprintAggs.tail: _*)
        .orderBy("part_year"), oracle =
      // the same hash recipe string (fingerprintHashSql) grouped by the
      // partition key — the roll-up identity to the table digest is what
      // EtlSpec asserts on the Spark side
      s"""WITH h AS (
         |  SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT)
         |           AS part_year,
         |         $fingerprintHashSql AS h
         |  FROM orders)
         |SELECT part_year,
         |       COUNT(*) AS n_rows, CAST(SUM(h) AS BIGINT) AS hash_sum,
         |       CAST(bit_xor(h) AS BIGINT) AS hash_xor,
         |       MIN(h) AS hash_min, MAX(h) AS hash_max
         |FROM h GROUP BY part_year ORDER BY part_year""".stripMargin),
    // A15c — fingerprint DIFF (round 14): the audit ACTION the
    // partition-grain digests exist for — given two copies of the table
    // (here: v2 plants a +1.00 price drift on 1995 orders with
    // o_orderkey % 10 = 0, the cross-system corruption model), compare
    // per-partition digests and flag exactly the partitions that
    // diverged, so the re-check rescans ONE partition instead of the
    // table. Same shared digest recipe (fingerprintRowHash /
    // fingerprintAggs / fingerprintHashSql) as A15/A15b — three keys,
    // one canonicalization. 100 TB: two one-pass partial-agg scans (the
    // copies usually live on different systems — each side ships only
    // its |years|-row digest table) + a calendar-bounded join.
    Query("etl_fingerprint_diff", (s, d) => {
      val v1 = orders(s, d)
      val v2 = v1.withColumn("o_totalprice",
        when(year(to_date(col("o_orderdate"))) === 1995 &&
          col("o_orderkey") % 10 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      def pfp(df: DataFrame, side: String): DataFrame =
        df.select(year(to_date(col("o_orderdate"))).as("part_year"),
            fingerprintRowHash.as("h"))
          .groupBy("part_year")
          .agg(fingerprintAggs.head, fingerprintAggs.tail: _*)
          .select(col("part_year"), col("n_rows").as(s"n_rows_$side"),
            col("hash_sum").as(s"sum_$side"),
            col("hash_xor").as(s"xor_$side"),
            col("hash_min").as(s"min_$side"),
            col("hash_max").as(s"max_$side"))
      pfp(v1, "a").join(pfp(v2, "b"), Seq("part_year"), "full_outer")
        .select(col("part_year"), col("n_rows_a"), col("n_rows_b"),
          (col("n_rows_a") === col("n_rows_b") &&
            col("sum_a") === col("sum_b") && col("xor_a") === col("xor_b") &&
            col("min_a") === col("min_b") && col("max_a") === col("max_b"))
            .cast("int").as("is_match"))
        .orderBy("part_year")
    }, oracle =
      // both sides' digests from the one interpolated hash recipe; v2's
      // drift model is replayed as a CTE
      s"""WITH v2 AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         CASE WHEN EXTRACT(year FROM CAST(o_orderdate AS DATE))
         |                   = 1995 AND o_orderkey % 10 = 0
         |              THEN o_totalprice + 1.0 ELSE o_totalprice END
         |           AS o_totalprice,
         |         o_orderdate
         |  FROM orders),
         |fa AS (
         |  SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT)
         |           AS part_year,
         |         COUNT(*) AS n_rows_a, CAST(SUM(h) AS BIGINT) AS sum_a,
         |         CAST(bit_xor(h) AS BIGINT) AS xor_a,
         |         MIN(h) AS min_a, MAX(h) AS max_a
         |  FROM (SELECT o_orderdate, $fingerprintHashSql AS h FROM orders) t
         |  GROUP BY part_year),
         |fb AS (
         |  SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT)
         |           AS part_year,
         |         COUNT(*) AS n_rows_b, CAST(SUM(h) AS BIGINT) AS sum_b,
         |         CAST(bit_xor(h) AS BIGINT) AS xor_b,
         |         MIN(h) AS min_b, MAX(h) AS max_b
         |  FROM (SELECT o_orderdate, $fingerprintHashSql AS h FROM v2) t
         |  GROUP BY part_year)
         |SELECT part_year, n_rows_a, n_rows_b,
         |       CAST(CASE WHEN n_rows_a = n_rows_b AND sum_a = sum_b
         |                  AND xor_a = xor_b AND min_a = min_b
         |                  AND max_a = max_b THEN 1 ELSE 0 END AS INT)
         |         AS is_match
         |FROM fa FULL OUTER JOIN fb USING (part_year)
         |ORDER BY part_year""".stripMargin),
    // A12 — small-file compaction: the lake-maintenance job every file-based
    // pipeline needs (crawl output accumulates per-trigger small files; at
    // 100 TB unbounded file counts kill planning and listing). Rewrite many
    // small files into count-controlled bigger ones; contents must be
    // lossless (oracle: equals the source table). EtlSpec asserts the file
    // counts. At scale the coalesce target comes from size stats
    // (bytes / target_file_size), not a constant.
    Query("etl_compact_files", (s, d) => {
      val src = tmp("graft_compact_src"); val out = tmp("graft_compact_out")
      nation(s, d).repartition(12).write.mode("overwrite").parquet(src)
      s.read.parquet(src).coalesce(1).write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("n_nationkey")
    }, oracle =
      """SELECT * FROM nation ORDER BY n_nationkey"""),
    // A9 — event trigger with prefix/suffix filters (README.md:196-198):
    // prefix == watched dir, suffix == pathGlobFilter; the .txt decoy must
    // not be ingested.
    Query("event_trigger_filtered", (s, d) => {
      val src = tmp("graft_ev_src"); val ckpt = tmp("graft_ev_ckpt")
      val sink = tmp("graft_ev_sink")
      CsvSource.write(region(s, d), src)
      Files.writeString(java.nio.file.Paths.get(s"$src/decoy.txt"),
        "not,a,csv\n1,2,3\n")
      val schema = region(s, d).schema
      Incremental.runAvailableNow(s, src, schema, ckpt, sink,
        globFilter = Some("*.csv"))
      s.read.parquet(sink).orderBy("r_regionkey")
    }, oracle =
      """SELECT * FROM region ORDER BY r_regionkey"""),
    // A7d — scheduled-trigger fire plan (README.md:116: the crawler's
    // "Frequency" knob — Hourly here). Given the event stream's timestamps
    // as the poll opportunities and the earliest tick as the schedule
    // anchor, compute the runs an hourly trigger performs: missed windows
    // coalesce, so fires are exactly the FIRST tick of each non-empty
    // hour slot (etl.ScheduledTrigger implements the same recurrence
    // imperatively; EtlSpec asserts poll-per-tick parity). One shuffle
    // (the slot groupBy) + a broadcast 1-row anchor — all epoch-second
    // longs, zero floats, and the shape is linear in ticks at any scale.
    Query("workflow_scheduled", (s, d) => {
      val ticks = events(s, d)
        .select(unix_timestamp(col("ts")).as("tick")).distinct()
      val anchor = ticks.agg(min(col("tick")).as("s0"))
      ticks.crossJoin(broadcast(anchor))
        .select(col("tick"), col("s0"),
          expr("(tick - s0) DIV 3600").as("slot"))
        .groupBy("slot", "s0")
        .agg(min(col("tick")).as("fire_ts_s"), count(lit(1)).as("n_ticks"))
        .select(col("slot"), col("fire_ts_s"), col("n_ticks"),
          (col("s0") + (col("slot") + lit(1L)) * lit(3600L)).as("next_due_s"))
        .orderBy("slot")
    }, oracle =
      // floor(epoch(..)) truncates to whole seconds exactly like Spark's
      // unix_timestamp (all fixture timestamps are post-1970, so floor ==
      // truncate); a bare epoch()::BIGINT would ROUND the µs fraction
      """WITH t AS (SELECT DISTINCT
        |             CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tick
        |           FROM events),
        |a AS (SELECT MIN(tick) AS s0 FROM t),
        |sl AS (SELECT tick, s0, (tick - s0) // 3600 AS slot
        |       FROM t CROSS JOIN a)
        |SELECT slot, MIN(tick) AS fire_ts_s, COUNT(*) AS n_ticks,
        |       s0 + (slot + 1) * 3600 AS next_due_s
        |FROM sl GROUP BY slot, s0 ORDER BY slot""".stripMargin)
  )
}
