package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Tier A — ingest/ETL surface of the reference pipeline (SURVEY.md §2 A1-A9).
  * Each object maps one configured capability of the AWS guide to its
  * Spark-native equivalent; citations are to /root/reference/README.md.
  */

/** A2 — CSV source with OpenCSVSerde semantics (README.md:124-131):
  * separatorChar=',', quoteChar='"', escapeChar='\'. */
object CsvSource {
  val options: Map[String, String] = Map(
    "sep" -> ",", "quote" -> "\"", "escape" -> "\\", "header" -> "true",
    // Spark's CSV writer trims surrounding whitespace by default;
    // OpenCSVSerde preserves it — pin off for round-trip fidelity.
    "ignoreLeadingWhiteSpace" -> "false", "ignoreTrailingWhiteSpace" -> "false")

  def read(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    // multiLine: OpenCSVSerde parses embedded newlines inside quoted fields.
    // Scale note: multiLine forces whole-file (not split) reads — at 100 TB
    // keep individual CSV objects small (the S3 ingest layout already does).
    val r = spark.read.options(options).option("multiLine", "true")
    schema match {
      case Some(st) => r.schema(st).csv(path)
      case None     => r.option("inferSchema", "true").csv(path)
    }
  }

  def write(df: DataFrame, path: String): Unit =
    df.write.options(options).mode("overwrite").csv(path)
}

/** A5 — "Add new columns only" schema-evolution policy (README.md:117):
  * re-crawls may append fields but never drop or retype existing ones
  * (Spark's own mergeSchema would widen types — too permissive). */
object SchemaEvolution {
  def addOnlyMerge(existing: StructType, incoming: StructType): StructType = {
    val existingNames = existing.fieldNames.toSet
    // Existing fields keep their exact type; brand-new fields are appended
    // in incoming order (nullable — old files lack them).
    val added = incoming.fields.filterNot(f => existingNames.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(existing.fields ++ added)
  }
}

/** A3/A4/A5 — crawler: scan a path, infer schema (README.md:104), reconcile
  * with any previously-registered schema under the add-only policy
  * (README.md:117), register the result as a named table (README.md:108-119).
  * Partitioned `key=value` layouts are discovered natively by Spark (A4). */
class Crawler(spark: SparkSession) {
  private val registry = scala.collection.mutable.Map[String, StructType]()

  def schemaOf(table: String): Option[StructType] = registry.get(table)

  /** One crawl run over a parent path: every child directory becomes its
    * own table ("Create a single schema for each s3 path", README.md:117 —
    * a crawler pointed at a lake prefix registers one table per dataset
    * folder). Table names default to the directory names; re-crawls apply
    * the same add-only evolution policy as single-path crawls. */
  def crawlChildren(parent: String, format: String = "csv",
      namePrefix: String = ""): Map[String, DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(parent)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).filter(_.isDirectory).sortBy(_.getPath.getName)
      .map { st =>
        val table = namePrefix + st.getPath.getName
        table -> crawl(st.getPath.toString, table, format)
      }.toMap
  }

  def crawl(path: String, table: String, format: String = "csv"): DataFrame = {
    val inferred = format match {
      case "csv"     => CsvSource.read(spark, path).schema
      case "parquet" => spark.read.parquet(path).schema
      case "json"    => spark.read.json(path).schema
      case "orc"     => spark.read.orc(path).schema
      case other     => sys.error(s"unsupported crawl format: $other")
    }
    val merged = registry.get(table) match {
      case Some(prev) => SchemaEvolution.addOnlyMerge(prev, inferred)
      case None       => inferred
    }
    registry(table) = merged
    val df = format match {
      case "csv"     => CsvSource.read(spark, path, Some(merged))
      case "parquet" => spark.read.schema(merged).parquet(path)
      case "json"    => spark.read.schema(merged).json(path)
      case "orc"     => spark.read.schema(merged).orc(path)
    }
    df.createOrReplaceTempView(table)
    df
  }
}

/** A6 — warehouse sinks ("Create tables in your data target", README.md:150).
  * JDBC for the Redshift-analogue load (embedded Derby in tests — same
  * `df.write.format("jdbc")` code path a real warehouse uses), parquet for
  * the columnar-at-rest lake sink. */
case class ParquetSink(path: String, mode: String = "overwrite") {
  def write(df: DataFrame): Unit = df.write.mode(mode).parquet(path)
}

case class JdbcSink(url: String, table: String,
    driver: String = "org.apache.derby.jdbc.EmbeddedDriver") {
  def write(df: DataFrame): Unit =
    df.write.mode("overwrite").format("jdbc")
      .option("url", url).option("dbtable", table).option("driver", driver)
      .save()

  def read(spark: SparkSession): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).option("driver", driver)
      .load()
}

/** A7 — workflow DAG (README.md:155-166): on-demand trigger → crawler →
  * "start after ALL watched events" → job → load. A trigger may watch
  * SEVERAL events and start its job only "after ALL watched events" have
  * fired (README.md:164); a linear crawl → transform → load run is the
  * one-watch special case.
  *
  * Each node names the upstream nodes it watches; `run` executes nodes in
  * dependency order (declaration order breaks ties, so runs are
  * deterministic) and a node's action receives EXACTLY its watched
  * upstreams' outputs — the AND-gate is structural: the action cannot run
  * before every watched result exists.
  *
  * Failure semantics (the trigger-timeout analogue, README.md:190): a
  * throwing node aborts the remaining run — no downstream job or load
  * executes on a partial upstream set (EtlSpec asserts the sink stays
  * empty). In-process and sequential by design: the orchestration layer
  * (Step Functions / Airflow in the reference's world) owns retries and
  * cross-process parallelism; this models the gating contract a single
  * Spark driver enforces. */
object Workflow {
  case class Node(name: String, after: Seq[String],
      action: Map[String, DataFrame] => DataFrame)

  def node(name: String, after: String*)(
      action: Map[String, DataFrame] => DataFrame): Node =
    Node(name, after.toSeq, action)

  /** Run the DAG; returns every node's output by name. */
  def run(nodes: Seq[Node]): Map[String, DataFrame] = {
    val byName = nodes.map(n => n.name -> n).toMap
    require(byName.size == nodes.size, s"duplicate node names: ${nodes
      .groupBy(_.name).collect { case (k, v) if v.size > 1 => k }.mkString(", ")}")
    for (n <- nodes; u <- n.after)
      require(byName.contains(u), s"node '${n.name}' watches unknown node '$u'")
    val done = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    val pending = scala.collection.mutable.ArrayBuffer.from(nodes)
    while (pending.nonEmpty) {
      val i = pending.indexWhere(_.after.forall(done.contains))
      require(i >= 0,
        s"workflow cycle among: ${pending.map(_.name).mkString(", ")}")
      val n = pending.remove(i)
      done(n.name) = n.action(n.after.map(u => u -> done(u)).toMap)
    }
    done.toMap
  }
}

/** A7d — scheduled trigger (README.md:116: the crawler's "Frequency" knob —
  * the guide selects "Run on demand", but the knob's other values are
  * Hourly / Daily / ... cron schedules). Fires the workflow DAG when the
  * injected virtual clock reaches the next due time; missed windows
  * COALESCE into one run (a schedule states cadence, not a backlog: a
  * trigger that came due three times while the previous run was still
  * going runs once, then resumes cadence from the slot AFTER the poll
  * that fired — so fires are exactly the first poll of each non-empty
  * period slot). Virtual-clock injection keeps it deterministic and
  * wall-sleep-free (SURVEY §7.3: tests never sleep); production drives
  * poll() from the orchestrator's timer. The declarative twin of this
  * recurrence is the `workflow_scheduled` query, which computes the same
  * fire set over the event stream's timestamps in one groupBy — EtlSpec
  * asserts poll-per-tick parity between the two. */
class ScheduledTrigger(nodes: Seq[Workflow.Node], startAt: Long, period: Long) {
  require(period > 0, "period must be positive")
  private var due = startAt
  private var fires = 0
  def firedCount: Int = fires
  def nextDue: Long = due

  /** One poll at virtual time `now` (polls must be non-decreasing): runs
    * the DAG iff `now >= nextDue`, returning its outputs when fired. */
  def poll(now: Long): Option[Map[String, DataFrame]] =
    if (now < due) None
    else {
      val out = Workflow.run(nodes)
      fires += 1
      due = startAt + period * ((now - startAt) / period + 1L)
      Some(out)
    }
}

/** A8/A9/D6 — incremental file pipeline. Job-Bookmark semantics
  * (README.md:145, "process only new files since the last run") ==
  * Structured Streaming file source + checkpoint + Trigger.AvailableNow;
  * S3 object-create event filters (README.md:196-198) == path prefix
  * (source dir) + `pathGlobFilter` (suffix). */
object Incremental {
  /** One bookmark-semantics run. `multiLine` parses embedded newlines
    * inside quoted fields (OpenCSVSerde fidelity — CsvSource.write
    * legitimately emits them); it forces whole-file reads, which at 100 TB
    * means one task per object instead of one per 128 MB split. (A/B-measured
    * on this corpus the parser-level cost at equal splits is small — see
    * SURVEY §7.4b.) */
  def runAvailableNow(spark: SparkSession, srcDir: String, schema: StructType,
      checkpoint: String, sinkDir: String,
      globFilter: Option[String] = None): Unit = {
    var reader = spark.readStream.schema(schema)
      .options(CsvSource.options)
      .option("multiLine", "true")
      .option("maxFilesPerTrigger", "1000")
    globFilter.foreach(g => reader = reader.option("pathGlobFilter", g))
    val q = reader.csv(srcDir)
      .writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Bookmark rewind (Glue: job-bookmark reset / disable, reference
    * README.md:145 configures only "enable"): drop the checkpoint so the
    * next run reprocesses every file in the source. Point the rerun at a
    * fresh (or truncated) sink: the parquet stream sink keeps its own
    * `_spark_metadata` commit log and silently skips batch ids it has
    * already committed, so re-emitting into the old sink dir is a no-op —
    * the same "reset rebuilds the target" workflow a Glue bookmark reset
    * implies. Uses the Hadoop filesystem of the checkpoint path, so it
    * works on any scheme the checkpoint itself works on (local, HDFS, S3A). */
  def resetCheckpoint(spark: SparkSession, checkpoint: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(checkpoint)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(path, true)
  }
}
