package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Steal}
import graft.etl.{CsvSource, JdbcSink, ReferencePipeline}

/** One timed op: a query key (build + noop write) or a pipeline firing
  * (`run()` + the warehouse query). `buildMs + actionMs` is the op wall;
  * `startMs` and `buildEndMs` bound the build in epoch ms, the clock of
  * Spark's listener events. */
final case class Op(pass: Int, index: Int, name: String, buildMs: Double,
    actionMs: Double, rows: Long, error: Option[String],
    startMs: Long, buildEndMs: Long, trace: Option[OpTrace] = None) {
  def wallMs: Double = buildMs + actionMs
}

/** A workload: an untimed warm-up, a pass of ops that can be repeated, and
  * an untimed output check that runs after the timed passes. */
trait Workload {
  /** Called with the plan of each frame an op builds and then only wraps
    * in an action (whose own plan re-wraps the analysed one). */
  var onBuilt: QueryExecution => Unit = _ => ()
  def warmup(): Unit
  def pass(p: Int, run: (() => Op) => Op): Seq[Op]
  /** Writes outputs under `dir` for the caller to compare; returns one
    * JSON object per checked item. */
  def check(dir: Path): Seq[Json.Obj]
}

object Main {
  final case class Opts(workload: String, dataDir: String, outDir: String,
      seed: Long, seconds: Double, trace: Boolean, cpus: Int, spawnMs: Long,
      keys: Seq[String], shuffle: Boolean, dropRows: Seq[Long], firings: Int,
      warmups: Int)

  def ms(ns: Long): Double = ns / 1e6

  def errorText(e: Throwable): String = {
    var root = e
    while (root.getCause != null && root.getCause != root) root = root.getCause
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    val why = if (root eq e) "" else
      s" (cause ${root.getClass.getName}: " +
        Option(root.getMessage).getOrElse("").linesIterator.take(2).mkString(" ") + ")"
    (e.getClass.getName + ": " + msg + why).take(600)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("out"), m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("cpus").toInt,
      m("spawn-ms").toLong,
      m.get("keys").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      m.get("shuffle").contains("1"),
      m.get("drop-rows").toSeq.flatMap(_.split(",")).map(_.toLong),
      m.getOrElse("firings", "0").toInt, m.getOrElse("warmups", "1").toInt)
  }

  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Progress marks on stderr, relative to the launch of the JVM. */
  private def mark(o: Opts, what: String): Unit =
    System.err.println(s"[perfbench-jvm] ${System.currentTimeMillis() - o.spawnMs} ms: $what")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    mark(o, "main")
    val out = Paths.get(o.outDir)
    Files.createDirectories(out)
    val steal0 = Steal.counters()
    val load0 = loadAvg()
    val spark = GraftSession.builder(s"local[${o.cpus}]", o.cpus)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark(o, "session ready")
    val wl: Workload =
      if (o.dropRows.nonEmpty)
        new PipelineWorkload(spark, o.dataDir, o.dropRows.toIndexedSeq, o.firings, out)
      else {
        val keys = if (o.shuffle) new scala.util.Random(o.seed).shuffle(o.keys) else o.keys
        new KeysWorkload(spark, o.dataDir, keys, o.seed)
      }
    mark(o, "workload ready")
    (1 to o.warmups).foreach { i => wl.warmup(); mark(o, s"workload warm-up $i done") }

    // The timed passes repeat until `seconds` have passed (at least one).
    // A traced run traces those passes, then repeats the last one untraced
    // to measure the tracing overhead against it.
    def plain(body: () => Op): Op = body()
    lazy val tracer = new Tracer(spark)
    def traced(body: () => Op): Op = {
      val (op, tr) = tracer.trace(body())
      op.copy(trace = Some(tr))
    }
    if (o.trace) wl.onBuilt = qe => tracer.noteBuilt(qe)
    val timedStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val timedOps = Vector.newBuilder[Op]
    var passes = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      timedOps ++= wl.pass(passes, if (o.trace) traced else plain)
      passes += 1
    }
    val (plainOps, tracedOps) =
      if (!o.trace) (timedOps.result(), Vector.empty[Op])
      else {
        tracer.remove()
        wl.onBuilt = _ => ()
        (wl.pass(passes, plain).toVector, timedOps.result())
      }
    mark(o, s"timed passes done ($passes)")
    val load1 = loadAvg()
    val steal1 = Steal.counters()
    val checks = wl.check(out.resolve("check"))
    val result = Json.Obj(
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cpus,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "steal_pct" -> Steal.pct(steal0, steal1),
      "timed_start_epoch_ms" -> timedStart,
      "passes" -> passes,
      "peak_rss_kb" -> peakRssKb(),
      "ops" -> plainOps.map(Ledger.row),
      "traced_ops" -> tracedOps.map(Ledger.row),
      "checks" -> checks)
    mark(o, "check outputs written")
    Files.writeString(out.resolve("result.json"), result.render)
    spark.stop()
  }
}

/** Query keys from `SparkEntry.queries`: each op builds the key's frame and
  * runs `graft.Bench`'s timed action, a noop write. The output check
  * re-runs one key, chosen by seed, so that runs over many seeds cover
  * every key while a run stays short. */
final class KeysWorkload(spark: SparkSession, dataDir: String,
    keys: Seq[String], seed: Long) extends Workload {
  private val fns = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql
  require(keys.nonEmpty && keys.forall(fns.contains),
    s"unknown keys: ${keys.filterNot(fns.contains).mkString(",")}")

  private def runKey(p: Int, i: Int, key: String): Op = {
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = -1L
    var e1 = -1L
    var df: DataFrame = null
    val err =
      try {
        df = fns(key)(spark, dataDir)
        t1 = System.nanoTime()
        e1 = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(Main.errorText(e)) }
    val t2 = System.nanoTime()
    if (t1 < 0) { t1 = t2; e1 = System.currentTimeMillis() }
    if (df != null) onBuilt(df.queryExecution)
    Op(p, i, key, Main.ms(t1 - t0), Main.ms(t2 - t1), -1L, err, e0, e1)
  }

  def warmup(): Unit = keys.zipWithIndex.foreach { case (k, i) => runKey(-1, i, k) }

  def pass(p: Int, run: (() => Op) => Op): Seq[Op] =
    keys.zipWithIndex.map { case (k, i) => run(() => runKey(p, i, k)) }

  def check(dir: Path): Seq[Json.Obj] = {
    val sample = new scala.util.Random(seed).shuffle(keys.sorted).take(1)
    sample.map { k =>
      val target = dir.resolve(k).toString
      val err =
        try {
          fns(k)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(target)
          None
        } catch { case e: Throwable => Some(Main.errorText(e)) }
      Json.Obj("key" -> k, "dir" -> target, "oracle_sql" -> oracle.get(k),
        "error" -> err)
    }
  }
}

/** The guide's own path: the seed's orders, split into CSV drops under
  * `<data>/drops/drop=<i>/` before the JVM starts. Each pass builds a fresh
  * pipeline (own watch directory and Derby database) and lands `firings`
  * drops in turn, pass p taking the next ones round the list; each landing
  * fires one `ReferencePipeline.run()`, followed by a SQL aggregate over the
  * warehouse frame it returns. Each warm-up is such a pass on a separate
  * primer instance. */
final class PipelineWorkload(spark: SparkSession, dataDir: String,
    dropRows: IndexedSeq[Long], firings: Int, out: Path) extends Workload {
  private val dropRoot = Paths.get(dataDir, "drops")
  private val drops = dropRows.size
  require(firings >= 1 && firings <= drops, s"firings $firings of $drops drops")

  /** Glue's "Change schema" step: rename and type the raw CSV columns. */
  private val mapping: DataFrame => DataFrame = df => df.select(
    col("o_orderkey").cast("long").as("order_id"),
    col("o_custkey").cast("long").as("customer_id"),
    col("o_orderstatus").as("status"),
    col("o_totalprice").cast("decimal(12,2)").as("total_price"),
    to_date(col("o_orderdate")).as("order_date"),
    col("o_orderpriority").as("priority"))

  /** Land drop `i` in `watch`: the upload that fires the trigger. */
  private def land(i: Int, watch: Path): Unit = {
    val src = dropRoot.resolve(s"drop=$i")
    if (Files.isDirectory(src))
      Files.list(src).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".csv"))
        .foreach(f => Files.copy(f, watch.resolve(s"d$i-${f.getFileName}")))
  }

  private var lastSink: Option[(JdbcSink, Long, Seq[Int])] = None

  private def instance(name: String): (ReferencePipeline, JdbcSink, Path) = {
    val base = Files.createDirectories(out.resolve(name))
    val watch = Files.createDirectories(base.resolve("watch"))
    val sink = JdbcSink(s"jdbc:derby:${base.resolve("db")};create=true", "ORDERS_WH")
    (new ReferencePipeline(spark, watch.toString, "*.csv", s"orders_raw_$name",
      sink, mapping), sink, watch)
  }

  private def fire(p: Int, i: Int, d: Int, pipe: ReferencePipeline, expect: Long): Op = {
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = -1L
    var e1 = -1L
    val err =
      try {
        val wh = pipe.run()
        t1 = System.nanoTime()
        e1 = System.currentTimeMillis()
        onBuilt(wh.queryExecution)
        val agg = wh.groupBy("status")
          .agg(count(lit(1)).as("n"), sum("total_price").as("amount")).collect()
        val n = agg.map(_.getLong(1)).sum
        if (n != expect) Some(s"warehouse holds $n rows after firing $i; $expect were dropped")
        else None
      } catch { case e: Throwable => Some(Main.errorText(e)) }
    val t2 = System.nanoTime()
    if (t1 < 0) { t1 = t2; e1 = System.currentTimeMillis() }
    Op(p, i, f"firing_$i%02d", Main.ms(t1 - t0), Main.ms(t2 - t1),
      dropRows(d), err, e0, e1)
  }

  private var primers = 0

  /** A warm-up is an untimed pass on its own primer instance; primer k lands
    * the k-th group of drops counted back from the end of the list. */
  def warmup(): Unit = {
    primers += 1
    firePass(s"primer$primers", -primers, op => op())
  }

  def pass(p: Int, run: (() => Op) => Op): Seq[Op] = {
    val (ops, sink, cum, landed) = firePass(s"pass$p", p, run)
    lastSink = Some((sink, cum, landed))
    ops
  }

  private def firePass(name: String, p: Int, run: (() => Op) => Op)
      : (Seq[Op], JdbcSink, Long, Seq[Int]) = {
    val (pipe, sink, watch) = instance(name)
    val landed = (0 until firings).map(i => Math.floorMod(p * firings + i, drops))
    var cum = 0L
    val ops = landed.zipWithIndex.map { case (d, i) =>
      land(d, watch)
      cum += dropRows(d)
      val expect = cum
      run(() => fire(p, i, d, pipe, expect))
    }
    (ops, sink, cum, landed)
  }

  def check(dir: Path): Seq[Json.Obj] = lastSink.toSeq.map { case (sink, cum, landed) =>
    val target = dir.resolve("pipeline_warehouse").toString
    val err =
      try {
        sink.read(spark).coalesce(1).write.mode("overwrite").parquet(target)
        None
      } catch { case e: Throwable => Some(Main.errorText(e)) }
    Json.Obj("key" -> "pipeline_warehouse", "dir" -> target,
      "dropped_rows" -> cum, "drops" -> landed, "error" -> err)
  }
}
