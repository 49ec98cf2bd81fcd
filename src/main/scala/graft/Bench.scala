package graft

/** Hypervisor-steal measurement for the bench launch (r16 verdict #4).
  * Round 16 measured that this host's steal is DEMAND-TRIGGERED: an
  * 8-core probe reads ~0% while 32-core saturation reads ~7% (commit
  * 30fd5b8), so a bench gated on ambient load or a narrow probe still
  * lands on a contended window and the official artifact mis-signals —
  * r16's committed BENCH showed two "regressions" that no quiet run
  * reproduced. The launch therefore saturates ALL benched cores while
  * reading /proc/stat's steal counter, retries until the window is
  * quiet, and the run itself samples steal every 10 s so the committed
  * detail carries the contention evidence inline. */
object Steal {
  /** (steal, total) jiffies from /proc/stat's aggregate cpu line, or
    * None off-Linux. Fields: user nice system idle iowait irq softirq
    * steal [guest guest_nice]. */
  def counters(): Option[(Long, Long)] =
    try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      Some((f(7), f.sum))
    } catch { case _: Throwable => None }

  /** Integrated steal share (percent) across a counter delta; -1 when
    * unreadable or the window is empty. */
  def pct(c0: Option[(Long, Long)], c1: Option[(Long, Long)]): Double =
    (c0, c1) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        math.round((s1 - s0) * 10000.0 / (t1 - t0)) / 100.0
      case _ => -1.0
    }

  /** Saturate `threads` cores for `seconds` and return the steal share
    * the hypervisor charged during the window. Demand-triggered steal
    * only shows under saturation, so the probe must be FULL-WIDTH —
    * the same parallelism the bench itself will drive. */
  def probe(threads: Int, seconds: Int): Double = {
    val c0 = counters()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var x = 0L
        while (!stop.get()) { x += 1; if (x == Long.MaxValue) x = 0 }
      })
      t.setDaemon(true); t.start(); t
    }
    Thread.sleep(seconds * 1000L)
    stop.set(true); ts.foreach(_.join(1000))
    pct(c0, counters())
  }

  /** Background 10 s sampler; `series` drains (epoch-sec, steal-pct)
    * ticks, `integrated` the whole-run share. */
  final class Sampler {
    private val start = counters()
    private var last = start
    private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile private var stopped = false
    private val t = new Thread(() => {
      while (!stopped) {
        Thread.sleep(10000)
        val now = counters()
        buf.add(pct(last, now)); last = now
      }
    })
    t.setDaemon(true); t.start()
    def finish(): (Double, Seq[Double]) = {
      stopped = true
      import scala.jdk.CollectionConverters._
      (pct(start, counters()), buf.iterator().asScala.toSeq)
    }
  }
}

object Bench {

  /** Where the per-query timing detail lands (JSON, one object). The driver
    * only needs the short summary line; humans and the judge read this. */
  val DetailPath = "/tmp/graft_bench_detail.json"

  /** The ONE driver-parseable stdout line. The driver reads a bounded
    * (~4 KB) stdout TAIL: in rounds 1-2 a single long line carrying all
    * per-query times got its head (with `"metric":"total"`) clipped out of
    * the window and parsed as null. The contract is therefore: this line is
    * SHORT (<300 bytes — ContractSpec enforces <1 KB) and it is the LAST
    * thing printed to stdout. Per-query detail goes to [[DetailPath]] and
    * stderr, never back into this line.
    *
    * `loadavg` (1-min load sampled right after the timed loop — it reflects
    * load DURING the run) and `loadavg_start` (sampled before warmup —
    * ambient load from other processes) make bench-total drift adjudicable:
    * identical code has swung 82-107s on this box with ambient load 1.4-2.7
    * (SURVEY §7.4e), and without the sample in the committed summary "it
    * was load" is an untestable explanation (r6/r7 verdicts).
    */
  /** The timed action's name, embedded in the summary line and detail JSON
    * (r17 verdict #1): the round-17 count()→noop switch made totals
    * incomparable across rounds and the driver's `bench_harness_changed`
    * flag missed it — a 15.5% phantom regression. With the action TAGGED
    * in both artifacts, a cross-action comparison is machine-detectable:
    * totals are comparable iff the `action` fields match (the r16→r17
    * bridge is BENCH_ACTION_AB_r17.tsv). */
  val TimedAction = "noop"

  def summaryLine(total: Double, n: Int, failed: Int, sf: String,
      loadStart: Double = -1.0, loadEnd: Double = -1.0,
      stealProbe: Double = -1.0, stealRun: Double = -1.0): String =
    s"""{"metric":"total","value":$total,"unit":"sec","n":$n,"failed":$failed,"sf":"$sf","action":"$TimedAction","loadavg":$loadEnd,"loadavg_start":$loadStart,"steal_probe_pct":$stealProbe,"steal_pct":$stealRun,"detail":"$DetailPath"}"""

  def detailJson(results: Seq[(String, Double)], sf: String,
      loadStart: Double = -1.0, loadEnd: Double = -1.0,
      stealProbe: Double = -1.0, stealRun: Double = -1.0,
      stealTicks: Seq[Double] = Seq.empty,
      bcastViolations: Seq[String] = Seq.empty,
      jitMs: Seq[(String, Long)] = Seq.empty,
      errors: Seq[(String, String)] = Seq.empty): String = {
    def obj(kvs: Seq[(String, Any)]): String =
      kvs.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val ticks = stealTicks.mkString("[", ",", "]")
    val bv = bcastViolations.map(v => Json.str(v.take(200))).mkString("[", ",", "]")
    // per-key JIT-compiler wall-ms (CompilationMXBean delta across the
    // timed action — r17/r18 roving-spike adjudication: the spike is C2
    // compile placement, not plan cost; see OPTIMIZATION_r18.md. A key
    // whose seconds jump WITH a jit_ms jump is compiler-window noise; one
    // without is a real plan change.) The delta is JVM-wide, so it also
    // counts compile backlog queued by earlier keys (or the warmup) that
    // drained inside this key's window: it is window overlap, not a
    // causal per-key compile cost.
    val jm = obj(jitMs)
    val errs = obj(errors.map { case (k, e) => k -> Json.str(e) })
    s"""{"metric":"per_query","unit":"sec","sf":${Json.str(sf)},"action":"$TimedAction","loadavg":$loadEnd,"loadavg_start":$loadStart,"steal_probe_pct":$stealProbe,"steal_pct":$stealRun,"steal_ticks_10s_pct":$ticks,"bcast_violations":$bv,"jit_ms":$jm,"errors":$errs,"queries":${obj(results)}}"""
  }

  /** 1-minute system load average, rounded to 2 decimals (-1.0 where the
    * JVM can't provide one). */
  def loadAvg(): Double =
    try math.round(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage * 100) / 100.0
    catch { case _: Throwable => -1.0 }

  /** Repo path for the committed per-round detail copy, or None outside the
    * repo. The round number is inferred as max(existing BENCH_r*.json) + 1:
    * when the driver benches round N, rounds 1..N-1 are already committed,
    * so the detail lands as BENCH_DETAIL_rNN.json next to the summary the
    * driver writes — the judge asked for exactly this persistence (r6 #2,
    * r7 #1: overwritten /tmp detail made bench drift unadjudicable).
    */
  def roundDetailPath(): Option[java.nio.file.Path] = {
    val repo = Seq(java.nio.file.Paths.get("").toAbsolutePath,
        java.nio.file.Paths.get("/root/repo"))
      .find(p => java.nio.file.Files.exists(p.resolve("SURVEY.md")))
    repo.map { dir =>
      val rx = "BENCH_r(\\d+)\\.json".r
      val prev = dir.toFile.list().toSeq
        .flatMap(n => rx.findFirstMatchIn(n))
        .map(_.group(1).toInt).foldLeft(0)(math.max)
      dir.resolve(f"BENCH_DETAIL_r${prev + 1}%02d.json")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Steal-aware launch (r16 verdict #4): saturate the benched width and
    // retry until the hypervisor-steal window is quiet, so the OFFICIAL
    // per-round artifact is itself a quiet point rather than needing a
    // parallel quiet-run trail. Defaults: gate 3%, 10 retries spaced 60 s
    // (≈11 min worst case, then run anyway — the driver must always get
    // its artifact; the recorded probe value flags a forced-through run).
    val stealMax = sys.env.getOrElse("SPARK_GRAFT_STEAL_MAX", "3.0").toDouble
    val stealTries = sys.env.getOrElse("SPARK_GRAFT_STEAL_TRIES", "10").toInt
    var probeSteal = -1.0
    var attempt = 0
    var quiet = false
    while (!quiet && attempt < stealTries) {
      attempt += 1
      probeSteal = Steal.probe(GraftSession.cpus, 8)
      System.err.println(
        s"[bench] full-width steal probe $attempt/$stealTries: " +
          s"$probeSteal% (gate $stealMax%)")
      if (probeSteal < 0 || probeSteal <= stealMax) quiet = true
      else Thread.sleep(60000)
    }
    val spark = GraftSession.forMain()
    // Untimed warmup: absorb one-time JVM/codegen and streaming-engine
    // initialization (~6s measured) so per-query numbers reflect per-query
    // cost, not which arbitrary query ran first. Deterministic name order
    // keeps runs comparable.
    val loadStart = loadAvg() // ambient, before warmup adds our own load
    warmup(spark, sfDir)
    // Board-wide broadcast audit (r16 verdict #1 operationalized): the
    // always-on listener reads every completed action's FINAL plan and
    // records any broadcast build whose ACTUAL bytes exceed 2× the
    // threshold — the estimate-blind hazard class the containment dedup's
    // x128 probe caught. A metadata walk over already-collected metrics;
    // zero timing impact. Hits land in the committed detail artifact.
    val auditor = graft.plans.BroadcastAudit.install(spark)
    val sampler = new Steal.Sampler // 10 s steal ticks across the timed loop
    // JVM-wide JIT compile-time counter (milliseconds of compiler-thread
    // work since JVM start); the per-key delta lands in the detail JSON
    val compiler = java.lang.management.ManagementFactory.getCompilationMXBean
    val jitSupported = compiler != null &&
      compiler.isCompilationTimeMonitoringSupported
    val jitTimes = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val errors = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val jit0 = if (jitSupported) compiler.getTotalCompilationTime else 0L
      val t0 = System.nanoTime()
      // A crashed query reports -1.0, never a normal-looking elapsed time,
      // and its cause goes to stderr and the detail's `errors` object.
      // The timed action is a NOOP WRITE, not count() (round 17): count
      // lets Catalyst prune everything cardinality-neutral — window
      // functions whose outputs count doesn't read, aggregate-side
      // expressions above the group keys, left-join-attached branches
      // (distinct-key inference), even the scan's column materialization
      // — so a key's heaviest stage could be silently unmeasured
      // (measured: dedup_minhash_calibration's exact-verify 46.6 s vs a
      // 5.4 s count; window keys read as bare scans; full A/B in
      // BENCH_ACTION_AB_r17.tsv, same-tree totals 349 s count vs 424 s
      // noop). The noop sink materializes EVERY output column through
      // the full plan and discards rows executor-side — no driver
      // collect, no disk — the honest per-key cost.
      val sec =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        catch { case e: Throwable =>
          // capped: a Spark analysis error can inline a whole plan
          val cause = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          System.err.println(s"[bench] $name failed: $cause")
          errors += name -> cause
          -1.0
        }
      if (jitSupported)
        jitTimes += name -> (compiler.getTotalCompilationTime - jit0)
      name -> math.round(sec * 1000) / 1000.0
    }
    val loadEnd = loadAvg() // 1-min window ≈ the run itself at 32 threads
    val (stealRun, stealTicks) = sampler.finish()
    Thread.sleep(1000) // execution-listener bus is async — let it drain
    val bcast = auditor.violations.map { case (action, b) =>
      s"$action ${b.desc} rows=${b.rows} bytes=${b.bytes}"
    }
    bcast.foreach(v => System.err.println(s"[bench] BCAST VIOLATION: $v"))
    val detail = detailJson(results, sfDir, loadStart, loadEnd,
      probeSteal, stealRun, stealTicks, bcast, jitTimes.toSeq, errors.toSeq)
    // Detail goes ONLY to files. Printing it (even to stderr) is unsafe:
    // the driver captures stdout+stderr combined, and 3.5 KB of per-query
    // detail eats most of the bounded tail window the summary must fit in.
    // Two copies: the stable /tmp path the summary line points at, and the
    // per-round repo copy that makes the detail part of the committed
    // record (judge asks r6 #2 / r7 #1).
    (Seq(java.nio.file.Paths.get(DetailPath)) ++ roundDetailPath()).foreach {
      p =>
        try java.nio.file.Files.write(p, detail.getBytes("UTF-8"))
        catch { case _: Throwable => () } // detail is best-effort, never fatal
    }
    val ok = results.map(_._2).filter(_ >= 0)
    val total = math.round(ok.sum * 1000) / 1000.0
    // Stop Spark BEFORE the summary so nothing (even a stray stdout log
    // line from shutdown) can print after the line the driver parses.
    try spark.stop() catch { case _: Throwable => () }
    println(summaryLine(total, results.size, results.size - ok.size, sfDir,
      loadStart, loadEnd, probeSteal, stealRun))
  }

  private def warmup(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    // batch: shuffle + codegen machinery
    spark.range(100000).groupBy((col("id") % 10).as("k"))
      .agg(sum(col("id"))).collect()
    // parquet source + vectorized reader + HLL sketch init — otherwise the
    // alphabetically-first query absorbs these one-time costs
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .agg(approx_count_distinct(col("l_partkey"), 0.02)).collect()
    } catch { case _: Throwable => () }
    // streaming: state store + streaming codegen machinery (one tiny
    // stateful query over a MemoryStream)
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Int)]
      ms.addData((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1))
      val q = ms.toDF().toDF("ts", "v")
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)))
        .writeStream.format("memory").queryName("graft_bench_warmup")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    } catch { case _: Throwable => () } // warmup must never fail the bench
  }
}
