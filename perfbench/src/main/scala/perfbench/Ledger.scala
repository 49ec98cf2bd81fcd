package perfbench

/** Minimal JSON writer: objects keep field order, strings are escaped. */
object Json {
  final case class Obj(fields: (String, Any)*) {
    def render: String = Json.render(this)
  }

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
  }
}

/** One ledger row per op: the op's wall split and, for traced ops, every
  * layer counter. A failed op carries its error class and message. */
object Ledger {
  private val etlSteps = Seq("schema", "ingest", "crawl", "load")

  def row(op: Op): Json.Obj = {
    val base = Seq[(String, Any)](
      "pass" -> op.pass, "index" -> op.index, "name" -> op.name,
      "wall_ms" -> op.wallMs, "keys.build_ms" -> op.buildMs,
      "keys.action_ms" -> op.actionMs, "rows" -> op.rows, "error" -> op.error)
    val layers = op.trace.toSeq.flatMap { t =>
      val active = t.jobActiveMs()
      // driver_ms is run()'s wall less the union of every job that started
      // inside it, attributed to a step or not: a job no step claims leaves
      // a gap in the accounting instead of passing as driver time.
      val etl =
        if (!op.name.startsWith("firing_")) Nil
        else {
          val inRun = t.jobActiveMs(window = Some((op.startMs, op.buildEndMs)))
          etlSteps.map(s => s"etl.${s}_ms" -> t.jobActiveMs(Some(s))) ++ Seq(
            "etl.query_ms" -> op.actionMs,
            "etl.driver_ms" -> (op.buildMs - inRun),
            "etl.schema_bytes_read" -> t.stepInputBytes("schema"),
            "etl.load_rows" -> t.stepInputRecords("load"))
        }
      Seq(
        "plan.analysis_ms" -> t.analysisMs,
        "plan.optimization_ms" -> t.optimizationMs,
        "plan.planning_ms" -> t.planningMs,
        "codegen.compiles" -> t.compiles,
        "codegen.compile_ms" -> t.compileMs,
        "sched.jobs" -> t.jobs,
        "sched.stages" -> t.stages,
        "sched.tasks" -> t.tasks,
        "sched.job_active_ms" -> active,
        "sched.driver_gap_ms" -> (op.wallMs - active),
        "exec.run_ms" -> t.runMs,
        "exec.cpu_ms" -> t.cpuMs,
        "exec.gc_ms" -> t.gcMs,
        "exec.shuffle_read_bytes" -> t.shuffleReadBytes,
        "exec.shuffle_write_bytes" -> t.shuffleWriteBytes,
        "exec.spill_bytes" -> t.spillBytes,
        "exec.peak_mem_bytes" -> t.peakMemBytes,
        "exec.input_bytes" -> t.inputBytes,
        "exec.input_records" -> t.inputRecords,
        "stream.batches" -> t.streamBatches,
        "stream.batch_ms" -> t.streamBatchMs,
        "stream.state_rows" -> t.stateRows.values.sum,
        "jvm.gc_ms" -> t.jvmGcMs,
        "jvm.jit_cpu_ms" -> t.jitCpuMs) ++ etl
    }
    Json.Obj(base ++ layers: _*)
  }
}
