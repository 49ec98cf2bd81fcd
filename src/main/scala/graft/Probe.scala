package graft

/** Local iteration harness for the optimization rounds: times named keys
  * under the SAME session + noop action as the bench, with warm repeats,
  * so a candidate change can be A/B'd in seconds instead of a full bench
  * sweep. Every named key first runs once untimed, so no key's timed
  * repeats carry the JIT and codegen warm-up of the keys before it and the
  * key order does not decide the warm times. Prints per-repeat seconds to
  * stderr.
  * Usage:
  *   SPARK_GRAFT_CPUS=32 tools/run.sh graft.Probe <sfDir> <repeats> <key...>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val keys = args.drop(2).toSeq
    val fns = SparkEntry.select(keys)
    val spark = GraftSession.forMain()
    def run(name: String): Unit =
      fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    keys.foreach(run)
    keys.foreach { name =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        run(name)
        math.round((System.nanoTime() - t0) / 1e6) / 1000.0
      }
      System.err.println(s"[probe] $name: ${times.mkString(" ")}")
    }
    spark.stop()
  }
}
