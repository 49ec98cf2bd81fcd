package graft

/** Local iteration harness for the optimization rounds: times named keys
  * under the SAME session + noop action as the bench, with warm repeats,
  * so a candidate change can be A/B'd in seconds instead of a full bench
  * sweep. Prints per-repeat seconds to stderr; never used by the driver.
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
    keys.foreach { name =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        math.round((System.nanoTime() - t0) / 1e6) / 1000.0
      }
      System.err.println(s"[probe] $name: ${times.mkString(" ")}")
    }
    spark.stop()
  }
}
