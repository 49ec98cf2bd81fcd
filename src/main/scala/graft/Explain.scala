package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Plan-evidence dump for the optimization rounds: writes
  * `.explain("formatted")` for named queries (default: all) to
  * `<outDir>/<name>.txt`. It runs on the bench's own session
  * ([[GraftSession.forMain]]), so the committed plan files in plans/rNN/
  * reflect the plans the timed runs execute. Usage:
  *   tools/run.sh graft.Explain <sfDir> <outDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    SparkEntry.select(args.drop(2)).toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
        System.err.println(s"[explain] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
