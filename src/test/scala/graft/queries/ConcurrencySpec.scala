package graft.queries

import java.util.concurrent.{Callable, Executors}
import scala.util.hashing.MurmurHash3
import graft.SparkSpec

/** Query functions are re-entrant: the session-scoped keys, run four at a
  * time on one session, give the answers of a serial run. Before they
  * worked on private clones, two of them at once raced on the session's
  * partition cap and on same-name views. */
class ConcurrencySpec extends SparkSpec {

  /** Order-free hash of a key's result rows. */
  private def resultHash(key: String): Int = MurmurHash3.unorderedHash(
    graft.SparkEntry.queries(key)(spark, sf).collect().toSeq.map(_.toString))

  test("session-scoped keys run on 4 threads of one session give the serial hashes, twice") {
    val keys = QuerySets.sessionScoped
    val serial = keys.map(k => k -> resultHash(k)).toMap
    val pool = Executors.newFixedThreadPool(4)
    try (1 to 2).foreach { round =>
      val runs = keys.map(k => k -> pool.submit(new Callable[Int] {
        def call(): Int = resultHash(k)
      }))
      val diverged = runs.collect { case (k, f) if f.get != serial(k) => k }
      assert(diverged.isEmpty,
        s"round $round: concurrent results differ from serial for $diverged")
    } finally pool.shutdown()
  }
}
