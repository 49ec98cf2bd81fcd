package graft.queries

import org.apache.spark.sql.SparkSession
import graft.SparkSpec

/** Query functions only read the session they are handed: a key that
  * needs a setting or a named view does that work on a private clone
  * (GraftBridge.scoped / scopedStreams). Each key runs on a fresh session
  * of the suite's context, whose conf, temp views, functions and active
  * streams must read the same before and after. */
class SessionHygieneSpec extends SparkSpec {

  private def state(s: SparkSession) = (
    s.conf.getAll,
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet,
    s.catalog.listFunctions().collect().map(_.name).toSet,
    s.streams.active.map(_.name).toSet)

  QuerySets.sessionScoped.foreach { key =>
    test(s"$key leaves the caller's session as it found it") {
      val caller = spark.newSession()
      val before = state(caller)
      graft.SparkEntry.queries(key)(caller, sf).collect()
      val after = state(caller)
      assert(after._1 == before._1, s"$key changed the conf: " +
        s"${(after._1.toSet diff before._1.toSet).mkString(", ")}")
      assert(after._2 == before._2,
        s"$key left temp views: ${after._2 diff before._2}")
      assert(after._3 == before._3,
        s"$key changed the functions: ${after._3 diff before._3}")
      assert(after._4 == before._4,
        s"$key left streams running: ${after._4 diff before._4}")
    }
  }
}
