package org.apache.spark.sql

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The stream scope's listener contract. In Spark's package to count the
  * context's streaming listener buses. */
class GraftBridgeSpec extends graft.SparkSpec {

  test("scopedStreams: the caller's listeners hear the clone's stream, and " +
      "the clone's listener bus is detached afterwards") {
    val progress = new AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.incrementAndGet()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    def busesHearing(): Int = spark.sparkContext.listenerBus
      .findListenersByClass[StreamingQueryListenerBus]()
      .count(_.listeners.contains(listener))
    val src = tmpDir("graft_bridge_src")
    spark.range(100).write.mode("overwrite").parquet(src)
    spark.streams.addListener(listener)
    try {
      GraftBridge.scopedStreams(spark) { c =>
        c.readStream.schema(spark.read.parquet(src).schema).parquet(src)
          .writeStream.format("noop").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", tmpDir("graft_bridge_ckpt"))
          .start().awaitTermination()
        assert(busesHearing() == 2, "the clone's bus must carry the listener")
      }
      assert(progress.get > 0, "the caller's listener heard no progress")
      assert(busesHearing() == 1, "the clone's streaming bus stayed attached")
    } finally spark.streams.removeListener(listener)
  }

  test("scopedStreams: three runs of a stream key leave the context's " +
      "streaming listener buses as they were") {
    def buses(): Int = spark.sparkContext.listenerBus
      .findListenersByClass[StreamingQueryListenerBus]().size
    spark.streams // the caller's own bus exists before the first count
    val before = buses()
    (1 to 3).foreach { _ =>
      graft.SparkEntry.queries("stream_dedup_stateful")(spark, sf).collect()
    }
    assert(buses() == before, "a stream run left a listener bus attached")
  }
}
