package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{StreamingQueryListenerBus, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Minimal bridge into `private[sql]` API: converts between the public
  * `Column` and catalyst `Expression` so graft's native expressions (e.g.
  * graft.functions.RollingHash) can be exposed as Columns, and gives query
  * functions a private session scope. Lives in the org.apache.spark.sql
  * package solely for access; no Spark internals are modified. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function builder on a LIVE session (the config-time path is
    * `spark.sql.extensions=graft.GraftExtensions`). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A private copy of `s`, where a query function sets a conf or names a
    * view: the same conf, temp views, functions and, unlike `newSession`,
    * `QueryExecutionListener`s (BroadcastAudit keeps hearing it). */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `plan` as a frame of session `s`. */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** Runs `body` on a clone of `s` and rebinds the frame it returns to `s`. */
  def scoped(s: SparkSession)(body: SparkSession => Dataset[_]): DataFrame =
    ofRows(s, body(cloneSession(s)).queryExecution.analyzed)

  /** Runs `body`, which starts and awaits streams, on a clone of `s` that
    * carries `s`'s streaming listeners. Spark attaches a streaming listener
    * bus to the context for every session that starts a stream, and for
    * the session each stream runs on (`StreamExecution`'s own clone), and
    * never detaches them; once the clone's streams' last events are heard,
    * this detaches both kinds. */
  def scopedStreams[T](s: SparkSession)(body: SparkSession => T): T = {
    val clone = cloneSession(s)
    s.streams.listListeners().foreach(clone.streams.addListener)
    // added last: hears each event after the rest
    val tail = new StreamsTail(clone)
    clone.streams.addListener(tail)
    try body(clone)
    finally {
      tail.awaitIdle(timeoutMs = 10000)
      // the tail marks every bus to detach
      tail.streamSessions.foreach(_.streams.addListener(tail))
      val bus = s.sparkContext.listenerBus
      bus.findListenersByClass[StreamingQueryListenerBus]()
        .filter(_.listeners.contains(tail)).foreach(bus.removeListener)
    }
  }

  /** Counts the running streams of `s`, and keeps the session each of them
    * runs on. A started event is heard on the stream's thread before
    * `start()` returns, while the query is active; a terminated event,
    * asynchronously, after the stream's last progress event. */
  private final class StreamsTail(s: SparkSession)
      extends StreamingQueryListener {
    private var running = 0
    private var sessions = List.empty[SparkSession]
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      val own = Option(s.streams.get(e.id)).collect {
        case q: StreamingQueryWrapper => q.streamingQuery.sparkSessionForStream
      }
      synchronized { running += 1; sessions = own.toList ++ sessions }
    }
    def streamSessions: List[SparkSession] = synchronized(sessions)
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      synchronized { running -= 1; notifyAll() }
    def awaitIdle(timeoutMs: Long): Unit = synchronized {
      val deadline = System.currentTimeMillis + timeoutMs
      while (running > 0 && System.currentTimeMillis < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis))
    }
  }

  /** Block until every event posted so far has reached every listener. */
  def drainListeners(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()
}
