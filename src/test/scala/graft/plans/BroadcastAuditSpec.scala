package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** The broadcast build-size guard (r15 verdict #2): the star-join study
  * measured that a pruning-discounted dim rides BroadcastHashJoin past
  * the configured threshold because Spark's decision reads the ESTIMATE
  * while the build's true size does not shrink with pruned columns.
  * BroadcastAudit reads the one number the estimate cannot fake — the
  * executed exchange's dataSize metric — so these tests pin (a) that an
  * oversize build IS flagged, (b) that in-bound builds and a disabled
  * threshold audit clean, and (c) the deployment-gate form over the
  * engine's own broadcast-heavy keys. */
class BroadcastAuditSpec extends SparkSpec {
  import spark.implicits._

  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, old)
  }

  test("a build whose ACTUAL size exceeds k x threshold is flagged") {
    // the production shape: an explicit broadcast (or a discounted
    // estimate) carries a build far past the bound — 4000 rows of
    // 64-char strings serialize to ~300 KB, the scoped threshold is
    // 4 KB, so actual > 4x threshold by a wide margin
    withThreshold("4KB") {
      val dim = (1L to 4000L).map(i => (i, "x" * 64)).toDF("k", "payload")
      val fact = (1L to 10000L).map(i => (i % 4000L, i)).toDF("k", "v")
      val df = fact.join(broadcast(dim), "k")
      df.collect() // collect, not count: the audit reads THIS df's executed plan
      val v = BroadcastAudit.violations(df, k = 4.0)
      assert(v.nonEmpty, "oversize broadcast build was not flagged")
      assert(v.head.desc.contains("payload"),
        s"violation should identify the dim: ${v.head}")
      assert(v.head.rows == 4000L, s"build row metric: ${v.head}")
      assert(v.head.bytes > 4 * 4096L, s"build byte metric: ${v.head}")
    }
  }

  test("in-bound builds audit clean; the build inventory is still " +
      "reported") {
    val dim = (1L to 50L).map(i => (i, s"n$i")).toDF("k", "name")
    val fact = (1L to 5000L).map(i => (i % 50L, i)).toDF("k", "v")
    val df = fact.join(broadcast(dim), "k")
    df.collect()
    assert(BroadcastAudit.violations(df).isEmpty)
    val builds = BroadcastAudit.buildSides(df)
    assert(builds.size == 1, s"expected one build, got $builds")
    assert(builds.head.rows == 50L && builds.head.bytes > 0L,
      s"metrics not populated: ${builds.head}")
  }

  test("threshold -1 (auto-broadcast disabled) audits clean by contract") {
    // with auto-broadcast off every broadcast is an explicit hint the
    // caller owns; the gate has no bound to compare against
    withThreshold("-1") {
      val dim = (1L to 2000L).map(i => (i, "y" * 64)).toDF("k", "p")
      val fact = (1L to 4000L).map(i => (i % 2000L, i)).toDF("k", "v")
      val df = fact.join(broadcast(dim), "k")
      df.collect()
      assert(BroadcastAudit.thresholdBytes(spark) == -1L)
      assert(BroadcastAudit.violations(df).isEmpty)
    }
  }

  test("a reused exchange counts as ONE build, not two") {
    val dim = (1L to 100L).map(i => (i, s"d$i")).toDF("k", "name")
      .localCheckpoint()
    val fact = (1L to 2000L).map(i => (i % 100L, i)).toDF("k", "v")
    // the same broadcast dim joined twice in one plan — Catalyst/AQE
    // reuses the exchange; the audit must not double-count the build
    val df = fact.join(broadcast(dim), "k")
      .unionByName(fact.join(broadcast(dim), "k"))
    df.collect()
    val builds = BroadcastAudit.buildSides(df)
    assert(builds.size <= 2, s"reused exchange double-counted: $builds")
    assert(builds.forall(_.rows == 100L), s"$builds")
  }

  test("the always-on listener records an oversize build and stays " +
      "silent on in-bound ones") {
    val listener = BroadcastAudit.install(spark, k = 4.0)
    try {
      withThreshold("4KB") {
        val dim = (1L to 4000L).map(i => (i, "z" * 64)).toDF("k", "payload")
        val fact = (1L to 8000L).map(i => (i % 4000L, i)).toDF("k", "v")
        fact.join(broadcast(dim), "k").collect()
        // listener delivery is async AND the audit reads the session's
        // CURRENT threshold (it is a live monitor, not a plan-time
        // capture) — drain while the scoped threshold is still in force
        GraftBridge.drainListeners(spark)
      }
      val v = listener.violations
      assert(v.nonEmpty, "listener never recorded the oversize build")
      assert(v.forall(_._2.desc.contains("payload")),
        s"only the oversize dim should be recorded: $v")
      assert(v.forall(_._2.rows == 4000L), s"$v")
      // a clean query through the same listener must add nothing
      val smallDim = (1L to 20L).map(i => (i, s"s$i")).toDF("k", "name")
      val smallFact = (1L to 200L).map(i => (i % 20L, i)).toDF("k", "v")
      smallFact.join(broadcast(smallDim), "k").collect()
      GraftBridge.drainListeners(spark) // every build so far has been heard
      assert(listener.violations.size == v.size,
        s"the in-bound build was wrongly recorded: ${listener.violations}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("deployment gate: the engine's broadcast-heavy keys build within " +
      "bounds at gate scale") {
    // the board-wide form of the guard — any key that ships a build side
    // whose TRUE size exceeds 2x the threshold fails here (at gate scale
    // everything is small, so a failure means a key planted an explicit
    // oversize broadcast; the x64 staged measurement lives in the
    // Scaling harness + SCALING.md). k = 2.0 since r17: the estimate is
    // calibrated to actual bytes (GraftSession.FileCompressionFactor),
    // so the worst in-engine build rides at ~1× the threshold and the
    // gate has real room to fire — r16's k = 4.0 sat just above the
    // then-worst 3.93× point and could never trip on the shipped tree.
    for (name <- Seq("join_broadcast_dim", "join_multiway",
        "etl_dim_asof_join", "join_inner_equi")) {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      df.collect() // collect, not count: the audit reads THIS df's executed plan
      val v = BroadcastAudit.violations(df, k = 2.0)
      assert(v.isEmpty, s"$name ships an oversize broadcast build: $v")
    }
  }
}
