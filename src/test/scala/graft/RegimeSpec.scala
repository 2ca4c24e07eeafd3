package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import graft.queries.{Regime, Registry}
import graft.warehouse.View
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The two execution regimes of registered queries (see [[Regime]]): a
  * query whose leaves fit under the broadcast threshold runs in a clone of
  * the caller with AQE off and one shuffle partition; any other runs as
  * planned on the caller. */
class RegimeSpec extends SparkSuite {
  private val referenceSurface = Registry.all.map(_.name)
    .filter(_.matches("(q(0[1-9]|1[01])|r0[1-9]|p0[1-8]|s0[1-6])_.*"))

  private def adaptive(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  test("the 34 reference-surface queries return the same rows in both regimes at sf0.001") {
    assert(referenceSurface.size === 34)
    for (q <- Registry.all if referenceSurface.contains(q.name)) {
      val small = Regime.small(q.fn(spark, Sf))
      assert(!(small.sparkSession eq spark) && !adaptive(small), q.name)
      // `fn` bypasses the wrapper: the frame as planned on the caller.
      assert(rows(small) === rows(q.fn(spark, Sf)), q.name)
    }
  }

  test("jobs per call at sf0.001 in the small regime (under AQE: r03 4, r04 9, r08 4, p02 7)") {
    val pinned = Seq("r03_peak_order_days" -> 1, "r04_top_categories_by_nation" -> 5,
      "r08_geo_rollup" -> 1, "p02_rewards_report" -> 3)
    View.dw(spark, Sf).count()
    // A first call opens tables and infers their schemas; the pins count
    // a memo-cold call after that, as Bench's reruns do.
    pinned.foreach { case (n, _) => Registry.queryMap(n)(spark, Sf).collect() }
    for ((name, jobs) <- pinned) {
      ops.Ckpt.clearAll(spark)
      val df = Registry.queryMap(name)(spark, Sf)
      assert(Regime.of(df).exists(_.small), name)
      assert(jobsOf(df.collect()) === jobs, name)
    }
  }

  test("a frame under autoBroadcastJoinThreshold = -1 keeps AQE; a small frame has none") {
    val name = "r04_top_categories_by_nation"
    val small = Registry.queryMap(name)(spark, Sf)
    assert(Regime.of(small).exists(_.small))
    assert(!adaptive(small))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val large = Registry.queryMap(name)(spark, Sf)
      assert(Regime.of(large).exists(!_.small))
      assert(large.sparkSession eq spark)
      assert(adaptive(large))
    }
  }

  test("a setting the caller changes through withConf is in effect when a small frame runs") {
    // The literal's instant is fixed; toJSON formats it at run time in
    // the time zone of the session the frame runs in.
    def stamp(): (SparkSession, String) = {
      val df = Regime(spark.sql("SELECT TIMESTAMP '2024-01-01 00:00:00 UTC' AS t"))
      assert(Regime.of(df).exists(_.small))
      (df.sparkSession, df.toJSON.first())
    }
    val (utcSession, utc) = stamp()
    assert(utc.contains("2024-01-01T00:00:00.000Z"), utc)
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      val (laSession, la) = stamp()
      assert(la.contains("2023-12-31T16:00:00.000-08:00"), la)
      assert(laSession.conf.get("spark.sql.session.timeZone") === "America/Los_Angeles")
      assert(laSession.conf.get("spark.sql.adaptive.enabled") === "false")
    }
    val (again, utcAgain) = stamp()
    assert(utcAgain === utc)
    assert(again.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(utcSession.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("four threads wrapping queries at once share one clone per caller") {
    val names = referenceSurface.take(4)
    View.dw(spark, Sf).count()
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    // A setting no earlier test made, so the four calls race to make the
    // clone for it.
    try withConf("spark.sql.codegen.maxFields" -> "99") {
      val calls = names.map { n =>
        pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = { start.await(); Registry.queryMap(n)(spark, Sf) }
        })
      }
      start.countDown()
      val frames = calls.map(_.get(5, TimeUnit.MINUTES))
      frames.foreach(df => assert(Regime.of(df).exists(_.small)))
      val sessions = frames.map(_.sparkSession)
      assert(sessions.forall(_ eq sessions.head), "the threads made more than one clone")
      assert(!(sessions.head eq spark))
      assert(Registry.queryMap(names.head)(spark, Sf).sparkSession eq sessions.head)
    } finally pool.shutdown()
  }
}
