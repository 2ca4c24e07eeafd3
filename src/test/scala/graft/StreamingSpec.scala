package graft

import graft.streaming.Streams
import graft.streaming.Streams.{Event, UserClv}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming specs driven through MemoryStream — the streaming
  * plans are the real ones; only the source/sink are test harness.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long, v: Double) =
    Event(id, java.sql.Timestamp.valueOf(t), user, "click", v)

  test("windowed rollup aggregates per hour and event type") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Event]
    src.addData(
      ev(1, "2024-01-01 00:10:00", 1, 10.0),
      ev(2, "2024-01-01 00:20:00", 2, 5.0),
      ev(3, "2024-01-01 01:05:00", 1, 2.5))
    val out = Streams.runToMemory(spark,
      Streams.windowedRollup(src.toDF()), "rollup_test")
    val rows = out.orderBy("window_start")
      .select("n_events", "total_value").as[(Long, Double)].collect()
    assert(rows.toSeq === Seq((2L, 15.0), (1L, 2.5)))
  }

  test("session windows merge within gap, split across it, and merge across micro-batches") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.sessionRollup(src.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("session_test").outputMode("complete").start()
    // user 1: 10-min gap (same session) then 40-min gap (new session);
    // user 2: two isolated events; user 3: split across micro-batches but
    // within the gap — must merge into ONE session.
    src.addData(
      ev(1, "2024-01-01 00:00:00", 1, 1.0),
      ev(2, "2024-01-01 00:10:00", 1, 2.0),
      ev(3, "2024-01-01 00:50:00", 1, 4.0),
      ev(4, "2024-01-01 00:00:00", 2, 8.0),
      ev(5, "2024-01-01 01:00:00", 2, 16.0),
      ev(6, "2024-01-01 00:00:00", 3, 32.0))
    q.processAllAvailable()
    src.addData(ev(7, "2024-01-01 00:20:00", 3, 64.0))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("session_test")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"), col("session_value"))
      .as[(Long, String, String, Long, Double)].collect().toSet
    assert(sessions === Set(
      (1L, "2024-01-01 00:00:00", "2024-01-01 00:40:00", 2L, 3.0),
      (1L, "2024-01-01 00:50:00", "2024-01-01 01:20:00", 1L, 4.0),
      (2L, "2024-01-01 00:00:00", "2024-01-01 00:30:00", 1L, 8.0),
      (2L, "2024-01-01 01:00:00", "2024-01-01 01:30:00", 1L, 16.0),
      (3L, "2024-01-01 00:00:00", "2024-01-01 00:50:00", 2L, 96.0)))
    // Batch equivalence: per-user session counts match the LAG-based
    // batch sessionization (x15's shape) on the same rows.
    val batchCounts = sessions.groupBy(_._1).view.mapValues(_.size).toMap
    assert(batchCounts === Map(1L -> 2, 2L -> 2, 3L -> 1))
  }

  test("dedupStream keeps first occurrence per key across micro-batches, equals batch distinct") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.dedupStream(src.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    // event_id 1 arrives three times (twice in batch one, once in batch
    // two — the redelivery shapes an at-least-once source produces);
    // event_id 2 once. The stream must emit each key exactly once.
    src.addData(
      ev(1, "2024-01-01 00:10:00", 1, 10.0),
      ev(1, "2024-01-01 00:10:00", 1, 10.0),
      ev(2, "2024-01-01 00:20:00", 2, 5.0))
    q.processAllAvailable()
    src.addData(ev(1, "2024-01-01 00:10:00", 1, 10.0),
      ev(3, "2024-01-01 00:25:00", 3, 7.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dedup_stream_test")
      .select("event_id", "value").as[(Long, Double)].collect().sorted.toSeq
    // Batch equivalence: dropDuplicates over the full delivered multiset.
    assert(streamed === Seq((1L, 10.0), (2L, 5.0), (3L, 7.0)),
      s"stream must equal batch distinct, got $streamed")
  }

  test("stateless corpus ops (chunk, stratified sample) run unchanged on a stream") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(Long, String, String)]
    src.addData((1L, "a b c d e f", "keep"), (2L, "x y", "drop"))
    def docs = src.toDF().toDF("doc_id", "text", "source")
    // The SAME operator builders used by the batch queries, applied to a
    // streaming frame: pure projections/filters are streaming-safe by
    // construction (no aggregation state, append mode).
    val chunkRows = Streams.runToMemory(spark,
      graft.ext.Pipeline.chunk(docs, chunkSize = 4, stride = 4), "chunk_stream", "append")
      .select("doc_id", "chunk_idx", "chunk_text")
      .as[(Long, Long, String)].collect().toSet
    assert(chunkRows === Set((1L, 0L, "a b c d"), (1L, 1L, "e f"), (2L, 0L, "x y")))
    val sampleRows = Streams.runToMemory(spark,
      graft.ext.Pipeline.stratifiedSample(docs, "doc_id",
        when(col("source") === "keep", 1.0).otherwise(0.0)),
      "sample_stream", "append")
      .select("doc_id").as[Long].collect().toSet
    assert(sampleRows === Set(1L))
  }

  test("stateful running CLV accumulates across micro-batches") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.runningClv(spark, src.toDS())
      .writeStream.format("memory").queryName("clv_test").outputMode("append").start()
    src.addData(ev(1, "2024-01-01 00:00:00", 7, 10.0))
    q.processAllAvailable()
    src.addData(ev(2, "2024-01-01 00:05:00", 7, 4.0), ev(3, "2024-01-01 00:06:00", 8, 1.0))
    q.processAllAvailable()
    q.stop()
    val states = spark.table("clv_test").as[UserClv].collect()
      .groupBy(_.user_id).map { case (u, rows) => u -> rows.maxBy(_.n_events) }
    assert(states(7L).n_events === 2 && states(7L).total_value === 14.0)
    assert(states(8L).n_events === 1 && states(8L).total_value === 1.0)
  }

  test("streaming upsert sink: target table converges to latest row per key across batches") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-").toString
    val target = s"$dir/users"
    val src = MemoryStream[Event]
    val q = Streams.upsertSink(spark,
      src.toDF().select(col("user_id"), col("ts"), col("value")),
      keys = Seq("user_id"), orderCol = "ts", targetPath = target)
    // Batch 1: two users; user 7 appears twice -> within-batch latest wins.
    src.addData(
      ev(1, "2024-01-01 00:00:00", 7, 10.0),
      ev(2, "2024-01-01 00:05:00", 7, 20.0),
      ev(3, "2024-01-01 00:01:00", 8, 1.0))
    q.processAllAvailable()
    // Batch 2: update user 8, insert user 9.
    src.addData(
      ev(4, "2024-01-01 01:00:00", 8, 99.0),
      ev(5, "2024-01-01 01:01:00", 9, 5.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(target)
      .select("user_id", "value").as[(Long, Double)].collect().toMap
    assert(rows === Map(7L -> 20.0, 8L -> 99.0, 9L -> 5.0))
  }

  test("commitSwap leaves a complete table at every crash instant; readLivePath recovers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swap-").toString
    val target = s"$dir/t"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(target), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // First commit: tmp -> target.
    Seq((1L, "a")).toDF("k", "v").write.parquet(target + "_tmp")
    Streams.commitSwap(fs, target, "test")
    assert(spark.read.parquet(target).count() === 1L)
    assert(!fs.exists(p(target + "_tmp")) && !fs.exists(p(target + "_bak")))
    // Simulate a crash BETWEEN phases 2 and 3 of the next commit: the
    // target was renamed to _bak and the process died before the new
    // table landed — the window the old delete-then-rename lost data in.
    assert(fs.rename(p(target), p(target + "_bak")))
    assert(Streams.readLivePath(fs, target) === Some(target + "_bak"),
      "reader must fall back to the bak copy")
    // Next batch self-heals: merge from the live copy, commit normally.
    val live = spark.read.parquet(Streams.readLivePath(fs, target).get)
    live.union(Seq((2L, "b")).toDF("k", "v")).write.parquet(target + "_tmp")
    Streams.commitSwap(fs, target, "test")
    assert(spark.read.parquet(target).select("k").as[Long].collect().sorted
      === Array(1L, 2L))
    assert(!fs.exists(p(target + "_bak")), "committed bak must be dropped")
  }

  test("upsert sink self-heals a torn commit (target absent, bak live)") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-heal-").toString
    val target = s"$dir/users"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(target), spark.sparkContext.hadoopConfiguration)
    val src = MemoryStream[Event]
    val q = Streams.upsertSink(spark,
      src.toDF().select(col("user_id"), col("ts"), col("value")),
      keys = Seq("user_id"), orderCol = "ts", targetPath = target)
    src.addData(ev(1, "2024-01-01 00:00:00", 7, 10.0))
    q.processAllAvailable()
    // Crash window: target renamed to bak, new table never landed.
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + "_bak")))
    src.addData(ev(2, "2024-01-01 01:00:00", 8, 5.0))
    q.processAllAvailable()
    q.stop()
    // The batch merged against the bak copy — nothing lost.
    assert(spark.read.parquet(target)
      .select("user_id", "value").as[(Long, Double)].collect().toMap
      === Map(7L -> 10.0, 8L -> 5.0))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(target + "_bak")))
  }

  test("streaming changelog sink applies inserts, updates, AND deletes; within-batch latest action wins") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-").toString
    val target = s"$dir/table"
    val src = MemoryStream[(Long, Long, String, Double)] // (seq, key, action, value)
    val q = Streams.changelogSink(spark,
      src.toDF().toDF("seq", "k", "action", "v"),
      keys = Seq("k"), orderCol = "seq", targetPath = target)
    // Batch 1: insert k1, k2; k3 inserted then deleted IN the same batch
    // — the latest action must win, so k3 never lands.
    src.addData((1L, 1L, "insert", 10.0), (2L, 2L, "insert", 20.0),
      (3L, 3L, "insert", 30.0), (4L, 3L, "delete", 0.0))
    q.processAllAvailable()
    assert(spark.read.parquet(target).select("k", "v").as[(Long, Double)]
      .collect().toMap === Map(1L -> 10.0, 2L -> 20.0))
    // Batch 2: update k1, delete k2, insert k4.
    src.addData((5L, 1L, "update", 11.0), (6L, 2L, "delete", 0.0),
      (7L, 4L, "insert", 40.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(target).select("k", "v").as[(Long, Double)]
      .collect().toMap === Map(1L -> 11.0, 4L -> 40.0))
  }

  test("Reconcile.changelog drives the streaming CDC apply sink: the " +
    "classified verdicts (verdict -> action, images carried) converge " +
    "a bootstrapped replica to the reference through changelogSink") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-clapply-").toString
    val target = s"$dir/table"
    // Reference a and a replica b diverged three ways: one payload
    // mutated (-> update), one row lost (-> insert), one spurious row
    // (-> delete) — the same scenario the batch roundtrip (x248) gates.
    val aRows = (0L until 30L).map(k => (k, s"g${k % 3}", s"v$k"))
    val bRows = aRows.map { case r @ (k, g, _) =>
      if (k == 7L) (k, g, "MUTATED") else r
    }.filterNot(_._1 == 23L) :+ ((999L, "gX", "vX"))
    def df(rows: Seq[(Long, String, String)]) = rows.toDF("k", "g", "v")
    val src = MemoryStream[(Long, Long, String, String, String)]
    val q = Streams.changelogSink(spark,
      src.toDF().toDF("seq", "k", "action", "g", "v"),
      keys = Seq("k"), orderCol = "seq", targetPath = target)
    try {
      // Batch 1 bootstraps the replica state as an all-insert changelog.
      src.addData(bRows.map { case (k, g, v) => (0L, k, "insert", g, v) }: _*)
      q.processAllAvailable()
      assert(spark.read.parquet(target).count() === bRows.length.toLong)
      // Batch 2 IS the reconciliation changelog, verbatim (verdict
      // renamed to the sink's action column; deletes carry NULL images,
      // which the sink never reads).
      val cl = graft.ops.Reconcile.changelog(df(aRows), df(bRows),
          Seq("k"), Seq("g", "v"), nBuckets = 8)
        .collect().map(r => (1L, r.getAs[Long]("k"),
          r.getAs[String]("verdict"), r.getAs[String]("g"),
          r.getAs[String]("v")))
      assert(cl.map(_._3).sorted.toSeq === Seq("delete", "insert", "update"))
      src.addData(cl.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(target).select("k", "g", "v")
      .as[(Long, String, String)].collect().toSet === aRows.toSet,
      "applying the reconciliation changelog through the streaming sink " +
        "must converge the replica to the reference")
  }

  test("streaming incremental rollup equals a full recompute after every batch") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-incagg-").toString
    val target = s"$dir/rollup"
    // Both-images changelog stream: (grp, action, old_p, new_p).
    val src = MemoryStream[(Long, String, Option[Double], Option[Double])]
    val q = Streams.incrementalAggSink(spark,
      src.toDF().toDF("grp", "action", "old_d", "new_d")
        .select(col("grp"), col("action"),
          queries.money(col("old_d")).as("old_p"),
          queries.money(col("new_d")).as("new_p")),
      "grp", "old_p", "new_p", target)
    def rollup = spark.read.parquet(target)
      .select(col("grp"), col("n"), col("total").cast("double"))
      .as[(Long, Long, Double)].collect()
      .map { case (g, n, t) => g -> ((n, t)) }.toMap

    // Batch 1: two groups arrive.
    src.addData((10L, "insert", None, Some(5.0)), (10L, "insert", None, Some(7.0)),
      (20L, "insert", None, Some(9.0)))
    q.processAllAvailable()
    assert(rollup === Map(10L -> ((2L, 12.0)), 20L -> ((1L, 9.0))))
    // Batch 2: update one row of group 10 (5.0 -> 6.5), delete group 20's
    // only row (the group must vanish), open group 30.
    src.addData((10L, "update", Some(5.0), Some(6.5)),
      (20L, "delete", Some(9.0), None),
      (30L, "insert", None, Some(1.25)))
    q.processAllAvailable()
    q.stop()
    assert(rollup === Map(10L -> ((2L, 13.5)), 30L -> ((1L, 1.25))))

    // Replay idempotence: delta application is additive, so like the
    // grid/checksum folds a redelivered batchId must be SKIPPED — a
    // re-applied update would double-shift the rollup.
    def mkBatch(rows: (Long, String, Option[Double], Option[Double])*) =
      rows.toDF("grp", "action", "old_d", "new_d")
        .select(col("grp"), col("action"),
          queries.money(col("old_d")).as("old_p"),
          queries.money(col("new_d")).as("new_p"))
    val before = rollup
    assert(!Streams.incrementalAggFold(
      mkBatch((10L, "update", Some(5.0), Some(6.5))), 1L,
      "grp", "old_p", "new_p", target),
      "replayed batchId must be skipped")
    assert(rollup === before, "a replayed micro-batch must not re-shift")
    assert(!Streams.incrementalAggFold(mkBatch(), 99L,
      "grp", "old_p", "new_p", target), "empty batch must be a no-op")
    assert(Streams.incrementalAggFold(
      mkBatch((30L, "update", Some(1.25), Some(2.25))), 2L,
      "grp", "old_p", "new_p", target), "a new batchId must apply")
    assert(rollup === Map(10L -> ((2L, 13.5)), 30L -> ((1L, 2.25))))
  }

  test("streaming SCD-2 sink: history equals sequential batch scd2 application") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2-").toString
    val target = s"$dir/segments"
    val src = MemoryStream[Event]
    // value stands in for the payload (segment); ts orders within-batch
    // duplicates and dates the batch's effective day.
    val q = Streams.scd2Sink(spark,
      src.toDF().select(col("user_id"), col("ts"), col("value").cast("string").as("seg")),
      key = "user_id", payload = Seq("seg"), orderCol = "ts", effDateCol = "ts",
      targetPath = target)
    // Batch 1 (bootstrap, all open at 2024-01-01): user 7 twice — latest
    // wins; user 8 once.
    src.addData(
      ev(1, "2024-01-01 00:00:00", 7, 10.0),
      ev(2, "2024-01-01 00:05:00", 7, 20.0),
      ev(3, "2024-01-01 00:01:00", 8, 1.0))
    q.processAllAvailable()
    // Batch 2 (2024-02-01): user 7 changes (close+reopen), user 8 same
    // payload (no-op), user 9 new (open).
    src.addData(
      ev(4, "2024-02-01 01:00:00", 7, 30.0),
      ev(5, "2024-02-01 01:01:00", 8, 1.0),
      ev(6, "2024-02-01 01:02:00", 9, 5.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(target)
      .select("user_id", "seg", "valid_from", "valid_to")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    // The batch twin: bootstrap + one scd2 application of batch 2's rows.
    val boot = Seq((7L, "20.0", "2024-01-01", null.asInstanceOf[String]),
      (8L, "1.0", "2024-01-01", null.asInstanceOf[String]))
      .toDF("user_id", "seg", "valid_from", "valid_to")
    val batch2 = Seq((7L, "30.0"), (8L, "1.0"), (9L, "5.0")).toDF("user_id", "seg")
    val expected = graft.ops.Upsert.scd2(boot, batch2, "user_id", Seq("seg"), "2024-02-01")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(streamed === expected)
    assert(streamed === Set(
      (7L, "20.0", "2024-01-01", "2024-02-01"),
      (7L, "30.0", "2024-02-01", null),
      (8L, "1.0", "2024-01-01", null),
      (9L, "5.0", "2024-02-01", null)))
  }

  test("stream-stream interval join attributes purchases to recent clicks only") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Event]
    src.addData(
      Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", 0.0),
      Event(2, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 1, "purchase", 50.0), // within 30m of click
      Event(3, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 1, "purchase", 70.0), // no recent click
      Event(4, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 2, "purchase", 9.0))  // other user, no click
    val out = Streams.runToMemory(spark,
      Streams.clickAttribution(src.toDF(), 30), "attr_test", "append")
    val rows = out.select("user_id", "value").as[(Long, Double)].collect()
    assert(rows.toSeq === Seq((1L, 50.0)))
  }

  test("revenueSummaryStream converges to the batch view exactly (money to the bit)") {
    implicit val sc = spark.sqlContext
    val t = graft.io.Tables(spark, Sf)
    val orders = t.orders.select("o_orderkey", "o_custkey", "o_orderdate")
      .as[(Long, Long, java.sql.Timestamp)].collect()
    val items = t.lineitem
      .select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount", "l_shipdate")
      .as[(Long, Long, Double, Double, java.sql.Timestamp)].collect()

    val ordSrc = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val itmSrc = MemoryStream[(Long, Long, Double, Double, java.sql.Timestamp)]
    val updates = Streams.revenueSummaryStream(spark,
      ordSrc.toDF().toDF("o_orderkey", "o_custkey", "o_orderdate")
        .select("o_custkey", "o_orderdate"),
      itmSrc.toDF().toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_discount", "l_shipdate"),
      t.orders, t.part)
    val target = java.nio.file.Files.createTempDirectory("graft-crs-").toString + "/state"
    val q = Streams.upsertSink(spark, updates.toDF(),
      keys = Seq("customer_id"), orderCol = "version", targetPath = target)

    // Two uneven halves so customers' orders and items straddle
    // micro-batches: state must merge increments, not see whole groups.
    val (o1, o2) = orders.splitAt(orders.length / 3)
    val (i1, i2) = items.splitAt(2 * items.length / 3)
    ordSrc.addData(o1.toSeq); itmSrc.addData(i1.toSeq)
    q.processAllAvailable()
    ordSrc.addData(o2.toSeq); itmSrc.addData(i2.toSeq)
    q.processAllAvailable()
    q.stop()

    val geo = t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name").as("customer_name"),
        col("c_mktsegment").as("segment"),
        col("n_name").as("nation"), col("r_name").as("region"))
    // Dates canonicalize to strings: the parquet tables read as
    // TIMESTAMP_NTZ while the stream state emits TIMESTAMP — same
    // instants (UTC session), different JVM classes on collect.
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("customer_id"), col("customer_name"), col("segment"),
        col("nation"), col("region"), col("total_orders"), col("total_items"),
        col("total_revenue"), col("avg_order_value"), col("total_late_fees"),
        col("first_order_date").cast("string").as("first_order_date"),
        col("last_order_date").cast("string").as("last_order_date"),
        col("n_categories"), col("top_category"))
      .orderBy("customer_id").collect().map(_.toSeq)
    val streamView = canon(spark.read.parquet(target)
      .filter(col("total_orders") > 0 && col("total_items") > 0)
      .join(geo, col("customer_id") === col("c_custkey")))
    val batchView = canon(graft.warehouse.View.dw(spark, Sf))
    assert(streamView.length === batchView.length)
    // EXACT equality, doubles included — the scale-4-long state replays
    // the batch view's decimal-before-sum contract bit-for-bit.
    streamView.zip(batchView).foreach { case (s, b) => assert(s === b) }
  }

  test("streaming rollup matches the batch x14 aggregate on the same rows") {
    implicit val sc = spark.sqlContext
    val batch = graft.io.Tables(spark, Sf).events
      .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
    val src = MemoryStream[Event]
    src.addData(batch.collect().toSeq)
    val streamed = Streams.runToMemory(spark,
      Streams.windowedRollup(src.toDF()), "rollup_vs_batch")
      .groupBy().agg(sum("n_events"), sum(col("total_value").cast("decimal(18,4)")))
      .first()
    val expected = graft.io.Tables(spark, Sf).events
      .groupBy().agg(count(lit(1)), sum(col("value").cast("decimal(18,4)")))
      .first()
    assert(streamed.getLong(0) === expected.getLong(0))
    assert(streamed.getDecimal(1).compareTo(expected.getDecimal(1)) === 0)
  }

  test("perceptual screen stream: near-dups flagged at the door across " +
    "micro-batches; redelivery self-matches without re-admission; " +
    "decisions equal the arrival-order batch fold") {
    import graft.ext.Multimodal
    import graft.ext.Multimodal.{RasterImage, dHash56, encodePpm, PpmType}
    implicit val sc = spark.sqlContext
    // The x212 fixture family: base, a single-pixel bump (Hamming 1), an
    // exposure-shifted EXACT perceptual copy (Hamming 0, different
    // bytes), and an unrelated far image.
    def gray(v: Int) = Seq(v, v, v)
    val row0 = Seq(100, 100, 200, 40, 160, 60, 180, 80)
    val rest = (1 until 8).flatMap(y => (0 until 8).map(x => 30 + 20 * x))
    val base = (row0 ++ rest).flatMap(gray).map(_.toByte).toArray
    val bumped = base.clone(); (3 until 6).foreach(i => bumped(i) = (bumped(i) + 24).toByte)
    val shifted = base.map(b => ((b & 0xff) + 15).toByte) // uniform exposure
    val far = base.reverse
    def m(id: Long, rgb: Array[Byte]) =
      (id, PpmType, encodePpm(RasterImage(8, 8, 255, rgb)))
    val batch1 = Seq(m(1, base), m(4, far))
    val batch2 = Seq(m(2, shifted), m(3, bumped), m(1, base)) // incl. redelivery of 1
    val src = MemoryStream[(Long, String, Array[Byte])]
    val q = Streams.perceptualScreenStream(spark,
        src.toDF().toDF("doc_id", "media_type", "content"))
      .writeStream.format("memory").queryName("pscreen").outputMode("append").start()
    src.addData(batch1); q.processAllAvailable()
    src.addData(batch2); q.processAllAvailable()
    q.stop()
    val rows = spark.table("pscreen").as[Streams.ScreenDecision].collect()
    // Doc-level verdict = min (hamming, keeper) over segment rows,
    // self-matches filtered (the documented consumer aggregate).
    def verdict(id: Long): Option[(Int, Long)] = rows.toSeq
      .filter(r => r.doc_id == id && r.hamming >= 0 && r.matched_keeper != id)
      .map(r => (r.hamming, r.matched_keeper)).sorted.headOption
    assert(verdict(1).isEmpty, "first arrival must pass the screen")
    assert(verdict(4).isEmpty, "unrelated image must pass")
    assert(verdict(2) === Some((0, 1L)), "exposure copy flagged at Hamming 0 vs the keeper")
    assert(verdict(3) === Some((1, 1L)), "pixel bump flagged at Hamming 1 vs the keeper")
    // Redelivered doc 1 (second arrival) self-matches and is NOT re-admitted.
    val redelivered = rows.filter(r => r.doc_id == 1 && r.hamming == 0 && r.matched_keeper == 1)
    assert(redelivered.nonEmpty && redelivered.forall(!_.admitted),
      "redelivery must self-match without mutating state")
    // Batch-equivalence law: the decision multiset equals a pure fold
    // over arrival order (batch1 then batch2, doc_id order within each).
    val segBits = 14
    var stored = Map.empty[(Int, Long), List[(Long, Long)]] // bucket -> (dhash, keeper)
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long, Long, Long, Int, Boolean)]
    Seq(batch1, batch2).foreach { b =>
      b.sortBy(_._1).foreach { case (id, _, bytes) =>
        val h = dHash56(Multimodal.decodePpm(bytes))
        (0 until 4).foreach { s =>
          val key = (s, (h >>> (segBits * s)) & ((1L << segBits) - 1))
          val bucket = stored.getOrElse(key, Nil)
          val best = bucket.map { case (eh, k) => (java.lang.Long.bitCount(eh ^ h), k, eh) }
            .filter(_._1 <= 3).sortBy(t => (t._1, t._2)).headOption
          val admitted = !bucket.exists(_._1 == h) && bucket.size < 64
          if (admitted) stored = stored.updated(key, bucket :+ (h, id))
          expected += ((id, s, key._2, h,
            best.map(_._2).getOrElse(-1L), best.map(_._3).getOrElse(-1L),
            best.map(_._1).getOrElse(-1), admitted))
        }
      }
    }
    val got = rows.map(r => (r.doc_id, r.seg_idx, r.seg_key, r.dhash,
      r.matched_keeper, r.matched_dhash, r.hamming, r.admitted)).toSeq
    assert(got.sorted === expected.toSeq.sorted,
      "streaming decisions must equal the arrival-order batch fold")
  }

  test("LSH screen stream: the local signature kernel matches the batch " +
    "DataFrame kernel bit-for-bit on the real corpus, decisions equal " +
    "the arrival-order fold, known near-dups are flagged at the door, " +
    "and redelivery self-matches without re-admission") {
    implicit val sc = spark.sqlContext
    val k = graft.ext.Dedup.MinHashK
    val docs = graft.io.Tables(spark, Sf).documents
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .sortBy(_._1)
    // Anchor 1: minhashLocal == the batch kernel (bands, per doc).
    val batchBands = graft.ext.Dedup.minhashSignatures(
        graft.io.Tables(spark, Sf).documents).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (0 until graft.ext.Dedup.NumBands).map(b => r.getAs[String](s"band$b")))
      .toMap
    docs.take(50).foreach { case (id, text) =>
      assert(Streams.minhashLocal(text)._2.toSeq == batchBands(id),
        s"local kernel drifted from the batch kernel at doc $id")
    }
    // ...including on hostile whitespace, where Java trim/split and
    // Spark trim/split genuinely differ (tabs/newlines survive Spark's
    // space-only trim as empty tokens; trailing empties are kept).
    val hostile = Seq("\thello world", "hello world\n", "  padded  doc  ",
      "one", " ", "a b")
    val hostileBands = graft.ext.Dedup.minhashSignatures(
        hostile.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (0 until graft.ext.Dedup.NumBands).map(b => r.getAs[String](s"band$b")))
      .toMap
    hostile.zipWithIndex.foreach { case (t, i) =>
      assert(Streams.minhashLocal(t)._2.toSeq == hostileBands(i.toLong),
        s"local kernel drifted on hostile whitespace: ${t.map(_.toInt)}")
    }

    // Two ascending micro-batches + a redelivery of the first doc, plus
    // a NULL-text poison row that must drop (the batch kernel's
    // semantics) rather than kill the query.
    val (b1, b2raw) = docs.splitAt(docs.length / 2)
    val b2 = b2raw :+ b1.head :+ ((999999L, null: String))
    val src = MemoryStream[(Long, String)]
    val q = Streams.lshScreenStream(spark,
        src.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lscreen").outputMode("append")
      .start()
    src.addData(b1.toSeq); q.processAllAvailable()
    src.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val rows = spark.table("lscreen").as[Streams.LshScreenDecision].collect()

    // Anchor 2: decisions equal the pure fold over arrival order.
    // rawSignatures is private; the fold recomputes mh from the local
    // kernel, which anchor 1 just proved equal to the DataFrame kernel.
    val sigOf = docs.map { case (id, t) => id -> Streams.minhashLocal(t) }.toMap
    var stored = Map.empty[(Int, String), List[(Array[Long], Long)]]
    val expected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, String, Long, Int, Boolean)]
    Seq(b1, b2).foreach { b =>
      b.sortBy(_._1).foreach { case (id, t) =>
        if (t != null) {
        val (mh, bands) = sigOf(id)
        bands.zipWithIndex.foreach { case (bk, bi) =>
          val bucket = stored.getOrElse((bi, bk), Nil)
          val best = bucket
            .map { case (s, kp) => (s.zip(mh).count(p => p._1 == p._2), kp) }
            .filter(_._1 >= 5)
            .sortBy(t => (-t._1, t._2)).headOption
          val admitted = !bucket.exists(_._1.sameElements(mh)) && bucket.size < 64
          if (admitted) stored = stored.updated((bi, bk), bucket :+ ((mh, id)))
          expected += ((id, bi, bk, best.map(_._2).getOrElse(-1L),
            best.map(_._1).getOrElse(-1), admitted))
        }
        }
      }
    }
    val got = rows.map(r => (r.doc_id, r.band_idx, r.band_key,
      r.matched_keeper, r.agree, r.admitted)).toSeq
    assert(got.sorted == expected.toSeq.sorted,
      "streaming decisions must equal the arrival-order batch fold")
    assert(!rows.exists(_.doc_id == 999999L),
      "the NULL-text poison row must drop, not emit")

    // Non-degeneracy: the corpus has exact duplicates (x05), so the
    // screen must flag real near-dups (agree = k vs a distinct keeper).
    assert(rows.exists(r => r.agree == k && r.matched_keeper != r.doc_id),
      "no near-dup flagged — degenerate screen")
    // Redelivered first doc self-matches at full agreement, not re-admitted.
    val re = rows.filter(r => r.doc_id == b1.head._1 &&
      r.matched_keeper == b1.head._1)
    assert(re.nonEmpty && re.forall(r => r.agree == k && !r.admitted),
      "redelivery must self-match without mutating state")
  }

  test("streaming exact-substring screen equals batch x213 on the union; " +
    "redelivered micro-batch is a fixpoint of index AND report") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-essx-").toString
    val index = s"$dir/gram_index"
    val report = s"$dir/report"
    val span = (1 to 8).map(i => s"dup$i").mkString(" ")
    // Ascending doc_id batches (the ownership-never-moves-backwards
    // precondition of the batch-equivalence anchor).
    val b1 = Seq(
      (1L, s"alpha beta $span gamma delta"),   // owns the span globally
      (2L, s"epsilon $span zeta"),             // loses its repeat to doc 1
      (3L, "one two three four five six seven eight nine ten"))
    val b2 = Seq(
      (4L, s"epsilon $span zeta"),             // full dup of doc 2 -> zero kept
      (5L, s"x $span y $span z"),              // both occurrences removed (2 islands)
      (6L, "totally fresh unique words that duplicate nothing else around"))
    val src = MemoryStream[(Long, String)]
    val q = Streams.exactSubstrScreenStream(spark,
      src.toDF().toDF("doc_id", "text"), index, report)
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val streamed = canon(spark.read.parquet(report)
      .select("doc_id", "n_tokens", "n_kept", "n_removed", "n_spans",
        "cleaned_hash", "skipped"))
    val batch = canon(graft.ext.Dedup.exactSubstringRemoval(
      (b1 ++ b2).toDF("doc_id", "text")))
    assert(streamed === batch,
      "incremental screen must equal batch ExactSubstr on the union corpus")
    // Cross-batch teeth: doc 4 (arrived AFTER the index already owned its
    // every gram) cleans to zero against HISTORY, not within-batch state.
    val byId = spark.read.parquet(report).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(4L).getLong(2) == 0L && byId(4L).isNullAt(5))
    assert(byId(6L).getLong(3) == 0L, "unique doc must survive untouched")
    // Redelivery fixpoint: re-process batch 2 against the updated state —
    // the index (set-minima, not counts) and the report (doc_id upsert)
    // must both be byte-stable.
    val idxBefore = spark.read.parquet(index).collect().map(_.toSeq).toSet
    Streams.exactSubstrScreenBatch(b2.toDF("doc_id", "text"),
      index, report, 8, 1 << 20)
    assert(spark.read.parquet(index).collect().map(_.toSeq).toSet === idxBefore,
      "redelivered batch must not mutate the gram index")
    assert(canon(spark.read.parquet(report)
      .select("doc_id", "n_tokens", "n_kept", "n_removed", "n_spans",
        "cleaned_hash", "skipped")) === batch,
      "redelivered batch must reproduce the identical report")
    // Giant-doc pass-through rides the stream too (tiny cap, fresh state).
    Streams.exactSubstrScreenBatch(
      Seq((9L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text"),
      s"$dir/gi", s"$dir/gr", 8, 8)
    val giant = spark.read.parquet(s"$dir/gr").head()
    assert(giant.getBoolean(6) && giant.getLong(2) == 10L && giant.isNullAt(5),
      "over-limit doc must pass through skipped, never vanish")
  }

  test("a failed exact-substring screen batch frees both scoped checkpoints") {
    // The report's parent is a plain file, so its write fails after the
    // index has committed, with both batch checkpoints live.
    val dir = java.nio.file.Files.createTempDirectory("graft-essf-").toString
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dir/blocker"))
    val batch = Seq((1L, (1 to 12).map(i => s"f$i").mkString(" "))).toDF("doc_id", "text")
    val left = persistedBy(intercept[Exception](
      Streams.exactSubstrScreenBatch(batch, s"$dir/gi", s"$dir/blocker/gr", 8, 1 << 20)))
    assert(new java.io.File(s"$dir/gi").isDirectory, "the index must have committed")
    assert(left.isEmpty, s"a failed batch left RDDs $left persisted")
  }

  test("streaming exact-substring screen is CONSERVATIVE under out-of-order " +
    "arrival: already-ingested docs are never retroactively edited") {
    // The batch-equivalence anchor requires ascending doc_id batches; this
    // pins what happens when that precondition is violated (a lower-id doc
    // arrives AFTER a higher-id one sharing a span): gram ownership moves
    // to the lower id in the INDEX (struct-min semantics), but the
    // higher-id doc's already-written report keeps its span — an ingest
    // screen edits documents only at their own arrival, so out-of-order
    // delivery can only UNDER-remove (both keep the span), never corrupt
    // or over-remove.
    val dir = java.nio.file.Files.createTempDirectory("graft-essxo-").toString
    val span = (1 to 8).map(i => s"o$i").mkString(" ")
    val index = s"$dir/gi"
    val report = s"$dir/gr"
    // Batch 1: doc 10 owns the span at arrival time.
    Streams.exactSubstrScreenBatch(
      Seq((10L, s"head $span tail")).toDF("doc_id", "text"),
      index, report, 8, 1 << 20)
    // Batch 2 (out of order): doc 5 < 10 carries the same span.
    Streams.exactSubstrScreenBatch(
      Seq((5L, s"pre $span post")).toDF("doc_id", "text"),
      index, report, 8, 1 << 20)
    val rows = spark.read.parquet(report).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(5L, 10L))
    // Doc 10's report (written at its own arrival) is untouched.
    assert(rows(10L).getLong(3) == 0L, "already-ingested doc must keep its span")
    // Doc 5 now owns the gram index entries (struct-min), so its own
    // occurrence is first — kept, not removed.
    assert(rows(5L).getLong(3) == 0L, "the new owner keeps the span too")
    // The index reflects the moved ownership: the shared grams now carry
    // k1 = doc 5 with doc 10 demoted to the second-occurrence witness.
    val moved = spark.read.parquet(index)
      .filter(col("k1.doc_id") === 5L && col("k2.doc_id") === 10L).count()
    assert(moved >= 1,
      "shared grams must re-own to the lower doc_id with the higher as k2")
    // The redelivery trap (round-12 review): redeliver doc 10's batch
    // AFTER ownership moved to doc 5. The re-screen computes a DIFFERENT
    // edit this time (doc 10's occurrence is no longer k1), but the
    // insert-only report merge discards it — the committed row is
    // immutable, so at-least-once delivery can never retroactively edit
    // an already-reported document.
    val before10 = rows(10L).toSeq
    Streams.exactSubstrScreenBatch(
      Seq((10L, s"head $span tail")).toDF("doc_id", "text"),
      index, report, 8, 1 << 20)
    val after = spark.read.parquet(report).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(after.keySet == Set(5L, 10L))
    assert(after(10L).toSeq === before10,
      "redelivered batch must not rewrite the committed report row " +
        "even though gram ownership moved under it")
  }

  test("exact-substring index compaction is verdict-neutral and bounds " +
    "the file count (the committed lifecycle policy)") {
    // Two identical 3-batch runs, one compacting the gram index after
    // every batch: compaction is a pure physical rewrite, so index ROWS
    // and screen verdicts must be byte-identical, while the compacted
    // layout collapses per-batch file fragmentation to targetPartitions
    // range-sorted files.
    val dir = java.nio.file.Files.createTempDirectory("graft-essc-").toString
    val span = (1 to 9).map(i => s"c$i").mkString(" ")
    val b1 = Seq((1L, s"alpha $span beta"),
      (2L, "lone wolf text one two three four five"))
    val b2 = Seq((3L, s"$span gamma delta"), (4L, s"prefix $span"))
    val b3 = Seq((5L, span),
      (6L, "six seven eight nine ten eleven twelve thirteen"))
    def run(ix: String, rp: String, compact: Boolean): Unit =
      Seq(b1, b2, b3).foreach { b =>
        Streams.exactSubstrScreenBatch(b.toDF("doc_id", "text"), ix, rp,
          8, 1 << 20)
        if (compact) {
          val m = Streams.compactSubstrIndex(spark, ix, targetPartitions = 2)
            .head()
          // The size metric is real: gram count matches the live index.
          assert(m.getLong(0) === spark.read.parquet(ix).count())
        }
      }
    run(s"$dir/ia", s"$dir/ra", compact = false)
    run(s"$dir/ib", s"$dir/rb", compact = true)
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toSeq).toSet
    assert(rows(s"$dir/ib") === rows(s"$dir/ia"),
      "compaction must not change index rows")
    assert(rows(s"$dir/rb") === rows(s"$dir/ra"),
      "compaction must not change screen verdicts")
    val files = new java.io.File(s"$dir/ib").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 2, s"compacted index carries $files data files")
    // Monotonic-growth metric sanity: duplicated grams exist (the span
    // recurs across batches) and are counted.
    val m = Streams.compactSubstrIndex(spark, s"$dir/ib", 2).head()
    assert(m.getLong(1) > 0L, "duplicated-gram count must be non-zero here")
    assert(Streams.compactSubstrIndex(spark, s"$dir/none").count() === 0L,
      "compacting an absent index is an empty-metric no-op")
  }

  test("bucketed gram-index merge: the catalog-table production shape " +
    "matches the swap-write index row-for-row while partitions untouched " +
    "by a batch keep their files byte-stable") {
    import graft.ext.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-essb-").toString
    val tbl = "gram_index_bkt"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val loc = new java.io.File(s"/tmp/graft-test-warehouse/$tbl")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    val span = (1 to 9).map(i => s"g$i").mkString(" ")
    val batches = Seq(
      Seq((1L, s"alpha $span beta"),
        (2L, "common stem one two three four five six seven eight")),
      Seq((3L, s"$span gamma"), (4L, s"prefix $span")),
      // Batch 3 shares no token with batches 1-2: its single novel gram
      // touches one partition; every other populated partition must
      // keep its files.
      Seq((5L, "eleven twelve thirteen fourteen fifteen sixteen " +
        "seventeen eighteen")))
    def filesByPartition(): Map[String, Set[String]] =
      loc.listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${f.getName}:${f.lastModified()}:${f.length()}").toSet
      }.toMap
    var before: Map[String, Set[String]] = Map.empty
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = b.toDF("doc_id", "text")
      Streams.exactSubstrScreenBatch(df, s"$dir/ix", s"$dir/rp", 8, 1 << 20)
      val idx = spark.read.parquet(s"$dir/ix")
      val bg = Dedup.gramOccurrences(Dedup.tokenLengths(df), 8)
        .select("g").distinct()
      val updated = idx.join(bg, Seq("g"), "left_semi")
      if (i == 2) before = filesByPartition()
      val audit = Streams
        .mergeSubstrIndexPartitioned(spark, updated, tbl, nPartitions = 8)
        .head()
      if (i == 2) {
        val after = filesByPartition()
        val touched = audit.getLong(0)
        assert(touched === 1L, s"batch 3 carries one novel gram: $audit")
        val stable = before.keySet.filter(p => after.get(p).contains(before(p)))
        assert((before.keySet -- stable).size <= touched,
          s"merge rewrote partitions it did not touch: stable=$stable before=${before.keySet}")
        assert(stable.nonEmpty,
          "expected at least one populated partition to keep its files byte-stable")
      }
    }
    // The catalog table (minus its layout column) must equal the local
    // twin's swap-write index exactly — same rows, same minima.
    val tblRows = spark.table(tbl).drop("pb").collect().map(_.toSeq).toSet
    val pqRows = spark.read.parquet(s"$dir/ix").collect().map(_.toSeq).toSet
    assert(tblRows === pqRows,
      "bucketed-table merge diverged from the swap-write index")
  }

  test("kmv cardinality monitor: every micro-batch prefix equals the batch " +
    "sketch of the rows so far; redelivery is a no-op by construction") {
    implicit val sc = spark.sqlContext
    val k = 16
    // 3 sources whose vocabularies overlap and comfortably saturate k=16.
    def doc(id: Long, src: Int) = {
      val words = (0 until 8).map(j => s"w${(id * 3 + j * 7) % 50}_$src")
      (id, s"src$src", words.mkString(" "))
    }
    val all = (0L until 90L).map(i => doc(i, (i % 3).toInt))
    val (b1, rest) = all.splitAt(30)
    val (b2, b3) = rest.splitAt(30)

    val src = MemoryStream[(Long, String, String)]
    val q = Streams.kmvCardinalityStream(spark,
        src.toDF().toDF("doc_id", "source", "text"), k)
      .writeStream.format("memory").queryName("kmv_mon")
      .outputMode("append").start()
    def emitted(): Seq[(String, Long, Double, Long)] =
      spark.table("kmv_mon")
        .as[(String, Long, Double, Long)].collect().toSeq
    def lastPerSource(prev: Seq[(String, Long, Double, Long)]):
        Map[String, (Long, Double)] = {
      // multiset-subtract the previous snapshot: what this round emitted
      val pool = scala.collection.mutable.Buffer(prev: _*)
      emitted().filterNot { r =>
        val i = pool.indexOf(r); if (i >= 0) { pool.remove(i); true } else false
      }.map(r => r._1 -> (r._2, r._3)).toMap
    }
    def batchView(rows: Seq[(Long, String, String)]): Map[String, (Long, Double)] =
      graft.ops.Kmv.cardinalityBySource(
          rows.toDF("doc_id", "source", "text"), k)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2))).toMap

    src.addData(b1: _*); q.processAllAvailable()
    val s1 = emitted()
    assert(s1.map(r => r._1 -> (r._2, r._3)).toMap === batchView(b1),
      "after batch 1 the stream state must equal the batch sketch of b1")
    src.addData(b2: _*); q.processAllAvailable()
    val s2 = emitted()
    assert(lastPerSource(s1) === batchView(b1 ++ b2),
      "after batch 2 the stream must equal the batch sketch of b1+b2")
    src.addData(b3: _*); q.processAllAvailable()
    val s3 = emitted()
    val finalView = lastPerSource(s2)
    assert(finalView === batchView(all),
      "after batch 3 the stream must equal the batch sketch of everything")
    // Saturation reached: the estimator branch (not the exact branch) is
    // what this equivalence exercised.
    assert(finalView.values.forall(_._1 == k.toLong),
      s"sketches must be saturated at k=$k for the estimator branch")
    // Redelivery: re-send batch 2 verbatim. Distinct-insert semantics
    // make the fold a no-op — same n_sketch, same estimate.
    src.addData(b2: _*); q.processAllAvailable()
    assert(lastPerSource(s3) === finalView,
      "redelivered rows must not perturb the sketch")
    q.stop()
  }

  test("cms token stream: every micro-batch prefix equals the batch grid " +
    "cell for cell; redelivery DOUBLE-counts (the honest KMV contrast)") {
    implicit val sc = spark.sqlContext
    val depth = 4
    val width = 64
    def doc(id: Long) = (id, s"src${id % 2}",
      (0 until 6).map(j => s"t${(id * 5 + j * 11) % 40}").mkString(" "))
    val all = (0L until 60L).map(doc)
    val (b1, rest) = all.splitAt(20)
    val (b2, b3) = rest.splitAt(20)

    val src = MemoryStream[(Long, String, String)]
    val q = Streams.cmsTokenStream(spark,
        src.toDF().toDF("doc_id", "source", "text"), depth, width)
      .writeStream.format("memory").queryName("cms_mon")
      .outputMode("append").start()
    // Emitted counts are RUNNING totals, so the latest value per cell is
    // the max — no ordering assumption on the memory sink needed.
    def streamGrid(): Map[(Int, Int), Long] =
      spark.table("cms_mon").groupBy("h", "cell")
        .agg(max(col("count")).as("c"))
        .as[(Int, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    def batchGrid(rows: Seq[(Long, String, String)]): Map[(Int, Int), Long] =
      rows.toDF("doc_id", "source", "text")
        .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
        .select(graft.ext.TextAnalysis.cmsCells(col("tok"), depth, width).as("hc"))
        .groupBy(col("hc.h").as("h"), col("hc.cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("c"))
        .as[(Int, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap

    src.addData(b1: _*); q.processAllAvailable()
    assert(streamGrid() === batchGrid(b1),
      "after batch 1 the state must equal the batch grid of b1")
    src.addData(b2: _*); q.processAllAvailable()
    assert(streamGrid() === batchGrid(b1 ++ b2),
      "after batch 2 the state must equal the batch grid of b1+b2")
    src.addData(b3: _*); q.processAllAvailable()
    val full = streamGrid()
    assert(full === batchGrid(all),
      "after batch 3 the state must equal the batch grid of everything")
    // Mass conservation per hash row: every h's cells sum to the total
    // token count — the same invariant the x228 shard-merge audit pins.
    val nTokens = all.map(_._3.split("\\s+").length.toLong).sum
    (0 until depth).foreach { h =>
      assert(full.collect { case ((`h`, _), c) => c }.sum == nTokens,
        s"hash row $h must conserve token mass")
    }
    // Redelivery contrast with KMV: re-sending batch 2 as a NEW batch
    // ADDS it again — counters are not idempotent; the sketch depends on
    // the engine's exactly-once state updates, not on the fold.
    src.addData(b2: _*); q.processAllAvailable()
    assert(streamGrid() === batchGrid(b1 ++ b2 ++ b3 ++ b2),
      "a counting sketch double-counts redelivered data by design")
    q.stop()
  }

  test("cms grid stream (foreachBatch pre-reduce): the persistent grid " +
    "converges to the direct batch grid; per-batch writes stay grid-bounded") {
    implicit val sc = spark.sqlContext
    val depth = 4
    val width = 64
    def doc(id: Long) = (id, s"src${id % 2}",
      (0 until 6).map(j => s"g${(id * 7 + j * 13) % 35}").mkString(" "))
    val all = (0L until 60L).map(doc)
    val (b1, b2) = all.splitAt(30)
    val dir = java.nio.file.Files.createTempDirectory("cmsgrid").toString
    val tablePath = s"$dir/grid.parquet"
    val src = MemoryStream[(Long, String, String)]
    val q = Streams.cmsGridStream(spark,
      src.toDF().toDF("doc_id", "source", "text"), tablePath, depth, width)
    def grid(): Map[(Int, Int), Long] =
      spark.read.parquet(tablePath).as[(Int, Int, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
    def batchGrid(rows: Seq[(Long, String, String)]): Map[(Int, Int), Long] =
      rows.toDF("doc_id", "source", "text")
        .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
        .select(graft.ext.TextAnalysis.cmsCells(col("tok"), depth, width).as("hc"))
        .groupBy(col("hc.h").as("h"), col("hc.cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("c"))
        .as[(Int, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    try {
      src.addData(b1: _*); q.processAllAvailable()
      assert(grid() === batchGrid(b1),
        "after batch 1 the table must equal the direct grid of b1")
      assert(grid().size <= depth * width,
        "the table is the bounded state — never more than depth*width rows")
      src.addData(b2: _*); q.processAllAvailable()
      assert(grid() === batchGrid(all),
        "after batch 2 the addition-fold must equal the direct grid of everything")
      // Agreement with the flatMapGroupsWithState twin's contract: same
      // cells, same counts — two spellings of one state.
      assert(grid().size <= depth * width)

      // Replay idempotence — the at-least-once contract: foreachBatch
      // can redeliver a batch whose swap committed but whose offsets did
      // not. Re-folding batch 1 (an already-committed batchId) must be a
      // skipped no-op, NOT a double-count; a genuinely new batchId must
      // still apply; and an empty batch must not rewrite the table.
      val before = grid()
      assert(!Streams.cmsGridFold(spark, b1.toDF("doc_id", "source", "text"),
        0L, tablePath, depth, width), "replayed batchId must be skipped")
      assert(grid() === before,
        "a replayed micro-batch must not change the grid")
      assert(!Streams.cmsGridFold(spark,
        Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"),
        99L, tablePath, depth, width), "empty batch must be a no-op")
      assert(grid() === before)
      assert(Streams.cmsGridFold(spark, b1.toDF("doc_id", "source", "text"),
        2L, tablePath, depth, width), "a new batchId must apply")
      assert(grid() === batchGrid(all ++ b1),
        "a genuinely new batch folds in by addition")
    } finally q.stop()
  }

  test("checksum sink: the persistent fingerprint equals the batch " +
    "tableChecksum of everything ingested, bit for bit; replay and " +
    "empty batches are no-ops") {
    implicit val sc = spark.sqlContext
    val cols = Seq("id", "src", "v")
    val nBuckets = 8
    def row(i: Long) =
      (i, s"s${i % 3}", if (i % 11 == 0) null else s"v$i")
    val all = (0L until 80L).map(row)
    val (b1, b2) = all.splitAt(40)
    val dir = java.nio.file.Files.createTempDirectory("cksink").toString
    val tablePath = s"$dir/fp.parquet"
    def df(rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "src", "v")
    def fpMap(fp: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long, Long)] =
      fp.as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def state() = fpMap(spark.read.parquet(tablePath))
    def batchFp(rows: Seq[(Long, String, String)]) =
      fpMap(graft.ops.Reconcile.tableChecksum(df(rows), cols, nBuckets))
    val src = MemoryStream[(Long, String, String)]
    val q = Streams.checksumSink(spark,
      src.toDF().toDF("id", "src", "v"), cols, tablePath, nBuckets)
    try {
      src.addData(b1: _*); q.processAllAvailable()
      assert(state() === batchFp(b1),
        "after batch 1 the table must equal the batch fingerprint of b1")
      src.addData(b2: _*); q.processAllAvailable()
      assert(state() === batchFp(all),
        "the accumulators' own algebra (add/xor/add) must reproduce the " +
          "batch fingerprint of everything ingested")
      assert(state().size <= nBuckets, "state is nBuckets-bounded forever")
      // The operational loop: the streamed fingerprint hands straight to
      // checksumDiff against a replica's batch fingerprint — all green
      // when the replica holds exactly what was ingested.
      val diff = graft.ops.Reconcile.checksumDiff(
        spark.read.parquet(tablePath),
        graft.ops.Reconcile.tableChecksum(df(all), cols, nBuckets))
      assert(diff.collect().forall(_.getAs[Boolean]("bucket_match")),
        "stream-maintained vs batch fingerprint must reconcile green")
      // Replay idempotence (the additive-fold contract): a committed
      // batchId is skipped, an empty batch is a no-op, a new id applies.
      val before = state()
      assert(!Streams.checksumFold(spark, df(b1), 0L, tablePath, cols,
        nBuckets), "replayed batchId must be skipped")
      assert(state() === before)
      assert(!Streams.checksumFold(spark,
        df(Seq.empty), 99L, tablePath, cols, nBuckets),
        "empty batch must be a no-op")
      assert(state() === before)
      assert(Streams.checksumFold(spark, df(b1), 2L, tablePath, cols,
        nBuckets), "a new batchId must apply")
      assert(state() === batchFp(all ++ b1),
        "a genuinely new batch folds in by the same algebra")
    } finally q.stop()
  }

  test("checksum sink end-to-end CDC reconciliation: streamed fingerprint " +
    "-> checksumDiff localizes a diverged replica -> rowDiff drills to " +
    "exactly the divergent rows -> applyRepair closes the loop green " +
    "against the STREAM-maintained table") {
    implicit val sc = spark.sqlContext
    val cols = Seq("id", "src", "v")
    val nBuckets = 8
    val all = (0L until 80L).map(i =>
      (i, s"s${i % 3}", if (i % 11 == 0) null else s"v$i"))
    val (b1, b2) = all.splitAt(40)
    val dir = java.nio.file.Files.createTempDirectory("ckcdc").toString
    val tablePath = s"$dir/fp.parquet"
    def df(rows: Seq[(Long, String, String)]) = rows.toDF("id", "src", "v")
    val src = MemoryStream[(Long, String, String)]
    val q = Streams.checksumSink(spark,
      src.toDF().toDF("id", "src", "v"), cols, tablePath, nBuckets)
    try {
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      // The replica diverged three ways: one payload mutated, one row
      // lost, one spurious row appended. The source FEED is gone — only
      // the streamed fingerprint table and the replica's rows remain.
      val replica = all.map { case r @ (i, s, _) =>
        if (i == 7L) (i, s, "MUTATED") else r
      }.filterNot(_._1 == 23L) :+ ((999L, "sX", "vX"))
      val streamedFp = spark.read.parquet(tablePath)
      val diff = graft.ops.Reconcile.checksumDiff(streamedFp,
        graft.ops.Reconcile.tableChecksum(df(replica), cols, nBuckets))
      val badBuckets = diff.filter(!col("bucket_match"))
        .select("bucket").as[Long].collect().toSet
      assert(badBuckets.nonEmpty && badBuckets.size <= 4,
        "three corruptions flag at least one and at most four buckets " +
          "(the mutated row's two versions can straddle two)")
      // Row drill-down: the streamed verdicts must corroborate it —
      // every differing row lands in a bucket the stream flagged.
      val drill = graft.ops.Reconcile.rowDiff(df(all), df(replica), cols,
        nBuckets)
      val drillRows = drill.collect()
      assert(drillRows.length == 4,
        "mutation (2 rows: both versions) + loss (1) + spurious (1)")
      assert(drillRows.map(_.getAs[Long]("bucket")).toSet.subsetOf(badBuckets),
        "the streamed fingerprint localizes exactly where the row " +
          "drill-down finds the rows")
      // Repair the replica and re-verdict against the STREAMED table:
      // the loop closes without ever re-fingerprinting the source side.
      val repaired = graft.ops.Reconcile.applyRepair(df(replica), drill, cols)
      val verdict = graft.ops.Reconcile.checksumDiff(streamedFp,
        graft.ops.Reconcile.tableChecksum(repaired, cols, nBuckets))
      assert(verdict.collect().forall(_.getAs[Boolean]("bucket_match")),
        "after repair every bucket must verdict green vs the stream")
      // The keyed symmetry: CDC tables have primary keys, so the same
      // divergence classifies as the changelog a downstream MERGE
      // applies — id 7 an UPDATE (changed_columns = v), id 23 an
      // INSERT (the replica lost it), id 999 a DELETE (spurious) — and
      // executing it via applyChangelog closes the loop green against
      // the STREAMED table too, without the multiset diff.
      val cl = graft.ops.Reconcile.changelog(df(all), df(replica),
        Seq("id"), Seq("src", "v"), nBuckets)
      val clRows = cl.collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("verdict"), r.getAs[String]("changed_columns"),
          r.getAs[String]("v")))).toMap
      assert(clRows.keySet === Set(7L, 23L, 999L))
      assert(clRows(7L) === (("update", "v", "v7")),
        "the mutation classifies as an update carrying the true image")
      assert(clRows(23L)._1 === "insert" && clRows(23L)._3 === "v23")
      assert(clRows(999L) === (("delete", null, null)))
      val applied = graft.ops.Reconcile.applyChangelog(df(replica), cl,
        Seq("id"), Seq("src", "v"))
      val kVerdict = graft.ops.Reconcile.checksumDiff(streamedFp,
        graft.ops.Reconcile.tableChecksum(applied, cols, nBuckets))
      assert(kVerdict.collect().forall(_.getAs[Boolean]("bucket_match")),
        "after the keyed apply every bucket must verdict green vs the stream")
    } finally q.stop()
  }

  test("additive-fold replay guard is scoped to the streaming query id: " +
    "the real sink stamps its id into the marker, a batch from a " +
    "DIFFERENT query fails fast (restarted batchIds must not read as " +
    "replays), and legacy id-only markers keep the plain guard") {
    implicit val sc = spark.sqlContext
    val cols = Seq("id", "src", "v")
    val rows = (0L until 20L).map(i => (i, s"s${i % 3}", s"v$i"))
    def df(rs: Seq[(Long, String, String)]) = rs.toDF("id", "src", "v")
    val dir = java.nio.file.Files.createTempDirectory("ckqid").toString
    val tablePath = s"$dir/fp.parquet"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(tablePath),
      spark.sparkContext.hadoopConfiguration)
    val src = MemoryStream[(Long, String, String)]
    val q = Streams.checksumSink(spark,
      src.toDF().toDF("id", "src", "v"), cols, tablePath, 8)
    try {
      src.addData(rows: _*); q.processAllAvailable()
    } finally q.stop()
    // The streaming path must have stamped its query id into the marker.
    val marker = Streams.readBatchMarker(fs, tablePath)
    assert(marker.exists(_._2.contains(q.id.toString)),
      s"marker $marker must carry the committing query's id ${q.id}")
    val sc2 = spark.sparkContext
    try {
      // Same query id, replayed batchId -> skipped (the normal guard).
      sc2.setLocalProperty("sql.streaming.queryId", q.id.toString)
      assert(!Streams.checksumFold(spark, df(rows), 0L, tablePath, cols, 8),
        "same query, committed batchId: replay skip")
      // A DIFFERENT query id against the same fold table: batchIds
      // restarted at 0 are indistinguishable from replays, so both
      // skipping (silent data loss) and applying (double-count on a
      // true redelivery) are wrong — the fold must fail fast.
      sc2.setLocalProperty("sql.streaming.queryId",
        java.util.UUID.randomUUID().toString)
      val e = intercept[IllegalStateException] {
        Streams.checksumFold(spark, df(rows), 0L, tablePath, cols, 8)
      }
      assert(e.getMessage.contains("checkpoint"),
        "the failure must tell the operator the two ways out")
    } finally sc2.setLocalProperty("sql.streaming.queryId", null)
    // Legacy (pre-upgrade) marker carries no query id: the plain
    // batchId guard still applies, and the next fold upgrades it.
    Streams.writeBatchMarker(fs, tablePath, 1L, None)
    assert(!Streams.checksumFold(spark, df(rows), 1L, tablePath, cols, 8),
      "legacy marker: committed id still skips")
    assert(Streams.checksumFold(spark, df(rows), 2L, tablePath, cols, 8),
      "legacy marker: a new batchId still applies")
    // An unparseable marker must FAIL the fold, never read as "no
    // marker" — a None there would re-fold an already-committed batch.
    val p = new org.apache.hadoop.fs.Path(tablePath, "_last_batch")
    val out = fs.create(p, true)
    out.write("5 some-qid garbage\n".getBytes("UTF-8")); out.close()
    val e3 = intercept[IllegalStateException] {
      Streams.checksumFold(spark, df(rows), 9L, tablePath, cols, 8)
    }
    assert(e3.getMessage.contains("unparseable"))
    // A single-token NON-NUMERIC marker (and a Long-overflowing id)
    // must route through the SAME operator message — not a bare
    // NumberFormatException from toLong that loses the guidance.
    // ...including a ZERO-BYTE marker file (a crash between create and
    // write): the marker EXISTS, so "no marker" would re-fold a
    // committed batch — it must fail like any other unparseable shape.
    for (junk <- Seq("garbage", "99999999999999999999 some-qid", "")) {
      val o2 = fs.create(p, true)
      o2.write(junk.getBytes("UTF-8")); o2.close()
      val e4 = intercept[IllegalStateException] {
        Streams.checksumFold(spark, df(rows), 9L, tablePath, cols, 8)
      }
      assert(e4.getMessage.contains("unparseable"), s"for marker '$junk'")
    }
  }

  test("histogram stream: every micro-batch prefix equals the batch " +
    "histogram against the pinned bounds; out-of-range values clamp") {
    implicit val sc = spark.sqlContext
    val (lo, hi, bins) = (0.0, 100.0, 16)
    val all = (0L until 90L).map(i => (i, (i * 37 % 117).toDouble - 5.0))
    val (b1, b2) = all.splitAt(45) // values span [-5, 111]: both clamps hit
    val src = MemoryStream[(Long, Double)]
    val q = Streams.histogramStream(spark,
        src.toDF().toDF("id", "v"), "v", lo, hi, bins)
      .writeStream.format("memory").queryName("hist_mon")
      .outputMode("append").start()
    def streamBins(): Map[Int, Long] =
      spark.table("hist_mon").groupBy("bin").agg(max(col("count")).as("c"))
        .as[(Int, Long)].collect().toMap
    def batchBins(rows: Seq[(Long, Double)]): Map[Int, Long] =
      rows.toDF("id", "v")
        .select(greatest(lit(0), graft.ops.HistogramSketch.binIndex(
          col("v").cast("double"), lit(lo), lit(hi), bins)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("c"))
        .as[(Int, Long)].collect().toMap

    src.addData(b1: _*); q.processAllAvailable()
    assert(streamBins() === batchBins(b1),
      "after batch 1 the state must equal the batch histogram of b1")
    src.addData(b2: _*); q.processAllAvailable()
    val full = streamBins()
    assert(full === batchBins(all),
      "after batch 2 the state must equal the batch histogram of everything")
    assert(full.values.sum == all.size.toLong, "bins must conserve row mass")
    assert(full.contains(0) && full.contains(bins - 1),
      "the fixture must actually exercise both clamp edges")
    assert(full.keySet.forall(b => b >= 0 && b < bins))
    q.stop()
  }
}
