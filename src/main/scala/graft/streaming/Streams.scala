package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming re-expression of the warehouse's time-series
  * surface (SURVEY.md §2.10 — green-field; the reference is batch-only).
  * The batch queries r02 (monthly trend) and x14 (hourly rollup) become
  * incrementally-maintained aggregates over an event stream; the
  * per-customer running CLV becomes explicit keyed state.
  *
  * Scale posture: watermarks bound state (late events beyond the
  * watermark are dropped, so state size is O(active windows × keys), not
  * O(history)); the stateful CLV keeps one small case class per user and
  * emits deltas append-only. Both shapes run identically on a cluster
  * sink (kafka/delta) — the memory sink is only the test harness.
  */
object Streams {

  /** One event row as the stream sees it (events.parquet schema with the
    * ns timestamp already converted to TimestampType). */
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Running per-user lifetime value emitted after each update. */
  final case class UserClv(user_id: Long, n_events: Long, total_value: Double)

  /** Windowed rollup: tumbling window per event type, watermarked so
    * state is bounded. Mirrors the batch x14_events_hourly semantics on
    * the aggregate columns.
    */
  def windowedRollup(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Native session-window sessionization: Spark's session_window merges
    * each user's events closer than `gap` into one growing window —
    * the streaming twin of the batch LAG sessionization (x15), with the
    * merge handled by the engine's session-state machinery instead of a
    * sort+lag pass. Watermarked so closed sessions finalize and their
    * state is evicted; state is O(open sessions), not O(history).
    */
  def sessionRollup(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** Stateful running CLV: one state record per user, updated per
    * micro-batch, emitting the new running totals (append mode). This is
    * the flatMapGroupsWithState shape a per-customer lifetime aggregate
    * needs when the output must be a change stream rather than a
    * replaceable aggregate.
    */
  def runningClv(spark: SparkSession, events: Dataset[Event]): Dataset[UserClv] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserClv]) =>
          val prev = state.getOption.getOrElse(UserClv(userId, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          batch.foreach { e => n += 1; total += e.value }
          val next = UserClv(userId, n, total)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming exact dedup: watermark-bounded duplicate drop on a key
    * (the streaming face of ext.Dedup.exact). State holds one entry per
    * key seen within the watermark horizon — bounded, unlike a plain
    * dropDuplicates which would accumulate forever on an infinite
    * stream.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment: join the event stream against a static
    * dimension (broadcast per micro-batch — no streaming state at all;
    * this is the scale-correct way to attach dimensions to a stream).
    */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String): DataFrame =
    // Same-named keys take a USING join (one key column out, no
    // ambiguity); distinct names join on SIDE-QUALIFIED references — a
    // bare col(eventKey) === col(dimKey) is an AMBIGUOUS_REFERENCE
    // error whenever both sides carry either name.
    if (eventKey == dimKey)
      events.join(org.apache.spark.sql.functions.broadcast(dim),
        Seq(eventKey), "left")
    else
      events.join(org.apache.spark.sql.functions.broadcast(dim),
        events.col(eventKey) === dim.col(dimKey), "left")

  /** Stream-stream interval join: attribute each purchase to the same
    * user's clicks in the preceding `windowMinutes`. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire buffered rows — the state-bounding contract every
    * production stream-stream join needs (an unbounded-condition join
    * would buffer both streams forever).
    */
  def clickAttribution(events: DataFrame, windowMinutes: Int = 30): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("user_id"), col("purchase_ts"), col("value"), col("click_ts"))
  }

  /** Crash-atomic commit of a freshly written `targetPath + "_tmp"`
    * directory over `targetPath`, shared by every parquet-swap sink
    * here. The old delete-then-rename had a crash window in which the
    * target was simply GONE; this is the bak-rename-commit protocol:
    *
    *   1. delete any stale `_bak` (only possible if a previous commit
    *      crashed after step 3 — target is live then, so it IS stale)
    *   2. rename target → `_bak` (target absent only while bak is a
    *      complete copy)
    *   3. rename `_tmp` → target
    *   4. delete `_bak`
    *
    * At every instant at least one of {target, bak} holds a complete
    * table, and [[readLivePath]] prefers target and falls back to bak —
    * so a crash at ANY step leaves the next batch (or any reader using
    * the same fallback) a complete table. Failed renames throw: a
    * silently failed swap would orphan the table and let the next batch
    * bootstrap from empty. On a transactional table format this whole
    * dance is one MERGE INTO; this is the no-dependency equivalent.
    */
  private[graft] def commitSwap(fs: org.apache.hadoop.fs.FileSystem,
      targetPath: String, sink: String): Unit = {
    val targetP = new org.apache.hadoop.fs.Path(targetPath)
    val tmpP = new org.apache.hadoop.fs.Path(targetPath + "_tmp")
    val bakP = new org.apache.hadoop.fs.Path(targetPath + "_bak")
    if (fs.exists(targetP)) {
      if (fs.exists(bakP) && !fs.delete(bakP, true))
        throw new java.io.IOException(s"$sink: could not clear stale $bakP")
      if (!fs.rename(targetP, bakP))
        throw new java.io.IOException(s"$sink: rename $targetP -> $bakP failed")
    }
    if (!fs.rename(tmpP, targetP))
      throw new java.io.IOException(s"$sink: rename $tmpP -> $targetPath failed")
    if (fs.exists(bakP) && !fs.delete(bakP, true))
      throw new java.io.IOException(s"$sink: could not drop committed $bakP")
  }

  /** The read half of [[commitSwap]]'s protocol: the live copy of a
    * swap-maintained table — the target if present, else the `_bak` a
    * crash between commit steps 2 and 3 left behind; None before the
    * first commit. Sinks read their previous state through this, so a
    * torn commit self-heals on the next batch. */
  private[graft] def readLivePath(fs: org.apache.hadoop.fs.FileSystem,
      targetPath: String): Option[String] = {
    if (fs.exists(new org.apache.hadoop.fs.Path(targetPath))) Some(targetPath)
    else {
      val bak = targetPath + "_bak"
      if (fs.exists(new org.apache.hadoop.fs.Path(bak))) Some(bak) else None
    }
  }

  /** Latest row per key — the replay-determinism dedup shared by
    * [[upsertSink]] and [[changelogSink]]: `orderCol` descending, then
    * EVERY non-key/non-order column ascending in sorted-name order, so
    * the sort is total and a replayed batch always crowns the same
    * winner per key. ONE definition — the tie-break rule is a
    * correctness invariant, not a style choice. ([[scd2Sink]] keeps its
    * own variant DELIBERATELY: its tie-break order is the caller's
    * `payload` parameter order, part of that sink's public contract.) */
  private def latestPerKey(batch: DataFrame, keys: Seq[String],
      orderCol: String): DataFrame = {
    require(!batch.columns.contains("__rn"),
      "payload column '__rn' collides with the sink's internal " +
        "row-number column; rename it first")
    import org.apache.spark.sql.expressions.Window
    val tieBreak = batch.columns.toSeq
      .filterNot(c => keys.contains(c) || c == orderCol).sorted.map(col(_).asc)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc +: tieBreak: _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The live target table, if any (see [[readLivePath]] for the
    * crash-heal rule) — shared by every parquet sink. */
  private def liveTarget(spark2: SparkSession,
      targetPath: String): Option[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(targetPath), spark2.sparkContext.hadoopConfiguration)
    readLivePath(fs, targetPath).map(spark2.read.parquet(_))
  }

  /** Write-then-swap commit — shared by every parquet sink: the merged
    * plan reads the path being replaced, so it lands in `targetPath`_tmp
    * first and the directories swap — distributed write, no driver-side
    * materialization, crash-atomic via [[commitSwap]]. */
  private[streaming] def swapWrite(df: DataFrame, targetPath: String,
      sink: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(targetPath),
      df.sparkSession.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(targetPath + "_tmp")
    commitSwap(fs, targetPath, sink)
  }

  /** Streaming upsert sink: maintain a keyed parquet table from a change
    * stream via foreachBatch + ops.Upsert — last batch wins per key, the
    * MERGE-INTO shape without a transactional table format. Each micro-
    * batch is deduplicated to its latest row per key ([[latestPerKey]])
    * and merged into the target path; the read-merge-rewrite commits via
    * [[swapWrite]], so no crash instant leaves the table absent. Returns
    * the running query (caller stops it).
    */
  def upsertSink(spark: SparkSession, updates: DataFrame, keys: Seq[String],
      orderCol: String, targetPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Empty micro-batch guard (every sink has it): without it an
        // idle batch would read, no-op-merge, rewrite, and swap the
        // ENTIRE target — corpus-scale IO per quiet interval, and an
        // empty table committed before the first real data.
        if (!batch.isEmpty) {
          val latest = latestPerKey(batch, keys, orderCol)
          val merged = liveTarget(batch.sparkSession, targetPath) match {
            case Some(target) =>
              graft.ops.Upsert.upsert(target,
                latest.select(target.columns.map(col).toIndexedSeq: _*), keys)
            case None => latest
          }
          swapWrite(merged, targetPath, "upsertSink")
        }
        ()
      }
      .start()

  /** Streaming CDC apply — the consumer of [[graft.ops.Upsert
    * .snapshotDiff]]-shaped changelogs, and the sink [[upsertSink]]
    * cannot be: upserts alone can never REMOVE a key, so a changelog
    * with deletes needs its own merge. Each micro-batch reduces to the
    * latest action per key (by `orderCol` descending — a key inserted
    * then deleted within one batch must end deleted), then applies in
    * one pass: insert/update rows upsert their image, delete rows
    * anti-join out of the target. Same write-then-swap durability
    * contract as [[upsertSink]]; on a transactional store this is the
    * canonical MERGE ... WHEN MATCHED AND action='delete' THEN DELETE
    * template with an identical stream plan.
    *
    * `updates` carries the key columns, an `action` column
    * (insert/update/delete), and the payload image.
    */
  def changelogSink(spark: SparkSession, updates: DataFrame, keys: Seq[String],
      orderCol: String, targetPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // The shared latestPerKey tie-break covers action + payload
          // (every non-key/non-order column): without it a replayed
          // batch could pick a different action for a key and diverge
          // the table — exactly what this sink exists to prevent. The
          // target carries no orderCol, so it drops here.
          val latest = latestPerKey(batch, keys, orderCol).drop(orderCol)
          val upserts = latest.filter(col("action") =!= "delete").drop("action")
          val deletes = latest.filter(col("action") === "delete")
            .select(keys.map(col): _*)
          val merged = liveTarget(batch.sparkSession, targetPath) match {
            case Some(target) =>
              graft.ops.Upsert
                .upsert(target, upserts.select(target.columns.map(col).toIndexedSeq: _*), keys)
                .join(deletes, keys, "left_anti")
            case None => upserts.join(deletes, keys, "left_anti")
          }
          swapWrite(merged, targetPath, "changelogSink")
        }
        ()
      }
      .start()

  /** Streaming incremental-ROLLUP maintenance: where [[changelogSink]]
    * keeps the keyed TABLE current, this keeps a (groupKey, n, total)
    * aggregate current from the same both-images changelog stream —
    * ops.Incremental's delta algebra applied per micro-batch, so the
    * rollup never rescans its base. The changelog must arrive in
    * commit order per key (the [[graft.ops.Incremental]] contract:
    * deltas compose by addition, so batching is free, but an update's
    * old image must match what the rollup already absorbed). Same
    * write-then-swap durability as the other sinks; DECIMAL totals keep
    * the running rollup bit-equal to a recompute at every batch
    * boundary (pinned in StreamingSpec).
    */
  def incrementalAggSink(spark: SparkSession, changelog: DataFrame,
      groupKey: String, oldVal: String, newVal: String, targetPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    changelog.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalAggFold(batch, batchId, groupKey, oldVal, newVal,
          targetPath)
        ()
      }
      .start()
  }

  /** One fold step of [[incrementalAggSink]], factored out so the
    * replay contract is directly testable (the [[cmsGridFold]]
    * convention). Delta application is ADDITIVE, so like the other
    * additive folds it carries the committed-batchId guard: an
    * at-least-once redelivery of an already-folded micro-batch is
    * skipped instead of double-applying its deltas. Returns true iff
    * the batch was applied. */
  private[graft] def incrementalAggFold(batch: DataFrame, batchId: Long,
      groupKey: String, oldVal: String, newVal: String,
      targetPath: String): Boolean = {
    if (batch.isEmpty) return false
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(targetPath),
      batch.sparkSession.sparkContext.hadoopConfiguration)
    val qid = currentQueryId(batch.sparkSession)
    val committed = readLivePath(fs, targetPath).flatMap(readBatchMarker(fs, _))
    if (alreadyCommitted(committed, batchId, qid, "incrementalAggSink",
        targetPath)) return false
    // The rollup's total pins to DECIMAL(28,4): sums/additions widen
    // decimal precision per operation, and without a fixed landing
    // type the schema would creep a digit per batch until Spark's
    // 38-digit cap forces a scale change.
    val totalType = org.apache.spark.sql.types.DecimalType(28, 4)
    val prev = liveTarget(batch.sparkSession, targetPath).getOrElse {
      batch.sparkSession.emptyDataFrame
        .withColumn(groupKey, lit(null).cast(batch.schema(groupKey).dataType))
        .withColumn("n", lit(null).cast("long"))
        .withColumn("total", lit(null).cast(totalType))
        .filter(lit(false))
    }
    val merged = graft.ops.Incremental
      .applyCountSumDelta(prev, batch, groupKey, oldVal, newVal)
      .select(col(groupKey), col("n"), col("total").cast(totalType).as("total"))
    merged.write.mode("overwrite").parquet(targetPath + "_tmp")
    writeBatchMarker(fs, targetPath + "_tmp", batchId, qid)
    commitSwap(fs, targetPath, "incrementalAggSink")
    true
  }

  /** Streaming SCD-2 sink: maintain a HISTORY-PRESERVING dimension from a
    * change stream via foreachBatch + ops.Upsert.scd2 — the history twin
    * of [[upsertSink]]'s last-write-wins merge. Each micro-batch reduces
    * to its latest row per key (by `orderCol` descending), takes its
    * effective date as the batch's max `effDateCol` date (a deterministic
    * function of the data, so a replayed batch closes/opens the same
    * rows), and merges: changed payloads close the current row and open a
    * new one, identical payloads no-op (idempotent replays), new keys
    * open their first row. First batch bootstraps the history with every
    * row open. Same write-then-swap durability note as [[upsertSink]];
    * on a transactional store the body is one MERGE INTO with an
    * identical stream plan. Batch-equivalence pinned in StreamingSpec.
    */
  def scd2Sink(spark: SparkSession, updates: DataFrame, key: String,
      payload: Seq[String], orderCol: String, effDateCol: String,
      targetPath: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    updates.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // Effective date = the WHOLE batch's max event date (not just
          // the post-dedup winners' — orderCol need not be monotone in
          // the date), so a replayed batch always merges at the same day.
          val eff = batch
            .agg(max(date_format(col(effDateCol), "yyyy-MM-dd"))).first().getString(0)
          // A batch whose effDateCol is all-null would merge rows with a
          // null valid_from — silently corrupting the history and breaking
          // replay idempotence. That's bad data, not a transient: fail the
          // query so the operator surfaces it instead of absorbing it.
          if (eff == null)
            throw new IllegalStateException(
              s"scd2Sink: non-empty batch has no non-null '$effDateCol'; " +
                "cannot derive a valid_from date")
          // Payload columns tie-break equal orderCol values: row_number
          // over an under-specified sort would let a replay crown a
          // different row and diverge the history.
          require(!batch.columns.contains("__rn"),
            "payload column '__rn' collides with the sink's internal " +
              "row-number column; rename it first")
          val w = Window.partitionBy(col(key))
            .orderBy(col(orderCol).desc +: payload.map(c => col(c).asc): _*)
          val upd = batch
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .select((key +: payload).map(col): _*)
          val merged = liveTarget(batch.sparkSession, targetPath) match {
            case Some(target) =>
              graft.ops.Upsert.scd2(target, upd, key, payload, eff)
            case None => upd
              .withColumn("valid_from", lit(eff))
              .withColumn("valid_to", lit(null).cast("string"))
          }
          swapWrite(merged, targetPath, "scd2Sink")
        }
        ()
      }
      .start()
  }

  // ---- incrementally-maintained customer_revenue_summary -----------------

  /** One tagged changelog record feeding [[revenueSummaryStream]]:
    * "order" rows carry the order date, "item" rows carry exact scale-4
    * money as longs (computed by Catalyst BEFORE the stateful operator,
    * so the per-row double→decimal rounding is byte-identical to the
    * batch view's) plus the part category. */
  final case class RevenueChange(custkey: Long, kind: String, order_ms: Long,
      money_scaled: Long, fee_scaled: Long, p_type: String)

  /** Per-customer state: every aggregate of the batch view in exact
    * integer form (scale-4 longs for money — addition is exact and
    * order-independent, the streaming analog of decimal-before-sum) plus
    * the category count map (bounded by the category domain, the same
    * contract as functions.DeterministicMode) and a monotone version for
    * last-write-wins upserts. */
  final case class RevenueState(n_orders: Long, first_ms: Long, last_ms: Long,
      n_items: Long, rev_scaled: Long, fee_scaled: Long,
      cats: Map[String, Long], version: Long)

  /** One emitted update: the batch view's aggregate columns for one
    * customer (geo attributes join statically downstream — they are
    * dimension lookups, not state). */
  final case class RevenueUpdate(customer_id: Long, total_orders: Long,
      total_items: Long, total_revenue: Double, avg_order_value: Double,
      total_late_fees: Double, first_order_date: java.sql.Timestamp,
      last_order_date: java.sql.Timestamp, n_categories: Long,
      top_category: String, version: Long)

  /** The north-star composition (SURVEY §2.10): the batch
    * `customer_revenue_summary` view as ONE incrementally-maintained
    * stream. Order and lineitem change streams are tagged and unioned
    * into a per-customer changelog (items enrich stream-static against
    * the orders keys and broadcast part dim — stateless), then a single
    * flatMapGroupsWithState keeps every aggregate of the view as exact
    * integers per customer and emits the updated row each micro-batch.
    * Convergence contract (pinned in StreamingSpec): once both streams
    * drain, the latest emission per customer joined to the static geo
    * chain equals batch `View.dw` EXACTLY — money to the bit (scale-4
    * longs replay decimal-before-sum), mode ties to DeterministicMode's
    * pinned order, avg as the same one double division.
    *
    * Scale posture: state is one bounded record per customer (the
    * category map is bounded by the category domain); emissions are a
    * change stream fit for [[upsertSink]] / MERGE INTO; nothing
    * re-reads history.
    */
  def revenueSummaryStream(spark: SparkSession, orderStream: DataFrame,
      itemStream: DataFrame, staticOrders: DataFrame, staticPart: DataFrame,
      graceDays: Int = 30): Dataset[RevenueUpdate] = {
    import spark.implicits._
    import graft.queries.{lateFeeExpr, money}

    val orderChanges = orderStream.select(
      col("o_custkey").as("custkey"), lit("order").as("kind"),
      expr("unix_millis(o_orderdate)").as("order_ms"),
      lit(0L).as("money_scaled"), lit(0L).as("fee_scaled"), lit("").as("p_type"))

    val itemChanges = itemStream
      .join(staticOrders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(staticPart.select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .select(
        col("o_custkey").as("custkey"), lit("item").as("kind"), lit(0L).as("order_ms"),
        (money(col("l_extendedprice") * (lit(1) - col("l_discount"))) * lit(10000))
          .cast("long").as("money_scaled"),
        (lateFeeExpr(graceDays) * lit(10000)).cast("long").as("fee_scaled"),
        col("p_type"))

    orderChanges.unionByName(itemChanges).as[RevenueChange]
      .groupByKey(_.custkey)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (custkey: Long, batch: Iterator[RevenueChange], state: GroupState[RevenueState]) =>
          var s = state.getOption.getOrElse(
            RevenueState(0L, Long.MaxValue, Long.MinValue, 0L, 0L, 0L, Map.empty, 0L))
          batch.foreach { c =>
            if (c.kind == "order")
              s = s.copy(n_orders = s.n_orders + 1,
                first_ms = math.min(s.first_ms, c.order_ms),
                last_ms = math.max(s.last_ms, c.order_ms))
            else
              s = s.copy(n_items = s.n_items + 1,
                rev_scaled = s.rev_scaled + c.money_scaled,
                fee_scaled = s.fee_scaled + c.fee_scaled,
                cats = s.cats.updated(c.p_type, s.cats.getOrElse(c.p_type, 0L) + 1L))
          }
          s = s.copy(version = s.version + 1)
          state.update(s)
          // Exact emissions: K/10000.0 is the correctly-rounded double of
          // the same rational the batch's CAST(SUM(decimal) AS DOUBLE)
          // rounds — identical bits (K stays far below 2^53 here).
          val rev = s.rev_scaled / 10000.0
          Iterator.single(RevenueUpdate(
            custkey, s.n_orders, s.n_items, rev,
            if (s.n_orders > 0) rev / s.n_orders.toDouble else 0.0,
            s.fee_scaled / 10000.0,
            // No orders yet → the min/max sentinels are not dates; emit
            // NULL (a raw sentinel would overflow the micros encoder).
            if (s.n_orders > 0) new java.sql.Timestamp(s.first_ms) else null,
            if (s.n_orders > 0) new java.sql.Timestamp(s.last_ms) else null,
            s.cats.size.toLong,
            // DeterministicMode's pinned tie-break: count desc, name asc.
            if (s.cats.isEmpty) null else s.cats.minBy { case (k, v) => (-v, k) }._1,
            s.version))
      }
  }

  /** Bounded per-bucket screen state: parallel arrays of first-arrival
    * (dhash, keeper) pairs, in admission order. Primitive arrays rather
    * than a List of case classes — the flat shape stays inside Spark's
    * state-encoder codegen. */
  final case class BucketState(dhashes: Array[Long], keepers: Array[Long])

  /** One per-segment screening decision for an arriving image.
    * `matched_keeper`/`matched_dhash`/`hamming` are −1 when this bucket
    * held nothing within the Hamming ball; `admitted` says whether the
    * arrival's hash was recorded as a NEW first-arrival in this bucket.
    */
  final case class ScreenDecision(doc_id: Long, seg_idx: Int, seg_key: Long,
      dhash: Long, matched_keeper: Long, matched_dhash: Long, hamming: Int,
      admitted: Boolean)

  /** Bounded per-LSH-bucket screen state: keeper ids in admission order
    * plus their FULL MinHash signatures flattened keeper-major
    * (sigs.length == MinHashK * keepers.length) — flat primitive arrays
    * for the state-encoder codegen, like [[BucketState]]. */
  final case class LshBucketState(sigs: Array[Long], keepers: Array[Long])

  /** One per-band screening decision for an arriving document.
    * `matched_keeper`/`agree` are −1 when no stored signature in this
    * bucket agreed on >= minAgree components; `admitted` says whether
    * the arrival's signature was recorded as a NEW first-arrival. */
  final case class LshScreenDecision(doc_id: Long, band_idx: Int,
      band_key: String, matched_keeper: Long, agree: Int, admitted: Boolean)

  /** The per-document MinHash kernel, computed LOCALLY for the streaming
    * screen: word-bigram shingles → one md5 per shingle → k
    * Kirsch-Mitzenmacher min-hashes → banded keys. Must stay
    * bit-identical to the DataFrame kernel (Dedup.shingles /
    * rawSignatures / bandKey) — the StreamingSpec anchor test derives
    * its expectation FROM Dedup.minhashSignatures, so any drift between
    * the two spellings fails the fold law, not just a doc comment. */
  private val HexDigits = "0123456789abcdef".toCharArray

  private[graft] def minhashLocal(text: String): (Array[Long], Array[String]) = {
    import graft.ext.Dedup.{MinHashK, NumBands}
    // One digest per call (MessageDigest.digest resets it), hex via a
    // lookup table — the hoisting convention of the sibling local
    // kernels (Similarity/Multimodal), not per-shingle allocation.
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String = {
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val out = new Array[Char](32)
      var i = 0
      while (i < 16) {
        out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
        out(2 * i + 1) = HexDigits(d(i) & 0xf)
        i += 1
      }
      new String(out)
    }
    // Mirror the batch kernel EXACTLY: Spark's trim() strips only the
    // ASCII space character (never tabs/newlines — those become leading
    // empty tokens through the \s+ split, which keeps trailing empties
    // via limit -1), so a text like "\thello" must tokenize to
    // ["", "hello"] on both paths.
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) == ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
    val ts = text.substring(lo, hi).split("\\s+", -1)
    val n = math.max(ts.length - 1, 1)
    val hs = (1 to n).map(i => ts.slice(i - 1, i + 1).mkString(" "))
      .distinct.map { s =>
        val hex = md5hex(s)
        (java.lang.Long.parseLong(hex.substring(0, 8), 16),
          java.lang.Long.parseLong(hex.substring(8, 16), 16))
      }
    val mh = Array.tabulate(MinHashK) { j =>
      hs.iterator.map { case (h1, h2) =>
        (h1 + j.toLong * h2) % 4294967296L }.min
    }
    val bands = Array.tabulate(NumBands)(b => md5hex(s"${mh(2 * b)}|${mh(2 * b + 1)}"))
    (mh, bands)
  }

  /** Streaming MinHash-LSH near-duplicate screen — the TEXT member of
    * the ingest-screen trio ([[perceptualScreenStream]] for images,
    * [[exactSubstrScreenStream]] for spans), and the streaming
    * counterpart of the batch x251 incremental dedup: new documents are
    * screened at the door against everything already admitted, with the
    * accumulated corpus living as bounded per-bucket executor state
    * rather than a persisted parquet index.
    *
    * Shape: the per-doc signature rides a stateless map (the LOCAL
    * [[minhashLocal]] kernel, anchor-pinned equal to the batch
    * DataFrame kernel), explodes into NumBands (band_idx, band_key)
    * rows, and each bucket keeps at most `bucketCap` first-arrival
    * (signature, keeper) entries in flatMapGroupsWithState state. An
    * arrival compares against its bucket's stored signatures by exact
    * component agreement — `agree`/MinHashK is the standard unbiased
    * Jaccard estimate (the x119 calibration family), an INTEGER
    * compare, engine-free — and every stored signature agreeing on
    * >= `minAgree` components emits a decision row (best = max agree,
    * then min keeper; −1 sentinel otherwise). The doc-level verdict is
    * the consumer's one-line aggregate: near-dup iff ANY band row
    * matched a keeper other than the doc itself. minAgree = 5 of 16 ≈
    * the batch family's 0.3 Jaccard threshold; the screen trades the
    * batch operators' exact-Jaccard verification for signature
    * agreement because state must stay bounded — 16 longs per admitted
    * doc, never a shingle set (that exactness lives in x251, which
    * re-reads matched corpus text; this is the at-the-door screen).
    *
    * Determinism & safety: per-bucket arrivals process in doc_id order
    * (a pure fold over arrival order — StreamingSpec pins the fold law
    * against the batch kernel's signatures); a REDELIVERED doc matches
    * its own stored signature (agree = MinHashK, keeper = itself) and
    * is not re-admitted, so the screen is idempotent under
    * at-least-once delivery once consumers filter self-matches. A full
    * bucket stops admitting — the hot-bucket discipline of x66: the
    * screen degrades to pass-through for that signature region, never
    * to unbounded state.
    */
  def lshScreenStream(spark: SparkSession, docs: DataFrame,
      minAgree: Int = 5, bucketCap: Int = 64): Dataset[LshScreenDecision] = {
    import spark.implicits._
    val k = graft.ext.Dedup.MinHashK
    require(minAgree >= 1 && minAgree <= k, s"minAgree in [1, $k]; got $minAgree")
    require(bucketCap >= 1, "bucketCap must be positive")
    val exploded = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // NULL text drops, matching the batch kernel (shingleRows'
        // size(NULL)-driven explode emits nothing) — a poison row must
        // not kill the query on every at-least-once redelivery.
        if (text == null) Iterator.empty
        else {
          val (mh, bands) = minhashLocal(text)
          bands.iterator.zipWithIndex.map { case (bk, bi) => (bi, bk, id, mh) }
        }
      }
    exploded
      .groupByKey { case (bi, bk, _, _) => (bi, bk) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, String), batch: Iterator[(Int, String, Long, Array[Long])],
         state: GroupState[LshBucketState]) =>
          var keepers: Vector[Long] = state.getOption
            .map(_.keepers.toVector).getOrElse(Vector.empty)
          var sigs: Vector[Array[Long]] = state.getOption
            .map(s => s.sigs.grouped(k).toVector).getOrElse(Vector.empty)
          val out = batch.toSeq.sortBy(_._3).map { case (bi, bk, id, mh) =>
            val best = sigs.iterator.zip(keepers.iterator)
              .map { case (s, kp) =>
                var a = 0; var j = 0
                while (j < k) { if (s(j) == mh(j)) a += 1; j += 1 }
                (a, kp)
              }
              .filter(_._1 >= minAgree)
              .reduceOption { (x, y) =>
                if (x._1 > y._1 || (x._1 == y._1 && x._2 <= y._2)) x else y
              }
            val already = sigs.exists(_.sameElements(mh))
            val admitted = !already && keepers.size < bucketCap
            if (admitted) { keepers = keepers :+ id; sigs = sigs :+ mh }
            LshScreenDecision(id, bi, bk,
              best.map(_._2).getOrElse(-1L), best.map(_._1).getOrElse(-1),
              admitted)
          }
          state.update(LshBucketState(sigs.flatten.toArray, keepers.toArray))
          out.iterator
      }
  }

  /** Streaming perceptual near-duplicate screen — the ingest-time twin
    * of the batch x212 operator (ext.Multimodal.perceptualNearDedup),
    * and the image-space sibling of the Bloom ingest screen (x158):
    * every arriving image is decoded, 56-bit dHashed, and checked
    * against bounded keyed state BEFORE it enters the corpus, so
    * crop/noise/re-encode copies are flagged at the door instead of by
    * a later batch sweep.
    *
    * Shape: decode + hash ride a stateless map; the hash explodes into
    * `maxHamming + 1` disjoint segments (the x212 pigeonhole banding —
    * two hashes within the ball agree on a whole segment), and each
    * (seg_idx, seg_key) group keeps AT MOST `bucketCap` first-arrival
    * (dhash, keeper) entries in flatMapGroupsWithState state. An
    * arrival is compared against its buckets' stored hashes by exact
    * popcount; every within-ball match is emitted as a
    * [[ScreenDecision]] row (−1 sentinel when the bucket has no match),
    * and a distinct new hash is admitted into the bucket while the cap
    * has room. The doc-level verdict is the consumer's one-line
    * aggregate: near-dup iff ANY of its segment rows matched (min
    * (hamming, matched_keeper) for the canonical attribution).
    *
    * Determinism & safety: groups process their micro-batch in doc_id
    * order, so decisions are a pure fold over arrival order; a
    * REDELIVERED doc matches its own stored entry (hamming 0,
    * matched_keeper = its own doc_id) and is not re-admitted — the
    * consumer filters self-matches, making the screen idempotent under
    * at-least-once delivery. State per bucket is bounded by `bucketCap`
    * entries of 16 bytes — the hot-bucket discipline of the batch
    * family; a full bucket stops admitting (the screen degrades to
    * pass-through for that signature region, never to unbounded state).
    */
  def perceptualScreenStream(spark: SparkSession, media: DataFrame,
      maxHamming: Int = 3, bucketCap: Int = 64): Dataset[ScreenDecision] = {
    import spark.implicits._
    import graft.ext.Multimodal
    require(maxHamming >= 1 && 56 % (maxHamming + 1) == 0,
      s"maxHamming+1 must divide 56 (1, 3, 6, 7, 13, 27, 55); got $maxHamming")
    val nSegs = maxHamming + 1
    val segBits = 56 / nSegs
    val mask = (1L << segBits) - 1
    val hashed = media.as[Multimodal.MediaRow].map { r =>
      val img = r.media_type match {
        case Multimodal.PpmType => Multimodal.decodePpm(r.content)
        case Multimodal.BmpType => Multimodal.decodeBmp(r.content)
        case t => throw new IllegalArgumentException(s"no raster decoder for $t")
      }
      (r.doc_id, Multimodal.dHash56(img))
    }
    val segs = hashed.flatMap { case (docId, h) =>
      (0 until nSegs).map(s => (s, (h >>> (segBits * s)) & mask, docId, h))
    }.toDF("seg_idx", "seg_key", "doc_id", "dhash")
      .as[(Int, Long, Long, Long)]
    segs
      .groupByKey { case (segIdx, segKey, _, _) => (segIdx, segKey) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), batch: Iterator[(Int, Long, Long, Long)],
         state: GroupState[BucketState]) =>
          var stored: Vector[(Long, Long)] = state.getOption
            .map(s => s.dhashes.zip(s.keepers).toVector).getOrElse(Vector.empty)
          val out = batch.toSeq.sortBy(_._3).map { case (segIdx, segKey, docId, h) =>
            val best = stored.iterator
              .map { case (eh, k) => (java.lang.Long.bitCount(eh ^ h), eh, k) }
              .filter(_._1 <= maxHamming)
              .reduceOption { (a, b) =>
                if (a._1 < b._1 || (a._1 == b._1 && a._3 <= b._3)) a else b
              }
            val alreadyStored = stored.exists(_._1 == h)
            val admitted = !alreadyStored && stored.size < bucketCap
            if (admitted) stored = stored :+ ((h, docId))
            ScreenDecision(docId, segIdx, segKey, h,
              best.map(_._3).getOrElse(-1L),
              best.map(_._2).getOrElse(-1L),
              best.map(_._1).getOrElse(-1),
              admitted)
          }
          state.update(BucketState(stored.map(_._1).toArray, stored.map(_._2).toArray))
          out.iterator
      }
  }

  /** Streaming exact-substring ingest screen — the incremental twin of
    * the batch x213 operator ([[graft.ext.Dedup.exactSubstringRemoval]],
    * Lee et al. 2022 ExactSubstr), in the PRODUCTION orientation: new
    * documents are deduplicated against the gram index of everything
    * already ingested (the training set), not merely within their own
    * batch — the same index-vs-batch shape as the Bloom ingest screen
    * (x158) and [[perceptualScreenStream]], but at SPAN grain. Two
    * swap-maintained parquet tables:
    *
    *  - `indexPath`: the gram-ownership index — per gram hash, the two
    *    smallest DISTINCT occurrence keys `k1`, `k2`, each a
    *    struct(doc_id, pos) so struct-min IS the batch operator's
    *    (min doc, then min pos) ownership rule. k1 is the global first
    *    occurrence (the span keeper); k2 non-null means the gram is
    *    duplicated somewhere. Storing the two MINIMA of the
    *    occurrence-key SET (never counts) is what makes the merge
    *    idempotent: a redelivered batch re-adds the same occurrence
    *    keys and set-minima are unchanged under re-union, where counts
    *    would double and phantom-duplicate a unique gram.
    *  - `reportPath`: the per-document edit report (the batch
    *    operator's exact columns including `skipped`), INSERT-ONLY by
    *    doc_id — first writer wins. A document's report row commits
    *    exactly once, at its own arrival; later batches (including
    *    redeliveries) never rewrite it. This is what makes redelivery
    *    idempotent BY CONSTRUCTION even after out-of-order arrivals
    *    moved gram ownership under an already-reported doc: a
    *    redelivered batch re-screens against the moved k1 and computes
    *    a DIFFERENT edit, but the insert-only merge discards it in
    *    favor of the committed row (StreamingSpec pins exactly this).
    *
    * Per micro-batch: (1) one tokenize scan and one gram explode+md5
    * scan, each checkpointed and shared by every consumer below;
    * (2) the index merge — only grams PRESENT in the batch can change
    * their set-minima, so stored rows for untouched grams pass through
    * while the batch's grams union the stored (k1, k2) keys and two
    * keyed min aggregates rebuild them: the SHUFFLE is batch-scale, not
    * corpus-scale; (3) the index swap-commits; (4) the committed index
    * marks the batch docs' non-first duplicated spans and
    * [[graft.ext.Dedup.applySpanRemoval]] — the SAME island-merge +
    * sweep-line the batch operator runs — edits them; (5) the report
    * merge inserts rows for doc_ids not already present. A crash
    * between (3) and (5) leaves the index ahead of the report;
    * redelivery re-screens against the index (its own occurrences
    * included — each occurrence either is k1, kept, or sits behind one)
    * and the insert-only merge fills in exactly the missing rows.
    * Giant docs (≥ `maxDocTokens`) pass through skipped, like the
    * batch operator.
    *
    * Batch-equivalence anchor (StreamingSpec): when batches arrive in
    * ascending doc_id order — so ownership never moves backwards — the
    * final report table equals the batch operator run once over the
    * union corpus, row for row including cleaned hashes.
    *
    * Scale shape: the index is one flat row per distinct gram (the
    * keyed-aggregate stand-in for Lee et al.'s suffix array). Per-batch
    * data MOTION (shuffle) is O(batch grams); the local twin still
    * SCANS the full index (the pass-through anti-join + the mark join's
    * probe side) and REWRITES it for the atomic swap, so per-batch IO
    * is O(index). On a cluster the index lives bucketed by gram hash
    * (sorted within buckets): the pass-through copy disappears — the
    * merge partition-overwrites only the buckets it touched — and the
    * mark join co-locates without shuffling the index; no state ever
    * lives on the driver.
    */
  def exactSubstrScreenStream(spark: SparkSession, docs: DataFrame,
      indexPath: String, reportPath: String, gramLen: Int = 8,
      maxDocTokens: Int = 1 << 20)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Empty-batch guard (the sibling-sink convention): an idle batch
        // would otherwise pay the full O(index) read + rewrite + swap of
        // BOTH stores for a no-op merge.
        if (!batch.isEmpty)
          exactSubstrScreenBatch(batch, indexPath, reportPath, gramLen, maxDocTokens)
      }
      .start()

  /** One micro-batch of [[exactSubstrScreenStream]], factored out so the
    * redelivery/fixpoint test can drive it directly. */
  private[graft] def exactSubstrScreenBatch(batch: DataFrame,
      indexPath: String, reportPath: String, gramLen: Int,
      maxDocTokens: Int): Unit = {
    import graft.ext.Dedup
    val spark2 = batch.sparkSession
    val hc = spark2.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(indexPath), hc)
    // One tokenize scan per batch (giant-doc branch included) and one
    // gram explode+md5 scan (index merge + mark join) — every consumer
    // reads the scoped checkpoint blocks, released at the end of the
    // batch whether it commits or fails (swapWrite THROWS by design on a
    // failed rename).
    graft.ops.Ckpt.scoped(Dedup.tokenLengths(batch)) { tl0 =>
      val tl = tl0.filter(col("n") < maxDocTokens)
      // Evidence (the gram index) covers ALL docs including giants, same
      // as batch x213: a giant doc's spans still claim ownership and mark
      // later copies; only the EDIT below is restricted to sub-cap docs.
      graft.ops.Ckpt.scoped(Dedup.gramOccurrences(tl0, gramLen)) { occ =>
        val occB = occ.select(col("g"), struct(col("doc_id"), col("pos")).as("k"))
        // Two keyed set-minima over an occurrence-key multiset (g, k):
        // k1 = global first occurrence, k2 = second-smallest distinct key.
        def minima(occAll: DataFrame): DataFrame = {
          val first = occAll.groupBy("g").agg(min(col("k")).as("k1"))
          val second = occAll.join(first, Seq("g"))
            .filter(col("k") > col("k1"))
            .groupBy("g").agg(min(col("k")).as("k2"))
          first.join(second, Seq("g"), "left")
        }
        val newIndex = readLivePath(fs, indexPath) match {
          case Some(live) =>
            val idx = spark2.read.parquet(live)
            val batchGrams = occB.select("g").distinct()
            // Only grams present in the batch can change their minima: the
            // untouched rows pass through without entering the aggregate,
            // so the merge shuffle is batch-scale (scaladoc cost model).
            val touched = idx.join(batchGrams, Seq("g"), "left_semi")
            val occAll = occB
              .unionByName(touched.select(col("g"), col("k1").as("k")))
              .unionByName(touched.filter(col("k2").isNotNull)
                .select(col("g"), col("k2").as("k")))
            minima(occAll).unionByName(idx.join(batchGrams, Seq("g"), "left_anti"))
          case None => minima(occB)
        }
        swapWrite(newIndex, indexPath, "exactSubstrScreen.index")

        val idx = spark2.read.parquet(indexPath)
        val marked = occ
          .join(idx, Seq("g"))
          .filter(col("k2").isNotNull && col("n") < maxDocTokens &&
            !(col("doc_id") === col("k1.doc_id") && col("pos") === col("k1.pos")))
          .select(col("doc_id"), col("pos").as("s"),
            (col("pos") + (gramLen - 1)).as("e"))
        val report = Dedup.applySpanRemoval(tl, marked)
          .withColumn("skipped", lit(false))
          .unionByName(tl0.filter(col("n") >= maxDocTokens)
            .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
              col("n").cast("long").as("n_kept"), lit(0L).as("n_removed"),
              lit(0L).as("n_spans"), lit(null).cast("string").as("cleaned_hash"),
              lit(true).as("skipped")))
        val fsR = org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create(reportPath), hc)
        // INSERT-ONLY merge (first-writer-wins by doc_id): committed rows are
        // immutable — a redelivered batch whose recomputed edits differ (gram
        // ownership moved under it after an out-of-order arrival) inserts
        // nothing, so no document is ever retroactively edited.
        val merged = readLivePath(fsR, reportPath) match {
          case Some(live) =>
            val target = spark2.read.parquet(live)
            target.unionByName(
              report.join(target.select("doc_id"), Seq("doc_id"), "left_anti")
                .select(target.columns.map(col).toIndexedSeq: _*))
          case None => report
        }
        swapWrite(merged, reportPath, "exactSubstrScreen.report")
      }
    }
  }

  /** Maintenance compaction for [[exactSubstrScreenStream]]'s gram-
    * ownership index — the committed lifecycle policy for its state.
    *
    * GROWTH CONTRACT (monotonic by design): the index holds exactly one
    * row per DISTINCT gram ever ingested, and no row is droppable
    * without changing verdicts — `k1` decides span ownership for every
    * FUTURE document containing that gram, and a TTL/retention bound
    * would silently re-admit previously-seen text as novel, which for an
    * ingest screen is a correctness bug, not a space optimization. What
    * IS bounded is the growth RATE: each batch adds only its NOVEL
    * grams, and gram novelty decays as the corpus grows (the Heaps-law
    * shape the x140 gate measures on this corpus), so the index grows
    * sublinearly in tokens ingested. The policy is therefore: monotonic
    * store + periodic PHYSICAL compaction + the size metric this method
    * returns, which a production scheduler records per compaction to
    * watch the novelty rate instead of pretending the set can shrink.
    *
    * Compaction is a pure physical rewrite — identical rows, better
    * layout (the io.Layout zone-clustering move): range-partitioned and
    * sorted by gram hash, so the per-batch mark join and pass-through
    * anti-join get tight row-group bounds on `g` (row groups outside a
    * batch's gram range skip on parquet statistics alone), and the file
    * fragmentation the micro-batch swap-writes accumulate collapses to
    * `targetPartitions` sorted files. On a cluster the same index
    * targets a partitioned+bucketed catalog table so the merge
    * partition-overwrites only touched partitions — that shape is
    * EXECUTABLE, not aspirational: [[mergeSubstrIndexPartitioned]],
    * pinned by StreamingSpec (untouched partitions keep their files
    * byte-stable, rows identical to this local twin's). The local twin
    * keeps the swap-commit, so a crash mid-compaction leaves the
    * previous index live. Verdict-neutrality is pinned by StreamingSpec: a screen run
    * whose index is compacted between batches produces byte-identical
    * index rows and reports.
    *
    * Returns the size metric, one row: gram count, duplicated-gram
    * count, and file count / bytes before and after the rewrite.
    */
  def compactSubstrIndex(spark: SparkSession, indexPath: String,
      targetPartitions: Int = 32): DataFrame = {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(indexPath), spark.sparkContext.hadoopConfiguration)
    def stats(p: String): (Long, Long) = {
      val s = fs.getContentSummary(new org.apache.hadoop.fs.Path(p))
      (s.getFileCount, s.getLength)
    }
    readLivePath(fs, indexPath) match {
      case None =>
        Seq.empty[(Long, Long, Long, Long, Long, Long)].toDF(
          "n_grams", "n_duplicated",
          "files_before", "bytes_before", "files_after", "bytes_after")
      case Some(live) =>
        val (fb, bb) = stats(live)
        swapWrite(
          spark.read.parquet(live)
            .repartitionByRange(targetPartitions, col("g"))
            .sortWithinPartitions("g"),
          indexPath, "exactSubstrScreen.compact")
        val (fa, ba) = stats(indexPath)
        val c = spark.read.parquet(indexPath).agg(
          count(lit(1)).as("n"),
          coalesce(sum(when(col("k2").isNotNull, lit(1L)).otherwise(lit(0L))),
            lit(0L)).as("d")).head()
        Seq((c.getLong(0), c.getLong(1), fb, bb, fa, ba)).toDF(
          "n_grams", "n_duplicated",
          "files_before", "bytes_before", "files_after", "bytes_after")
    }
  }

  /** The CLUSTER production shape the [[compactSubstrIndex]] scaladoc
    * documents, executable (round-13 directive #5): the gram index
    * lives as a catalog table partitioned by `pb = pmod(hash(g),
    * nPartitions)` and bucketed+sorted on `g` within each partition
    * ([[graft.io.Layout.writeBucketedPartitioned]]). A batch merge
    * receives the batch's NEW/UPDATED index rows (the batch-scale
    * output of the minima algebra in [[exactSubstrScreenBatch]] — at
    * most one row per batch gram), unions them with the UNTOUCHED rows
    * of the AFFECTED partitions only, and dynamic-partition-OVERWRITES
    * exactly those partitions: a partition none of whose grams appear
    * in the batch keeps its files byte-for-byte (StreamingSpec pins
    * this from the file listing), so per-batch write cost is bounded by
    * the touched-partition row count, not the index size — the
    * replacement for the local twin's whole-index swap-write, whose
    * full rewrite is exactly what does not scale to a 100 TB corpus's
    * gram index.
    *
    * Atomicity note: dynamic partition overwrite commits per partition
    * via the staging protocol — same crash story as any lakehouse
    * INSERT OVERWRITE; the local twin keeps the swap-commit because a
    * single-directory rename is the strongest atomicity a bare
    * filesystem offers.
    *
    * Returns a one-row audit frame: partitions touched, updated rows
    * written, pass-through rows rewritten alongside them, and the
    * table's total row count after the merge.
    */
  def mergeSubstrIndexPartitioned(spark: SparkSession, updated: DataFrame,
      table: String, nPartitions: Int = 32, nBuckets: Int = 4): DataFrame = {
    import spark.implicits._
    require(nPartitions >= 1 && nBuckets >= 1, "layout knobs must be positive")
    val withPb = updated.withColumn("pb",
      pmod(hash(col("g")), lit(nPartitions)))
    if (!spark.catalog.tableExists(table)) {
      graft.io.Layout.writeBucketedPartitioned(withPb, table, "g", "pb", nBuckets)
      val n = spark.table(table).count()
      val nParts = spark.table(table).select("pb").distinct().count()
      Seq((nParts, n, 0L, n)).toDF(
        "n_partitions_touched", "n_updated", "n_passthrough", "n_total")
    } else {
      // Affected partitions: a bounded pull (<= nPartitions values).
      val affected = withPb.select("pb").distinct()
        .collect().map(_.getInt(0)).sorted
      val existing = spark.table(table)
      // Pass-through = affected partitions' rows whose gram is NOT in
      // this batch — they must be rewritten with the partition (an
      // overwrite replaces whole partitions), and ONLY they: untouched
      // partitions never enter the plan (partition pruning on pb).
      val passThrough = existing
        .filter(col("pb").isInCollection(affected.map(Integer.valueOf)))
        .join(withPb.select("g"), Seq("g"), "left_anti")
      val outCols = existing.columns.map(col).toIndexedSeq
      val merged = passThrough.select(outCols: _*)
        .unionByName(withPb.select(outCols: _*))
      // Audit counts run BEFORE the overwrite: `updated`/`existing` may
      // derive from the live catalog table, and counting after the
      // commit would lazily re-evaluate them against the post-merge
      // state (wrong numbers, plus two extra scans of the rewritten
      // partitions).
      val nUp = withPb.count()
      val nPass = passThrough.count()
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try merged.write.mode(SaveMode.Overwrite).insertInto(table)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      Seq((affected.length.toLong, nUp, nPass, spark.table(table).count()))
        .toDF("n_partitions_touched", "n_updated", "n_passthrough", "n_total")
    }
  }

  /** State for [[kmvCardinalityStream]]: the source's bottom-k distinct
    * hash sketch, sorted ascending — a flat Array[Long], ≤ k·8 bytes,
    * the whole point of carrying a sketch instead of a distinct set. */
  final case class KmvState(hashes: Array[Long])

  /** One row per (source, micro-batch) from [[kmvCardinalityStream]]. */
  final case class KmvEstimate(source: String, n_sketch: Long,
      distinct_est: Double, batch_rows: Long)

  /** Streaming KMV cardinality monitor — the incremental twin of the
    * batch x214 sketches ([[graft.ops.Kmv]]): per source, maintain the
    * bottom-k distinct-shingle-hash sketch as keyed state and emit the
    * running distinct estimate after every micro-batch. This is the
    * always-on "how big is each source's vocabulary getting, and when
    * does a feed start repeating itself?" gauge an ingest pipeline
    * wants without ever storing a distinct set: state is ≤ k longs per
    * source, FOREVER, no compaction policy needed (contrast the
    * exact-substring screen's growing gram index).
    *
    * Kernel sharing, both directions: shingles come from the SAME
    * explode kernel as every batch dedup operator
    * ([[graft.ext.Dedup.shingleRows]] — the cache-free projection the
    * cached batch path is built on), hashes from the same md5-first-8
    * convention ([[graft.ops.Kmv.hash32]]), the fold IS the batch
    * aggregator's `reduce` ([[graft.ops.Kmv.BottomK]]), and the
    * estimate is [[graft.ops.Kmv.estimate]] — so after any prefix of
    * micro-batches the state equals the batch sketch of the rows so
    * far, exactly (StreamingSpec pins sketch-array equality and
    * estimate equality against [[graft.ops.Kmv.cardinalityBySource]]).
    *
    * Redelivery: inserting a hash already in the sketch is a no-op by
    * the aggregator's distinct semantics, so at-least-once delivery
    * never perturbs the sketch — idempotence by construction rather
    * than by dedup bookkeeping (pinned in StreamingSpec).
    */
  def kmvCardinalityStream(spark: SparkSession, docs: DataFrame,
      k: Int = graft.ops.Kmv.DefaultK): Dataset[KmvEstimate] = {
    import spark.implicits._
    require(k >= 2, s"k must be >= 2, got $k")
    val hashed = graft.ext.Dedup.shingleRows(docs, Seq("source"))
      .select(col("source"), graft.ops.Kmv.hash32(col("shingle")).as("h"))
      .as[(String, Long)]
    val agg = graft.ops.Kmv.BottomK(k)
    hashed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, batch: Iterator[(String, Long)],
         state: GroupState[KmvState]) =>
          var sk: Seq[Long] = state.getOption
            .map(_.hashes.toVector).getOrElse(Vector.empty)
          var nBatch = 0L
          batch.foreach { case (_, h) => sk = agg.reduce(sk, h); nBatch += 1 }
          state.update(KmvState(sk.toArray))
          Iterator.single(KmvEstimate(source, sk.size.toLong,
            graft.ops.Kmv.estimate(sk, k), nBatch))
      }
  }

  /** State for [[cmsTokenStream]]: one exact BIGINT counter — a count-min
    * cell. The whole grid is depth·width counters across all keys. */
  final case class CmsCellState(count: Long)

  /** One row per (touched cell, micro-batch) from [[cmsTokenStream]]. */
  final case class CmsCellUpdate(h: Int, cell: Int, count: Long,
      batch_tokens: Long)

  /** Streaming count-min sketch — the incremental twin of the batch
    * x134/x228 counter grid ([[graft.ext.TextAnalysis.countMinSketch]]):
    * maintain the depth×width token-frequency sketch as keyed state, one
    * exact BIGINT counter per (hash row, cell), and emit each touched
    * cell's running count after every micro-batch. This is the always-on
    * "which tokens are getting heavy, and is a feed's mass shifting?"
    * gauge an ingest pipeline wants without ever storing a vocabulary:
    * state is depth·width longs, FOREVER, regardless of corpus size.
    *
    * Kernel sharing: cells come from the SAME salted-md5 hash the batch
    * sketch and its shard-merge audit use
    * ([[graft.ext.TextAnalysis.cmsCells]]), and the fold is the same
    * addition the x228 audit proves shard-mergeable — so after any
    * prefix of micro-batches the state equals the batch grid of the
    * rows so far, exactly (StreamingSpec pins cell-for-cell equality
    * against the direct batch build).
    *
    * Delivery contract — the honest CONTRAST with [[kmvCardinalityStream]]:
    * counting state is NOT redelivery-idempotent. KMV's distinct-insert
    * makes re-sent rows a no-op; a counter adds them again (StreamingSpec
    * pins the doubling). The sketch therefore relies on Structured
    * Streaming's checkpointed exactly-once state updates; a source that
    * re-delivers data as a NEW batch double-counts by design — the same
    * property batch shard-merge has (adding a shard twice is wrong),
    * surfaced at the delivery layer.
    *
    * Scale note: flatMapGroupsWithState shuffles per-occurrence rows to
    * the depth·width key space with no map-side combine — fine while the
    * per-batch token volume is shuffle-sized. A 100 TB-rate feed
    * pre-reduces each micro-batch to (h, cell, n) inside `foreachBatch`
    * (one bounded aggregation, the x228 merge shape) and folds those ≤
    * depth·width rows into a persistent grid — that shape is
    * [[cmsGridStream]], executable and StreamingSpec-pinned to the same
    * state contract — and, unlike this keyed-state twin, made
    * replay-idempotent by the committed-batchId guard (an additive
    * fold has no engine-managed exactly-once state to lean on).
    */
  def cmsTokenStream(spark: SparkSession, docs: DataFrame,
      depth: Int = 4, width: Int = 256): Dataset[CmsCellUpdate] = {
    import spark.implicits._
    require(depth >= 1 && depth <= 8 && width >= 16 && width <= 65536,
      s"unreasonable sketch shape ${depth}x$width")
    val cells = docs
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
      .select(graft.ext.TextAnalysis.cmsCells(col("tok"), depth, width).as("hc"))
      .select(col("hc.h").as("h"), col("hc.cell").cast("int").as("cell"))
      .as[(Int, Int)]
    cells
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Int), batch: Iterator[(Int, Int)],
         state: GroupState[CmsCellState]) =>
          var n = 0L
          batch.foreach(_ => n += 1)
          val total = state.getOption.map(_.count).getOrElse(0L) + n
          state.update(CmsCellState(total))
          Iterator.single(CmsCellUpdate(key._1, key._2, total, n))
      }
  }

  /** The committed high-water batchId of a swap-maintained fold table —
    * the replay guard for ADDITIVE foreachBatch sinks. foreachBatch is
    * at-least-once: a crash after [[commitSwap]] but before the
    * checkpoint commits its offsets replays the same micro-batch, and a
    * counter fold that re-applies it double-counts forever (the keyed
    * sinks are immune — latestPerKey makes a replayed batch crown the
    * same winner — but addition is not). The marker is a `_`-prefixed
    * file INSIDE the fold table directory (parquet readers skip `_`
    * names), written before the swap, so "grid state" and "which batch
    * produced it" commit in the same atomic rename — no instant exists
    * where one is visible without the other.
    *
    * The marker also records WHICH streaming query committed the batch:
    * batchIds are only monotone WITHIN one query (they restart at 0
    * under a fresh checkpoint location), so a fold table re-fed by a
    * NEW query would read every restarted id as `<= committed` and
    * silently skip it — data loss dressed as a replay skip. The guard
    * therefore compares batchIds only within the same query id (the
    * Delta txn-idempotence convention) and FAILS FAST on a mismatch:
    * neither skipping (loses data) nor applying (double-counts any
    * genuinely redelivered rows) is safe, and the operator must choose
    * — resume the original checkpoint, or start a fresh fold table.
    * Legacy markers (batchId only) and direct batch-context calls (no
    * stream thread, no query id) keep the id-only compare. */
  private[graft] def readBatchMarker(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: String): Option[(Long, Option[String])] = {
    val p = new org.apache.hadoop.fs.Path(tableDir, "_last_batch")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val s = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8")).readLine()
        // An unparseable marker must FAIL, not read as "no marker": a
        // None here would re-fold an already-committed batch (silent
        // double-count) — the one outcome the marker exists to prevent.
        // EVERY malformed shape routes through the same operator
        // message — a non-numeric or Long-overflowing batch id (which
        // would otherwise throw a bare NumberFormatException from
        // toLong and lose the repair-or-remove guidance), and a
        // null/blank line: a zero-byte marker file (e.g. a crash
        // between create and write) is an EXISTING marker whose content
        // is gone, and reading it as "no marker" would re-fold an
        // already-committed batch — the silent double-count the marker
        // exists to prevent.
        def fail(content: String): Nothing =
          throw new IllegalStateException(
            s"unparseable _last_batch marker in $tableDir: " +
              s"'$content' — refusing to guess the replay " +
              "state; repair or remove the fold table")
        def idOf(tokens: Array[String]): Long =
          try tokens.head.toLong
          catch { case _: NumberFormatException =>
            fail(tokens.mkString(" ")) }
        if (s == null || s.trim.isEmpty) fail("<empty marker file>")
        Some(s.trim.split("\\s+")).map {
          case t @ Array(_)    => (idOf(t), None)
          case t @ Array(_, q) => (idOf(t), Some(q))
          case other           => fail(other.mkString(" "))
        }
      } finally in.close()
    }
  }

  private[graft] def writeBatchMarker(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: String, batchId: Long, queryId: Option[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(tableDir, "_last_batch")
    val out = fs.create(p, true)
    val line = queryId.fold(s"$batchId")(q => s"$batchId $q")
    try out.write(s"$line\n".getBytes("UTF-8")) finally out.close()
  }

  /** The streaming query id of the CURRENT foreachBatch invocation, read
    * off the stream-execution thread's local property (Spark sets
    * `sql.streaming.queryId` on the thread that drives each batch; the
    * id is stable across restarts of the same checkpoint, unlike runId).
    * None outside a stream (the folds' direct batch-context tests). */
  private def currentQueryId(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))

  /** The shared replay verdict of the additive folds: true = this
    * batchId is already committed, skip it. Fails fast when the marker
    * was committed by a DIFFERENT streaming query (see
    * [[readBatchMarker]] — restarted batchIds make both skip and apply
    * unsafe). */
  private def alreadyCommitted(committed: Option[(Long, Option[String])],
      batchId: Long, queryId: Option[String], sink: String,
      tablePath: String): Boolean =
    committed.exists { case (id, markerQid) =>
      (markerQid, queryId) match {
        case (Some(m), Some(q)) if m != q => throw new IllegalStateException(
          s"$sink: fold table $tablePath was last committed by streaming " +
            s"query $m but this batch comes from query $q. BatchIds " +
            "restart at 0 under a new checkpoint location, so the replay " +
            "guard cannot tell a replay from new data — resume the " +
            "original checkpoint, or point the new query at a fresh " +
            "fold table.")
        case _ => id >= batchId
      }
    }

  /** The shared skeleton of the ADDITIVE foreachBatch sinks: pre-reduce
    * the micro-batch to its bounded state rows (`toState`), fold them
    * into the live table (`merge` — associative, so any batch order
    * converges), and swap-commit with the folded batchId riding in the
    * same atomic rename. Empty batches are no-ops (sibling-sink
    * convention) and an already-committed batchId is skipped — the
    * replay guard that makes addition idempotent under at-least-once
    * delivery. Upgrade path: a fold table written before the marker
    * existed reads as committed=None, so its FIRST post-upgrade fold
    * cannot distinguish a replay (the legacy table carries no record of
    * which batch it last absorbed — no guess would be safe); the marker
    * commits with that fold and every later batch is guarded. Returns
    * true iff the batch was applied. */
  private def additiveFold(spark: SparkSession, batch: DataFrame,
      batchId: Long, tablePath: String, sink: String)(
      toState: DataFrame => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): Boolean = {
    // Resolve the FILESYSTEM FROM THE TABLE PATH (hdfs://, s3a://, ...),
    // like every other sink — a getLocal here would read the replay
    // marker and run the swap against the wrong filesystem on any
    // non-local deployment.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(tablePath),
      spark.sparkContext.hadoopConfiguration)
    if (batch.isEmpty) return false
    val qid = currentQueryId(spark)
    val committed = readLivePath(fs, tablePath).flatMap(readBatchMarker(fs, _))
    if (alreadyCommitted(committed, batchId, qid, sink, tablePath)) return false
    val part = toState(batch)
    val merged = readLivePath(fs, tablePath) match {
      case Some(live) => merge(spark.read.parquet(live), part)
      case None => part
    }
    merged.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(tablePath + "_tmp")
    writeBatchMarker(fs, tablePath + "_tmp", batchId, qid)
    commitSwap(fs, tablePath, sink)
    true
  }

  /** One fold step of [[cmsGridStream]], factored out so the replay
    * contract is directly testable: folding the same (batch, batchId)
    * twice must be a no-op the second time. Returns true iff the batch
    * was applied (false = replay skipped). */
  private[graft] def cmsGridFold(spark: SparkSession, batch: DataFrame,
      batchId: Long, tablePath: String, depth: Int, width: Int): Boolean =
    additiveFold(spark, batch, batchId, tablePath, "cmsGridStream") { b =>
      // Pre-reduce: the batch collapses to <= depth*width rows HERE,
      // before any state machinery sees it.
      b.select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
        .select(graft.ext.TextAnalysis.cmsCells(col("tok"), depth, width)
          .as("hc"))
        .groupBy(col("hc.h").as("h"), col("hc.cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("c"))
    } { (live, grid) =>
      live.unionByName(grid).groupBy("h", "cell").agg(sum(col("c")).as("c"))
    }

  /** The [[cmsTokenStream]] scaladoc's production shape, executable: a
    * foreachBatch pipeline that PRE-REDUCES each micro-batch to its
    * (h, cell, n) grid — one bounded aggregation, ≤ depth·width rows
    * regardless of batch volume — and folds it into a persistent grid
    * table by addition (the x228 merge, applied incrementally). The
    * flatMapGroupsWithState twin shuffles per-occurrence rows to the
    * state store; this shape ships ≤ depth·width rows per batch no
    * matter the feed rate, which is what survives 100 TB/day.
    *
    * The grid table is ≤ depth·width rows FOREVER, so the fold is a
    * whole-grid read-add-swap (commitSwap — crash-atomic); there is
    * nothing to prune or compact, the bounded state IS the table.
    * Unlike the keyed sinks' latestPerKey dedup, an additive fold is
    * not naturally replay-safe, so each swap also commits the batchId
    * it folded ([[writeBatchMarker]]) and a redelivered batch (id ≤
    * committed) is skipped — at-least-once delivery cannot double-count
    * the grid. Returns the started query; the table converges to the
    * batch grid of everything ingested (StreamingSpec pins cell-for-cell
    * equality against [[graft.ext.TextAnalysis]]'s direct build, and
    * replay-idempotence of the fold).
    */
  def cmsGridStream(spark: SparkSession, docs: DataFrame, tablePath: String,
      depth: Int = 4, width: Int = 256,
      queryName: String = "cms_grid"): org.apache.spark.sql.streaming.StreamingQuery = {
    require(depth >= 1 && depth <= 8 && width >= 16 && width <= 65536,
      s"unreasonable sketch shape ${depth}x$width")
    docs.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cmsGridFold(spark, batch, batchId, tablePath, depth, width)
        ()
      }
      .start()
  }

  /** One fold step of [[checksumSink]], factored out so the replay
    * contract is directly testable (the [[cmsGridFold]] convention).
    * Each micro-batch pre-reduces to its own [[graft.ops.Reconcile]]
    * fingerprint (≤ nBuckets rows regardless of batch volume) and folds
    * into the live table by the accumulators' own algebra: counts and
    * modular-sum terms ADD, the two XOR accumulators XOR — all
    * associative and order-free, so after any prefix of micro-batches
    * the table equals [[graft.ops.Reconcile.tableChecksum]] of every
    * row ingested, bit for bit. (The batch `sum1` is a plain BIGINT sum
    * of pre-reduced terms < 2³⁰, NOT re-reduced mod p, so the stream
    * adds raw — identical overflow envelope, ~8.5e9 rows per bucket.) */
  private[graft] def checksumFold(spark: SparkSession, batch: DataFrame,
      batchId: Long, tablePath: String, cols: Seq[String],
      nBuckets: Int): Boolean =
    additiveFold(spark, batch, batchId, tablePath, "checksumSink") { b =>
      graft.ops.Reconcile.tableChecksum(b, cols, nBuckets)
    } { (live, fp) =>
      // ONE merge definition for batch-incremental and streaming folds.
      graft.ops.Reconcile.mergeChecksums(live.unionByName(fp))
    }

  /** Streaming reconciliation fingerprint — the continuously-maintained
    * twin of [[graft.ops.Reconcile.tableChecksum]] (x234) and the shape
    * a CDC-fed warehouse team actually runs: every micro-batch of
    * ingested rows folds into a persistent ≤ nBuckets-row fingerprint
    * table, so "does the replica still equal everything we ever shipped
    * it?" is answerable at ANY moment by handing this table and the
    * replica's batch fingerprint to [[graft.ops.Reconcile.checksumDiff]]
    * — no re-scan of the source side, whose rows may long since be gone
    * from the feed. A mismatch then localizes (x239) and drills to rows
    * (x240) on the replica alone.
    *
    * Kernel sharing: the per-batch fingerprint IS `tableChecksum` — same
    * canonicalization, same salted hashes, same accumulators — and the
    * fold is the accumulators' own associative algebra, so
    * stream-vs-batch equality is exact, not approximate (StreamingSpec
    * pins it). State is ≤ nBuckets rows FOREVER; the fold ships ≤
    * nBuckets rows per batch no matter the feed rate. Replay-safe via
    * the committed-batchId guard ([[writeBatchMarker]]): at-least-once
    * redelivery cannot double-fold a batch (StreamingSpec pins the
    * skip), unlike a bare additive counter.
    */
  def checksumSink(spark: SparkSession, rows: DataFrame, cols: Seq[String],
      tablePath: String, nBuckets: Int = 64,
      queryName: String = "checksum_fp"): org.apache.spark.sql.streaming.StreamingQuery = {
    require(cols.nonEmpty, "at least one column")
    require(nBuckets >= 1 && nBuckets <= 65536,
      s"unreasonable bucket count $nBuckets")
    rows.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        checksumFold(spark, batch, batchId, tablePath, cols, nBuckets)
        ()
      }
      .start()
  }

  /** One row per (touched bin, micro-batch) from [[histogramStream]]. */
  final case class HistBinUpdate(bin: Int, count: Long, batch_rows: Long)

  /** Streaming fixed-bin histogram — the incremental twin of the batch
    * quantile sketch ([[graft.ops.HistogramSketch]]) and the third
    * member of the streaming-sketch trio (KMV cardinality, count-min
    * counts, histogram quantiles): maintain `bins` exact BIGINT bin
    * counters as keyed state against PINNED bounds and emit each
    * touched bin's running count after every micro-batch. The always-on
    * "is the length/value distribution of this feed drifting?" gauge —
    * any consumer can turn the emitted bin table into quantile
    * estimates with the batch sketch's bounded cumulative math.
    *
    * The bounds are an explicit CONFIG argument, not data-derived — a
    * stream cannot know its corpus min/max, and the batch mergeAudit's
    * contract is the same: histograms only merge when built against
    * the same agreed (lo, hi, bins). Bin assignment IS the batch
    * kernel ([[graft.ops.HistogramSketch.binIndex]] — one definition),
    * so after any micro-batch prefix the state equals the batch
    * histogram of the rows so far against those bounds, exactly
    * (StreamingSpec pins bin-for-bin equality). Out-of-range values
    * clamp into the edge bins exactly as the batch kernel clamps
    * (floor <0 never occurs batch-side because batch bounds are true
    * min/max; the stream pins the clamp explicitly).
    *
    * Delivery contract: counting state, like [[cmsTokenStream]] — NOT
    * redelivery-idempotent; relies on checkpointed exactly-once state
    * updates (pinned contrast with KMV).
    */
  def histogramStream(spark: SparkSession, df: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int = 64): Dataset[HistBinUpdate] = {
    import spark.implicits._
    require(bins >= 2 && bins <= 65536, s"unreasonable bin count $bins")
    require(lo <= hi, s"bounds must be ordered, got [$lo, $hi]")
    // NULLs are excluded explicitly: least()/greatest() SKIP nulls, so
    // an unfiltered NULL value would silently land in the top bin
    // (binIndex's least(bins-1, NULL) = bins-1) and inflate the hi edge.
    val binned = df.filter(col(valueCol).isNotNull).select(
      greatest(lit(0), graft.ops.HistogramSketch.binIndex(
        col(valueCol).cast("double"), lit(lo), lit(hi), bins)).as("bin"))
      .as[Int]
    binned
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bin: Int, batch: Iterator[Int], state: GroupState[CmsCellState]) =>
          var n = 0L
          batch.foreach(_ => n += 1)
          val total = state.getOption.map(_.count).getOrElse(0L) + n
          state.update(CmsCellState(total))
          Iterator.single(HistBinUpdate(bin, total, n))
      }
  }

  /** Drive a streaming DataFrame to completion against the in-memory
    * sink and return the materialized result (test/local harness; a
    * production run would write to a real sink with the same plan).
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      outputMode: String = "update"): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
