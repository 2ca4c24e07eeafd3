package graft

import graft.io.Tables
import graft.ops.RangeJoin
import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the queries' PHYSICAL plans are part of
  * the contract, not an accident. Each assertion pins a property that
  * matters at 100 TB and that a refactor could silently lose — binned
  * range joins staying hash joins, windows staying partitioned, scans
  * staying pruned, dimensions staying broadcast.
  */
class PlanSpec extends SparkSuite {

  private def executed(name: String): String =
    queries.Registry.queryMap(name)(spark, Sf).queryExecution.executedPlan.toString

  test("x37 range join plans as a hash equi-join on the bin, not a nested loop") {
    val plan = executed("x37_incident_attribution")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"binned range join degenerated to a nested loop:\n$plan")
    // The naive theta-join spelling of the same query DOES nested-loop —
    // the structural difference RangeJoin exists to provide.
    val ev = Tables(spark, Sf).events
    val inc = ev.filter(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_errors")).filter(col("n_errors") >= 3)
    val pur = ev.filter(col("event_type") === "purchase").select(col("ts").as("p_ts"))
    val naive = pur.join(inc,
      col("p_ts") >= col("hour") && col("p_ts") < col("hour") + expr("interval 1 hour"))
    assert(naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("x186/x187 user-grain ranks never cross an UNPARTITIONED ranking " +
    "window; global windows are bucket-histogram cumulatives only") {
    import org.apache.spark.sql.catalyst.expressions.{CumeDist, NTile, RowNumber}
    for (name <- Seq("x186_rfm_segmentation", "x187_gini_concentration")) {
      val df = queries.Registry.queryMap(name)(spark, Sf)
      val windows = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"$name lost its window operators")
      val globals = windows.filter(_.partitionSpec.isEmpty)
      // No per-row ranking function may run unpartitioned — that is the
      // single-task funnel exactAscRank exists to remove.
      globals.foreach { w =>
        val rankFns = w.windowExpression.flatMap(_.collect {
          case e @ (_: NTile | _: CumeDist | _: RowNumber) => e
        })
        assert(rankFns.isEmpty,
          s"$name ranks the user grain through a global window: $rankFns")
        // The surviving global windows are running sums whose input is an
        // AGGREGATED histogram (value-domain-bounded), never raw rows.
        assert(w.child.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.isDefined,
          s"$name has a global window over unaggregated (row-grain) input")
      }
    }
  }

  test("x21 deciles plan has no window operator at all (boundary broadcast instead)") {
    val plan = executed("x21_revenue_deciles")
    assert(!plan.contains("Window"), s"x21 regressed to a window:\n$plan")
    // The single boundary row must BROADCAST onto the customer rows
    // (the view's internal fact joins legitimately sort-merge; the pin
    // is on the bounds join only).
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"decile bounds not broadcast:\n$plan")
  }

  test("s06 scalar functions stay a pure projection: one pruned scan, no join/agg/window") {
    val plan = executed("s06_scalar_functions")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate") &&
      !plan.contains("Window"),
      s"s06 should be scan+project+sort only:\n$plan")
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("o_orderkey") && scanLine.contains("o_orderdate") &&
      !scanLine.contains("o_custkey") && !scanLine.contains("o_comment"),
      s"scan not pruned to the projected columns: $scanLine")
  }

  test("x67 contamination probe stays an equi-join on the gram — never doc x doc") {
    val plan = executed("x67_contamination")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"contamination degenerated to all-pairs:\n$plan")
    assert(plan.contains("gram"), s"lost the gram join key:\n$plan")
  }

  test("x69 curation pipeline plans with ZERO joins — windows and projections only") {
    val plan = executed("x69_curation_pipeline")
    assert(!plan.contains("Join"),
      s"curation should need no join (inline score + windowed dedup/quota):\n$plan")
    val df = queries.Registry.queryMap("x69_curation_pipeline")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size === 2, s"expected the hash + source windows, got ${windows.size}")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "curation window must be partitioned"))
  }

  test("x45 packing, x48 position, and x68 quota windows are partitioned, never global") {
    for (name <- Seq("x45_context_packing", "x48_revenue_position", "x68_source_quota")) {
      val df = queries.Registry.queryMap(name)(spark, Sf)
      // sparkPlan, not executedPlan: AQE wraps the executed plan in an
      // AdaptiveSparkPlanExec whose inner tree collect() cannot see.
      val windows = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"$name lost its window operator")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$name has an UNPARTITIONED window (single-task at scale)"))
    }
  }

  test("x42 histogram scan prunes to the single needed column") {
    val plan = executed("x42_price_histogram")
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("o_totalprice"), s"scan line: $scanLine")
    assert(!scanLine.contains("o_orderpriority") && !scanLine.contains("o_custkey"),
      s"histogram reads columns it never uses: $scanLine")
  }

  test("filter pushdown reaches the parquet scan (q06 date threshold)") {
    val plan = executed("q06_inactive_customers")
    assert(plan.contains("PushedFilters: [") &&
      plan.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("o_orderdate")),
      s"date filter not pushed:\n${plan.linesIterator.filter(_.contains("Scan")).mkString("\n")}")
  }

  test("the revenue view broadcasts its dimension joins") {
    val plan = graft.warehouse.View.dw(spark, Sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "geo dimension chain should broadcast, not shuffle")
  }

  /** Exchanges in a query's final plan, the view's cached subtree aside:
    * a cached scan's plan is an inner child, which this walk skips. */
  private def exchangesOutsideCache(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: Exchange => e.nodeName
      case r: ReusedExchangeExec => r.nodeName
    }
  }

  private val CachedPlanMayChange =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"

  private def q09Rows(dir: String) = queries.Registry.queryMap("q09_revenue_by_nation")(spark, dir)
    .collect().toSeq

  test("q01-q11 over a one-partition View.dw run as one job each, with no exchange above the view") {
    import graft.warehouse.View
    val dir = copyOfTables(Sf)
    withConf(CachedPlanMayChange) {
      assert(View.cachedPartitions(View.dw(spark, dir)) === Some(1))
      assert(queries.Warehouse.defs.size === 11)
      for (q <- queries.Warehouse.defs) {
        // `fn` bypasses Registry.queryMap's regime choice: one job each
        // under AQE, the caller's regime. RegimeSpec covers the small one.
        val df = q.fn(spark, dir)
        assert(jobsOf(df.collect()) === 1, s"${q.name} ran more than one job")
        val exchanges = exchangesOutsideCache(df)
        assert(exchanges.isEmpty, s"${q.name} plans exchanges above the view: $exchanges")
      }
    }
  }

  test("a View.dw cache AQE leaves in several partitions is served unwrapped, with the same rows") {
    import graft.warehouse.View
    val onePartition = withConf(CachedPlanMayChange) {
      val dir = copyOfTables(Sf)
      assert(View.cachedPartitions(View.dw(spark, dir)) === Some(1))
      q09Rows(dir)
    }
    val dir = copyOfTables(Sf)
    // At sf0.001 AQE broadcasts every fact join, and the view's last stage
    // is the one-split customer scan. Without broadcasts its last stage
    // reads a custkey shuffle, which AQE coalesces to its target size;
    // parallelismFirst (the default) floors that target at
    // minPartitionSize (1 MB), so both sizes are lowered.
    withConf(CachedPlanMayChange,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
      val dw = View.dw(spark, dir)
      assert(View.cachedPartitions(dw).exists(_ > 1))
      // Unwrapped: the served frame is the cache entry itself.
      assert(dw.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    }
    assert(q09Rows(dir) === onePartition)
  }

  test("x53/x54 sparse ANN candidate join stays an equi-join on (band_idx, band_key)") {
    for (name <- Seq("x53_ann_pairs_sparse", "x54_ann_topk_sparse")) {
      val plan = executed(name)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name candidate generation degenerated to all-pairs:\n$plan")
      assert(plan.contains("band_idx") && plan.contains("band_key"),
        s"$name lost the banded equi-join keys:\n$plan")
    }
  }

  test("the sparse-banded PageRank family never degenerates to all-pairs " +
    "(x73/x91/x137 plans contain no cartesian/nested-loop join)") {
    // Round-12 re-banding pin: the family's edge build is the capped
    // sparse candidate equi-join + cosine verify; a refactor that loses
    // the banding would surface here as a nested-loop pair join. (x77's
    // plan is checkpoint-truncated by the conserving loop, so the three
    // unrolled-plan siblings carry the pin for the shared build.)
    for (name <- Seq("x73_pagerank", "x91_pagerank_weighted", "x137_bfs_distances")) {
      val plan = executed(name)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name edge build degenerated to all-pairs:\n$plan")
    }
    graft.ext.Similarity.clearCaches(spark)
  }

  test("sparse banding generates far fewer candidates than the dense x11 preset") {
    import graft.ext.Similarity
    val emb = Tables(spark, Sf).embeddings
    val dense = Similarity.candidatePairs(emb).count()
    val sparse = Similarity.candidatePairs(emb,
      Similarity.SparseBands, Similarity.SparseBandBits, Similarity.SparseBucketCap).count()
    // 8-bit bands cut each band into 256 buckets vs 8 — candidate volume
    // should drop by well over an order of magnitude on this corpus.
    assert(sparse * 10 < dense,
      s"sparse banding is not sparse: dense=$dense sparse=$sparse")
  }

  test("bucket cap drops hot buckets: capped candidates never exceed N*cap/2 per band") {
    import graft.ext.Similarity
    val emb = Tables(spark, Sf).embeddings
    val n = emb.count()
    val cap = 8
    // A deliberately hot configuration (1 band × 2 bits = 4 buckets) so
    // the cap must bite: every bucket of width > cap vanishes from the
    // candidate set, bounding volume by construction.
    val capped = Similarity.candidatePairs(emb, 1, 2, cap).count()
    assert(capped <= n * cap / 2,
      s"cap violated: $capped candidates from $n vectors at cap=$cap")
  }

  test("x61 mixing joins the corpus to broadcast rates — no corpus-side shuffle join") {
    val plan = executed("x61_temperature_mix")
    assert(plan.contains("BroadcastHashJoin"), s"rates join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled for a dim-sized rate table:\n$plan")
  }

  test("x62 redaction is a pure projection over a pruned scan — no join, no aggregate") {
    val df = queries.Registry.queryMap("x62_redaction")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"redaction should be scan+project only:\n$plan")
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("doc_id") && scanLine.contains("text") &&
      !scanLine.contains("lang"), s"scan not pruned: $scanLine")
  }

  test("x64 rolling distinct: bounds broadcast, no shuffle join of the fact") {
    val plan = executed("x64_rolling_wau")
    assert(!plan.contains("SortMergeJoin"),
      s"bounds clamp shuffled the exploded fact:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"bounds row should broadcast:\n$plan")
  }

  test("range join resolves column names that need backticks (dots, spaces, hyphens)") {
    import spark.implicits._
    val points = Seq((1L, "2024-01-01 00:10:00"), (2L, "2024-01-01 03:00:00")).toDF("pid", "s")
      .select(col("pid"), col("s").cast("timestamp").as("p.ts"))
    val ivals = Seq((10L, "2024-01-01 00:00:00", "2024-01-01 01:00:00")).toDF("iid", "a", "b")
      .select(col("iid"), col("a").cast("timestamp").as("win start"),
        col("b").cast("timestamp").as("win-end"))
    val out = RangeJoin.pointInInterval(points, ivals, "p.ts", "win start", "win-end")
    assert(out.select("pid").as[Long].collect().toSeq === Seq(1L))
  }

  test("binned range join handles empty interval side without degenerating") {
    import spark.implicits._
    val points = Seq((1L, "2024-01-01 00:10:00")).toDF("pid", "s")
      .select(col("pid"), col("s").cast("timestamp").as("p_ts"))
    val empty = Seq.empty[(Long, String, String)].toDF("iid", "a", "b")
      .select(col("iid"), col("a").cast("timestamp").as("i_s"), col("b").cast("timestamp").as("i_e"))
    assert(RangeJoin.pointInInterval(points, empty, "p_ts", "i_s", "i_e").count() === 0)
  }

  test("x80 weighted sample plans as TakeOrderedAndProject over one scan — no global sort, no join") {
    val plan = executed("x80_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k should be per-partition heaps, not a full sort:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"the A-ES draw must not join anything:\n$plan")
  }

  test("x34 repetition stays two aggregates + one doc_id equi-join over pruned scans") {
    // Bench adjudication (r6 verdict: x34's median moved 2.7x with
    // untouched code): pin the plan shape so a real regression is
    // distinguishable from host noise. The trigram and token aggregates
    // must join on doc_id as an equi-join over scans pruned to
    // (doc_id, text) — no nested loop, no window, no extra columns.
    val plan = executed("x34_repetition")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"x34 degenerated to a non-equi join:\n$plan")
    assert(!plan.contains("Window"), s"x34 grew a window:\n$plan")
    val scanLines = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scanLines.nonEmpty && scanLines.forall(l =>
      l.contains("doc_id") && l.contains("text") && !l.contains("source")),
      s"x34 scans not pruned to (doc_id, text): $scanLines")
  }

  test("x51 bounded top-k plans as ONE aggregation with broadcast dims — no window shuffle") {
    // Bench adjudication (r6 verdict: x51 moved 1.9x with untouched
    // code): the whole point of x51 over r04 is replacing the window's
    // full shuffle+sort with a <=k aggregation buffer — pin both halves.
    val df = queries.Registry.queryMap("x51_topk_categories_agg")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "x51 must not contain a window operator")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"x51 dims not broadcast:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"BoundedTopK should run as an ObjectHashAggregate:\n$plan")
  }

  test("x85 snapshot diff is one full-outer equi-join — never a nested loop") {
    val plan = executed("x85_snapshot_diff")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"diff degenerated:\n$plan")
    assert(plan.contains("FullOuter"), s"expected a full-outer join:\n$plan")
  }

  test("x106 heavy hitters: candidates and total broadcast onto the recount — no extra token shuffle") {
    val plan = executed("x106_frequent_tokens")
    // The candidate semi-join and the scalar total must both broadcast;
    // the only wide exchange over token rows is the recount aggregate.
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"candidate set not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"heavy-hitter probe fell back to a sort-merge join:\n$plan")
  }

  test("x107 PassJoin stays an equi-join on (slot, substring) — never all-pairs") {
    val plan = executed("x107_edit_distance_pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"edit-distance join degenerated to all-pairs:\n$plan")
    assert(plan.contains("slot"), s"lost the segment-slot join key:\n$plan")
  }

  test("x118 centroid similarity joins stay equi-joins on dim/label — never all-pairs") {
    val plan = executed("x118_label_centroid_similarity")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"centroid matrix degenerated to all-pairs:\n$plan")
  }

  test("x119 rate-limit window is partitioned per (user, hour), never global") {
    val df = queries.Registry.queryMap("x119_event_rate_limit")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "rate-limit window must be partitioned")
  }

  test("x111 sorted-neighborhood window is partitioned by block, never global") {
    val df = queries.Registry.queryMap("x111_sorted_neighborhood")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the block-sort window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"sorted-neighborhood window must be partitioned (blocked SNM): $w"))
  }

  test("x125 phrase search broadcasts the query tables — the corpus never nested-loops") {
    val plan = executed("x125_phrase_search")
    assert(plan.contains("BroadcastExchange"),
      s"phrase/len tables must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"phrase search must stay equi-join shaped:\n$plan")
  }

  test("x132 covariance: the corpus never joins — the triangle aggregate " +
    "assembles with the per-dimension moments by BROADCAST only") {
    val plan = executed("x132_embedding_covariance")
    // Round 16: n/sx/sy moved out of the d(d+1)/2 triangle aggregation
    // (they are per-DIMENSION facts — hauling them through the triangle
    // multiplied their cost 32x for d=64) into a d-term pass that joins
    // back onto the 2,080-row triangle. Those joins must be broadcast
    // hash joins of the d-row moment table — never a corpus-side
    // shuffle join.
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-dimension moments must broadcast onto the triangle:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"no shuffle or nested-loop join anywhere in covariance:\n$plan")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"expected the triangle aggregate:\n$plan")
  }

  test("x134 count-min: the counter and probe tables broadcast onto each other, tokens shuffle once") {
    val plan = executed("x134_count_min_sketch")
    assert(plan.contains("BroadcastExchange"),
      s"the d*w counter table must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"CMS join must stay an equi-join on (h, cell):\n$plan")
  }

  test("x133 distribution match joins the corpus to BROADCAST rates — no corpus shuffle join") {
    val plan = executed("x133_distribution_match")
    assert(plan.contains("BroadcastHashJoin"),
      s"acceptance rates must broadcast back onto the corpus:\n$plan")
  }

  test("x131 OLS probe is one aggregate over a pruned scan — no join, no window") {
    val plan = executed("x131_token_cost_probe")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"sufficient-statistics OLS must be a single aggregation:\n$plan")
    assert(plan.contains("ReadSchema") && plan.contains("text"),
      s"scan should read only the text column:\n$plan")
  }

  test("x148 k-fold and x151 budget windows are partitioned per source, never global") {
    for (name <- Seq("x148_stratified_kfold", "x151_budget_selection")) {
      val windows = queries.Registry.queryMap(name)(spark, Sf)
        .queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
      assert(windows.nonEmpty, s"$name should use a window")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$name window must be partitioned by source: $w"))
    }
  }

  test("x141 forward as-of is one union + one partitioned window — no join of the two sides") {
    val df = queries.Registry.queryMap("x141_asof_forward")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "as-of window must be partitioned per key")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"forward as-of must be the union-window shape, not a join:\n$plan")
  }

  test("x149 time spine broadcasts the bounds — the hourly aggregate never re-shuffles onto it") {
    val plan = executed("x149_time_spine")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"spine join must stay an equi-join on hour:\n$plan")
  }

  test("x158 bloom probe is join-free: the ONLY join in the plan is the exact audit") {
    // The production value of the screen is that the probe side never
    // joins — the filter rides as a literal array in a projection. Exactly
    // one join may appear: the deliberate exact-membership audit.
    val plan = executed("x158_bloom_screen")
    assert(plan.contains("BroadcastHashJoin"), s"audit join should broadcast:\n$plan")
    val joinOps = plan.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin") ||
        l.contains("NestedLoopJoin") || l.contains("CartesianProduct"))
    assert(joinOps == 1, s"expected exactly one join (the audit), found $joinOps:\n$plan")
  }

  test("x168 HRW sharding plans with partitioned windows and zero shuffle joins") {
    val df = queries.Registry.queryMap("x168_shard_resize_audit")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "the per-key argmax windows must be partitioned by key")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("NestedLoopJoin"),
      s"old/new assignment join must stay broadcast/hash on key:\n$plan")
  }

  test("x167 winnowing windows are per-document; the pair join is a hash equi-join on the hash") {
    val df = queries.Registry.queryMap("x167_winnowing_pairs")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "the winnowing election window must be partitioned per doc")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"fingerprint pairing must stay an equi-join on the elected hash:\n$plan")
  }

  test("x172 DSIR scores the token stream against a BROADCAST model — no " +
    "token-grain shuffle join") {
    // The whole importance model is 64 bucket log-ratios; the token
    // explode must join it broadcast. A SortMergeJoin of the TOKEN stream
    // would shuffle it a second time at 100 TB. The exact-rank
    // construction over the PER-DOC frame (round 10) legitimately joins
    // doc-grain histograms on its internal value-bucket key `_b` — and,
    // since the round-11 hot-tie sub-split, on the (value, tie-bucket)
    // key pair (`_negv`/`_tb`) — those are the only shuffle joins
    // allowed here.
    val plan = executed("x172_dsir_weights")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket log-ratios must broadcast onto the tokens:\n$plan")
    val smj = plan.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(l => l.contains("_b#") || l.contains("_tb#")),
      s"only the doc-grain rank-histogram joins may shuffle:\n${smj.mkString("\n")}")
  }

  test("x174 SemDeDup's pair join is an equi-join on the cell — never all-pairs") {
    val plan = executed("x174_semantic_dedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"within-cell pruning degenerated to all-pairs:\n$plan")
  }

  test("x179 KS windows are partitioned per source, never global") {
    val df = queries.Registry.queryMap("x179_ks_drift")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "x179 computes CDFs with windows")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"x179 CDF window must be partitioned by source: $w"))
  }

  test("x183 weighted-percentile window is partitioned per group, never global") {
    val df = queries.Registry.queryMap("x183_weighted_percentiles")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "the cumulative-weight window must partition by return flag")
  }

  test("x195 next-event eval scores the test stream against BROADCAST models") {
    // The transition model and majority baseline are tiny; a shuffle
    // join would re-partition the full test stream per lookup.
    val plan = executed("x195_next_event_eval")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"model lookups must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no shuffle join belongs in the scoring path:\n$plan")
  }

  test("x200 and x205 pair generation stays an equi-join on the basket key") {
    for (name <- Seq("x200_market_basket", "x205_item_item_cf")) {
      val plan = executed(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to all-pairs:\n$plan")
    }
  }

  test("x182 expansion ranks per query and the only nested loop is the bounded truth pass") {
    val df = queries.Registry.queryMap("x182_knn_expansion")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "top-k re-ranks must be per-query windows")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"adjacency expansion must stay an equi-join:\n$plan")
    // The brute-truth pass IS a (10-row) broadcast cross join by design,
    // and its subtree appears once under each hits() branch; anything
    // beyond those two means candidate generation regressed to all-pairs.
    val nlJoins = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlJoins <= 2, s"expected only the duplicated truth cross join, got $nlJoins:\n$plan")
  }

  test("x212 Hamming-ball pairing is an equi-join on (seg_idx, seg_key) " +
    "over partitioned-window-capped buckets — never all-pairs") {
    val df = queries.Registry.queryMap("x212_perceptual_near_dedup")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidate generation degenerated to all-pairs:\n$plan")
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "the hot-bucket cap must ride per-(seg_idx, seg_key) windows, never a global one")
  }

  test("x211 sampled blocking quality: the budget rank window is " +
    "partitioned per source and nothing nested-loops") {
    val df = queries.Registry.queryMap("x211_blocking_quality_sampled")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "the fixed-budget sample must come from per-source partitioned rank " +
        "windows — a global rank would re-create the single-task funnel")
    // The stat row assembles via cross joins of 1-ROW scalar aggregates —
    // those legitimately plan as BroadcastNestedLoopJoin Cross. What must
    // never appear is an unbroadcast cartesian (a row-grain pair blowup).
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"truth/candidate joins must stay equi-joins:\n$plan")
  }

  test("x214 KMV sketches aggregate with a partial (map-side) phase — " +
    "the k-bounded buffer must discard losers BEFORE the exchange") {
    graft.ops.Kmv.clearCaches(spark)
    val df = queries.Registry.queryMap("x214_kmv_source_overlap")(spark, Sf)
    // The sketch frame sits behind the memoized InMemoryRelation, so the
    // aggregate pair lives in the CACHED plan — walk into it. The typed
    // BottomK aggregator must plan as an ObjectHashAggregate pair:
    // partial_bottomk on the scan side of the exchange, final bottomk
    // after it. Losing the partial phase would ship EVERY (source, hash)
    // occurrence through the shuffle — the exact cost the k-bounded
    // buffer exists to avoid.
    // AQE wraps subtrees in AdaptiveSparkPlanExec (childless to collect),
    // so walk the LOGICAL plan's InMemoryRelation leaves for the cached
    // build plan instead.
    val cached = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.toString
    }
    assert(cached.nonEmpty, "the sketch memo cache must be in the plan")
    val full = df.queryExecution.executedPlan.toString + cached.mkString
    assert(full.contains("partial_bottomk"),
      s"BottomK lost its map-side combine:\n${full.take(4000)}")
    assert(!full.contains("CartesianProduct"),
      "pair assembly must stay broadcast/equi-join shaped")
    graft.ops.Kmv.clearCaches(spark)
  }

  test("x216/x218 rank kernel: every ranking window runs over the " +
    "distinct-value table, never the corpus, and the corpus join is " +
    "a broadcast of that map") {
    for (name <- Seq("x216_mann_whitney_sources", "x218_kruskal_wallis")) {
      val df = queries.Registry.queryMap(name)(spark, Sf)
      val windows = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      // The pooled-midrank cumsum is the ONE window, over byv (distinct
      // token counts — bounded by max doc length, not corpus rows). An
      // unpartitioned window is acceptable exactly because its input is
      // that bounded frame; what must never appear is a rank window fed
      // by the corpus-grain vals relation (a sort of every document).
      assert(windows.size == 1,
        s"$name: expected exactly the one midrank window, got ${windows.size}")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"$name: the value->rank map must broadcast to the corpus side")
    }
  }

  test("x225 RBO corpus head never runs an unpartitioned window over the " +
    "vocabulary — only the per-source partitioned rank window remains") {
    // Round-13 verdict residual #3: the corpus-head ranking used a global
    // row_number window over the FULL vocabulary count table — Heaps-
    // bounded at sf0.1 but a single-task wall on a web-corpus vocabulary.
    // The fix extracts the head via orderBy+limit (TakeOrderedAndProject /
    // a bounded top-k merge) and broadcasts the <= depth ranked rows back,
    // so every remaining WindowExec must be partitioned.
    val df = queries.Registry.queryMap("x225_rbo_head_vocab")(spark, Sf)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "x225 lost its per-source rank window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "x225 has an UNPARTITIONED window (single-task over the vocabulary at scale)"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the ranked corpus head must broadcast back to the per-source side:\n$plan")
  }

  test("x227/x229 MMD: every join runs on moment tables as a broadcast " +
    "equi-join — no row-pair join, no shuffle join, no window") {
    for (name <- Seq("x227_mmd_matrix", "x229_mmd_incremental")) {
      val df = queries.Registry.queryMap(name)(spark, Sf)
      val plan = df.queryExecution.executedPlan.toString
      // The kernel trick run backwards: MMD terms are inner products of
      // per-group moments, so the corpus is touched only by aggregation
      // passes. A CartesianProduct or nested loop here means the pair
      // join the operator exists to avoid crept back in.
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must never form a row-pair join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"moment tables are groups x d(d+1)/2 rows — they broadcast:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"the triangle self-join must broadcast its right side:\n$plan")
      val windows = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty,
        s"$name is pure aggregation algebra — a window means a global sort crept in")
    }
  }

  test("x228 CMS merge audit: no all-pairs anywhere; the heavy probe " +
    "joins against the BROADCAST merged grid") {
    val df = queries.Registry.queryMap("x228_cms_merge_audit")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x228 degenerated to all-pairs:\n$plan")
    // (The full-outer cell compare may legitimately sort-merge — grids
    // are depth·width-bounded; the scalar stitches are 1-row BNLJs.)
    assert(plan.contains("BroadcastHashJoin"),
      s"the probe-vs-grid join must broadcast the bounded grid:\n$plan")
  }

  test("x230 Bloom merge audit: probes join the broadcast word grid; the " +
    "membership audit STREAMS the corpus past the broadcast probe side") {
    val df = queries.Registry.queryMap("x230_bloom_merge_audit")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x230 degenerated to all-pairs:\n$plan")
    val smjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smjs.forall(_.joinType.sql == "FULL OUTER"),
      "the only sort-merge allowed is the m/32-bounded full-outer word " +
        s"compare — something corpus-sized stopped broadcasting:\n$plan")
    // The fp audit must keep the corpus on the STREAMED side: a LEFT
    // SEMI BHJ whose BUILD side is the bounded probe-hash set
    // (BuildRight). An outer join preserving the probe side cannot
    // build it — Spark would broadcast the corpus hash set instead,
    // the shape that stops working at 100 TB.
    val bhjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhjs.exists(j => j.joinType.sql == "LEFT SEMI" &&
      j.buildSide.toString == "BuildRight"),
      s"the membership audit must broadcast the probe side as the build side:\n$plan")
  }

  test("x231 histogram merge audit: bounded-state shape — no all-pairs, " +
    "sort-merge only on the bins-bounded full-outer compare") {
    val df = queries.Registry.queryMap("x231_histogram_merge_audit")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x231 degenerated to all-pairs:\n$plan")
    val smjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smjs.forall(_.joinType.sql == "FULL OUTER"),
      "the only sort-merge allowed is the bins-bounded full-outer bin " +
        s"compare:\n$plan")
    // The cumulative window runs over the MERGED bin table (<= bins
    // rows) — unpartitioned by design, bounded by construction; the
    // corpus itself must never enter a window here.
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1, "exactly one bounded cumulative window")
  }

  private def joinNodes(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }

  test("x233/x234/x237/x238 are pure aggregation pipelines — zero join " +
    "operators") {
    for (name <- Seq("x233_token_burstiness", "x234_table_checksum",
        "x237_source_checksum", "x238_dup_rate_wilson")) {
      val df = queries.Registry.queryMap(name)(spark, Sf)
      assert(joinNodes(df).isEmpty,
        s"$name must be keyed aggregates only:\n" +
          df.queryExecution.executedPlan.toString)
      val windows = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"$name must not sort anything into a window")
    }
  }

  test("x232/x235: the only joins are broadcast stitches of bounded " +
    "aggregates — no sort-merge, no all-pairs") {
    for (name <- Seq("x232_langid_calibration", "x235_cms_calibration")) {
      val df = queries.Registry.queryMap(name)(spark, Sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to all-pairs:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name joins only bin tables and scalar totals — they broadcast:\n$plan")
    }
  }

  test("x240 row diff: each side's row scan carries a BROADCAST left-semi " +
    "join on the mismatched bucket set — never a full re-diff — and the " +
    "only sort-merge is the row-hash full-outer match") {
    val df = queries.Registry.queryMap("x240_row_diff")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x240 degenerated to all-pairs:\n$plan")
    val bhjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhjs.count(j => j.joinType.sql == "LEFT SEMI" &&
      j.buildSide.toString == "BuildRight") >= 2,
      "both sides must semi-join the broadcast bucket set before any " +
        s"row-level grouping:\n$plan")
    val smjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smjs.forall(_.joinType.sql == "FULL OUTER"),
      "the only sort-merge allowed is the bucket-filtered row-hash " +
        s"full-outer compare:\n$plan")
  }

  test("x242 incremental checksum: a pure aggregation pipeline — zero " +
    "joins, zero windows (the fold is union + re-aggregate)") {
    val df = queries.Registry.queryMap("x242_checksum_incremental")(spark, Sf)
    assert(joinNodes(df).isEmpty,
      "the fold must be keyed aggregates only:\n" +
        df.queryExecution.executedPlan.toString)
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty)
  }

  test("x243 MG merge audit: the rank window runs over the Heaps-bounded " +
    "shard count table, every stitch broadcasts, no all-pairs") {
    val df = queries.Registry.queryMap("x243_mg_merge_audit")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x243 degenerated to all-pairs:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "x243 joins only the broadcast s_(k+1)/summary/scalar tables — " +
        s"something vocab-sized stopped broadcasting:\n$plan")
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // The ranked count table feeds three consumers (eps, s_(k+1) inside
    // the summary, the summary itself), so the plan re-instantiates the
    // rank window per branch — every instance must partition by shard
    // (i.e. run over the Heaps-bounded count table, never over rows),
    // and the summary branch's rnk <= k filter must have become a
    // WindowGroupLimit (top-k pushed INTO the window, never a full
    // sort-then-filter of the vocab table).
    assert(windows.nonEmpty && windows.size <= 3,
      "rank windows only over the (shard x vocab) count table")
    assert(windows.forall(_.partitionSpec.map(_.sql).forall(_.contains("shard"))),
      s"every window must partition by shard:\n$plan")
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "the rnk <= k branch must push the limit into the window")
  }

  test("x244 repair roundtrip: the plan broadcasts (anti/inner) over the " +
    "untouched pass-through, the renumber window is plan-bounded, and " +
    "nothing degenerates to all-pairs") {
    val df = queries.Registry.queryMap("x244_repair_roundtrip")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x244 degenerated to all-pairs:\n$plan")
    val bhjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhjs.exists(_.joinType.sql == "LEFT ANTI"),
      "untouched rows must pass through a broadcast anti-join, " +
        s"never a window:\n$plan")
    val smjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smjs.forall(_.joinType.sql == "FULL OUTER"),
      "sort-merge only on the row-hash and fingerprint full-outer " +
        s"compares:\n$plan")
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // Partition spec = (rh, payload cols): rh is the cheap prefix, the
    // content columns make collision groups exact.
    assert(windows.forall(_.partitionSpec.map(_.sql).exists(_.contains("rh"))),
      s"the renumber window must partition by the plan's row hash:\n$plan")
  }

  test("x245/x247 canonicalized checksums: pure aggregation pipelines — " +
    "zero joins, zero windows, and the parquet scan reads ONLY the " +
    "fingerprinted columns (the canonicalizers are codegen'd " +
    "projections, not a reason to widen the scan)") {
    val wanted = Map(
      "x245_fixed_point_checksum" ->
        Set("l_orderkey", "l_linenumber", "l_extendedprice"),
      "x247_timestamp_checksum" ->
        Set("l_orderkey", "l_linenumber", "l_shipdate"))
    for ((name, cols) <- wanted) {
      val df = queries.Registry.queryMap(name)(spark, Sf)
      assert(joinNodes(df).isEmpty,
        s"$name must be one projection + one bucket aggregation:\n" +
          df.queryExecution.executedPlan.toString)
      val windows = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"$name must not sort anything into a window")
      // sparkPlan, not executedPlan: AQE's AdaptiveSparkPlanExec is
      // childless to collect().
      val scans = df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.size == 1, s"$name reads lineitem exactly once")
      assert(scans.head.requiredSchema.fieldNames.toSet == cols,
        s"$name must prune the scan to $cols, got " +
          scans.head.requiredSchema.fieldNames.mkString(", "))
    }
  }

  test("x246 keyed changelog: the drill-down feeds BOTH sides of the " +
    "key-pairing join from ONE localCheckpoint (no corpus re-scan in " +
    "the final plan), and the guard window runs over surplus-only rows") {
    val df = queries.Registry.queryMap("x246_row_diff_by_key")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x246 degenerated to all-pairs:\n$plan")
    // Compute-once pin: the classification plan must read the
    // checkpointed drill-down — TWO RDD scans of the SAME underlying
    // RDD — and contain ZERO parquet scans: every corpus touch lives
    // inside the checkpoint, priced once, never once per join side.
    val rddScans = df.queryExecution.sparkPlan.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddScans.size == 2,
      s"both join sides must read the checkpointed drill-down:\n$plan")
    assert(rddScans.map(_.rdd.id).distinct.size == 1,
      "the two sides must share ONE checkpointed RDD (compute-once), " +
        s"got rdd ids ${rddScans.map(_.rdd.id).mkString(", ")}")
    val fileScans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(fileScans.isEmpty,
      s"corpus scans must live behind the checkpoint, not per branch:\n$plan")
    val smjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smjs.forall(_.joinType.sql == "FULL OUTER"),
      s"the key pairing is the only (full-outer) shuffle join:\n$plan")
    // The guard subtree (pre-checkpoint — the checkpoint hides it from
    // the final plan): the dup window partitions by (side, key) and its
    // input is the x240 bucket-localized drill-down — the broadcast
    // left-semi scans and the row-hash full-outer, never a full corpus
    // re-diff or an unpartitioned sort.
    val docs = Tables(spark, Sf).documents
    val guarded = graft.ops.Reconcile.keyGuardedDiff(docs, docs,
      Seq("doc_id"), Seq("source", "lang", "n_chars", "text"), 64)
    val gplan = guarded.queryExecution.executedPlan.toString
    val gwindows = guarded.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(gwindows.size == 1, s"exactly one guard window:\n$gplan")
    val parts = gwindows.head.partitionSpec.map(_.sql)
    assert(parts.exists(_.contains("side")) &&
      parts.exists(_.contains("doc_id")),
      s"the guard window must partition by (side, key), got $parts")
    val gsemis = guarded.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(gsemis.size >= 2,
      "the window's input is the bucket-localized drill-down — both " +
        s"corpus scans semi-join the broadcast bucket set:\n$gplan")
  }

  test("x248 changelog roundtrip: the apply is a broadcast anti-join " +
    "pass-through (the Upsert MERGE shape, no window over the corpus), " +
    "the checkpointed changelog feeds every consumer, and the whole " +
    "classify+apply+re-verify composition scans parquet exactly twice") {
    val df = queries.Registry.queryMap("x248_changelog_roundtrip")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x248 degenerated to all-pairs:\n$plan")
    val bhjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhjs.exists(_.joinType.sql == "LEFT ANTI"),
      "untouched rows must pass through a broadcast anti-join on the " +
        s"changelog keys, never a window or shuffle of b:\n$plan")
    val smjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smjs.forall(_.joinType.sql == "FULL OUTER"),
      "sort-merge only on the key-pairing and fingerprint full-outer " +
        s"compares:\n$plan")
    // One parquet scan per SIDE for the whole composition: reference
    // (its fingerprint) + divergent copy (the anti-join pass-through).
    // The drill-down's own corpus scans live behind the dd checkpoint,
    // priced once — a third scan would mean a consumer re-derived the
    // changelog from the corpus.
    val fileScans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(fileScans.size == 2,
      s"expected exactly 2 corpus scans, got ${fileScans.size}:\n$plan")
    // No corpus-sized window: the only windows run inside the
    // checkpointed guard subtree (pinned by the x246 test).
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"the apply path must not window anything:\n$plan")
  }

  test("x249/x250 schema parity: pure METADATA operators — the plans " +
    "contain ZERO data scans (a schema check on a 100 TB table must " +
    "never read the table)") {
    for (name <- Seq("x249_schema_parity", "x250_schema_drift")) {
      val df = queries.Registry.queryMap(name)(spark, Sf)
      val fileScans = df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(fileScans.isEmpty,
        s"$name reads data for a metadata question:\n" +
          df.queryExecution.executedPlan.toString)
    }
  }

  test("x251 incremental dedup: corpus text re-enters only through " +
    "broadcast left-semi joins, every window is key-partitioned, and " +
    "the only nested-loop is the 1-row overlap guard (the candidate " +
    "probe itself is cached — its plan is pinned separately below)") {
    val df = queries.Registry.queryMap("x251_incremental_lsh_dedup")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x251 degenerated to all-pairs:\n$plan")
    // The only nested-loop join allowed is the 1-row broadcast overlap
    // guard (the in-plan id-collision raise).
    val bnlj = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.size <= 1,
      s"only the overlap-guard cross may nested-loop:\n$plan")
    // Corpus TEXT re-enters verification only candidate-bounded: every
    // left-semi join broadcasts its filter set.
    val semis = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semis.nonEmpty &&
      semis.forall(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"corpus re-reads must semi-join a broadcast candidate set:\n$plan")
    // No corpus-sized single-partition funnel: the verdict windows
    // (top-1 + n_matches, one pass) partition by delta_id — never an
    // empty partition spec.
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"every window must be key-partitioned:\n$plan")
  }

  test("x251 candidate probe (the cached subtree, pinned uncached): the " +
    "corpus never self-pairs — the band join's probe side is " +
    "delta-filtered — and the width window partitions by the band key") {
    val docs = io.Tables(spark, Sf).documents
    // A split fraction the gate does NOT use (0.3): the gate's run
    // cache()s the candidate table, and Spark's CacheManager would
    // silently swap an identical plan for the InMemoryRelation —
    // pinning the cache instead of the probe shape.
    val u = ext.Pipeline.saltedUniform(
      org.apache.spark.sql.functions.col("doc_id"), "incr|")
    val ci = ext.Dedup.bandIndex(docs.filter(u >= 0.3))
      .withColumn("is_delta", org.apache.spark.sql.functions.lit(false))
    val di = ext.Dedup.bandIndex(docs.filter(u < 0.3))
      .withColumn("is_delta", org.apache.spark.sql.functions.lit(true))
    val df = ext.Dedup.incrementalCandidates(ci, di,
      queries.Extensions.LshBucketCap)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"candidate probe degenerated to all-pairs:\n$plan")
    val bandJoins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.condition.exists(_.sql.contains("m_is_delta")) => j
    }
    assert(bandJoins.nonEmpty, s"band probe join missing:\n$plan")
    assert(bandJoins.forall(j =>
      j.left.toString.contains("is_delta") ||
        j.right.toString.contains("is_delta")),
      s"the band join must probe with the delta-filtered side:\n$plan")
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(
      _.partitionSpec.map(_.sql).exists(_.contains("band"))),
      s"the width window must partition by the band key:\n$plan")
  }

  test("x252 incremental clusters: the relabel reaches the label table " +
    "through a BROADCAST of the moved representatives (untouched " +
    "clusters are never shuffled), and nothing degenerates to " +
    "all-pairs — the contracted loop itself runs eagerly behind " +
    "checkpoints, so this pins the changelog-assembly plan") {
    val df = queries.Registry.queryMap("x252_incremental_clusters")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x252 degenerated to all-pairs:\n$plan")
    // The only nested-loop is the 1-row broadcast overlap guard.
    val bnlj = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.size <= 1,
      s"only the overlap-guard cross may nested-loop:\n$plan")
    val bhjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhjs.exists(j => (j.leftKeys ++ j.rightKeys)
      .exists(_.sql.contains("old_cluster"))),
      s"the relabel join must broadcast the moved reps:\n$plan")
  }

  test("x253 incremental semantic dedup: corpus embeddings re-enter " +
    "only through broadcast joins on touched under-cap cells, every " +
    "left-semi broadcasts, windows partition by vec_id, and the only " +
    "nested-loop is the 1-row overlap guard") {
    val df = queries.Registry.queryMap(
      "x253_incremental_semantic_dedup")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x253 degenerated to all-pairs:\n$plan")
    // Three 1-row broadcast guard crosses (id-overlap + the two
    // stale-index counts) — nothing else may nested-loop.
    val bnlj = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.size <= 3,
      s"only the 1-row guard crosses may nested-loop:\n$plan")
    val semis = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semis.nonEmpty &&
      semis.forall(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"cell filters must broadcast, never shuffle the index:\n$plan")
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(
      _.partitionSpec.map(_.sql).exists(_.contains("vec_id"))),
      s"verdict windows must partition by vec_id:\n$plan")
  }

  test("x241 grouped checksum diff: fingerprints are pure aggregations; " +
    "the verdict join touches only (group x bucket)-bounded tables") {
    val df = queries.Registry.queryMap("x241_checksum_diff_by_group")(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"x241 degenerated to all-pairs:\n$plan")
    val smjs = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smjs.forall(_.joinType.sql == "FULL OUTER"),
      "the only sort-merge allowed is the bounded fingerprint-vs-" +
        s"fingerprint full-outer compare:\n$plan")
  }
}
