package graft.warehouse

import scala.collection.concurrent.TrieMap

import graft.io.Tables
import graft.ops.Ckpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Materialized-view reuse: the reference re-executes its view for each of
  * the 11 queries (MySQL recomputes view text per query; SURVEY.md §4
  * "derived-view reuse"). We compute it once per (session, sf-dir), cache
  * and materialize it, and register it as a temp view — every downstream
  * query reads the cached columnar batches instead of re-running the
  * 3-grain aggregation. At cluster scale the same role is played by
  * persisting the view as bucketed parquet.
  *
  * One-partition contract: with `canChangeCachedPlanOutputPartitioning`
  * AQE re-plans the cached view by its runtime sizes, and at sf0.001 and
  * sf0.01 the cache comes out as ONE partition (the fact joins become
  * broadcasts over the one-split customer scan). A cached scan reports
  * `UnknownPartitioning`, though, so the planner would still put a hash
  * exchange under every aggregate and a range-sampling job under every
  * sort of a single partition. When the materialized cache has exactly
  * one partition the served frame is `coalesce(1)` over it: `CoalesceExec(1)`
  * reports `SinglePartition`, which satisfies every clustered or ordered
  * distribution, so consumers plan no exchange above the view, and the
  * coalesce itself moves no data. When AQE leaves more than one
  * partition the cached frame is served as is — AQE's runtime plan is
  * the only size threshold. The cache entry belongs to the
  * underlying cached frame: `unpersist` on a served `coalesce(1)` frame
  * does not release it.
  */
object View {
  private val served = TrieMap.empty[(SparkSession, String), DataFrame]
  private val locks = TrieMap.empty[(SparkSession, String), Object]

  def dw(spark: SparkSession, dir: String): DataFrame = {
    val key = (spark, dir)
    // Per-key lock: concurrent first calls build and materialize once.
    val df = served.getOrElse(key, {
      val candidate = new Object
      locks.putIfAbsent(key, candidate).getOrElse(candidate).synchronized {
        served.getOrElseUpdate(key, build(spark, dir))
      }
    })
    // Re-register on EVERY call, not just cache miss: with two data dirs
    // in one session, a cache hit after the other dir registered would
    // leave the temp view pointing at the wrong dataset for SQL-path
    // consumers (r08_geo_rollup) while DataFrame consumers stayed right.
    df.createOrReplaceTempView("customer_revenue_summary")
    df
  }

  private def build(spark: SparkSession, dir: String): DataFrame = {
    val cached = Ckpt.filled(Ckpt.registerCached(
      RevenueSummary(Tables(spark, dir)).cache(), "View.dw"))
    if (cachedPartitions(cached) == Some(1)) cached.coalesce(1) else cached
  }

  /** Partition count of the materialized cache `df` reads, if it reads
    * one. */
  def cachedPartitions(df: DataFrame): Option[Int] =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.getNumPartitions
    }
}
