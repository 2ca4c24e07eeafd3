package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Deterministic block release for `localCheckpoint`'d loop state.
  *
  * `Dataset.unpersist` only removes CacheManager entries; the RDD blocks a
  * `localCheckpoint()` persists are registered with the SparkContext, not
  * the cache manager, so calling `unpersist()` on a checkpointed Dataset
  * is a silent no-op and its blocks linger in executor storage until the
  * ContextCleaner notices the backing RDD was garbage-collected. For a
  * one-shot operator that is merely lazy cleanup; for the ITERATIVE
  * operators (PageRank, connected components, label propagation, HITS,
  * k-core, BFS) every round checkpoints a fresh state, so a long session
  * accumulates one dead round-state per round per query until a JVM GC
  * happens to run — exactly the memory pressure the explicit cleanup
  * calls were written to prevent.
  *
  * A tracked checkpoint reads its backing RDD id DIRECTLY off the
  * returned plan (the `LogicalRDD` the checkpoint wraps) and frees
  * exactly those blocks. It must NOT be captured as a
  * registration-window diff around the call: even the lazy
  * `localCheckpoint(eager = false)` builds the physical RDD DAG inside
  * the call, and constructing an InMemoryTableScan persist-registers its
  * cache BUFFER RDD with the context right there (under AQE the call can
  * even run whole stage jobs) — so a window diff ADOPTS any live
  * `.cache()`/memo buffer the tracked plan reads first, and the release
  * then evicts it permanently (the buffer builder is a lazy val; the
  * storage level never comes back). Measured: HITS re-ran the annPairs
  * cosine verify every half-round and the whole graph family's rerun
  * medians sat ~2× their round-11 values until the window capture was
  * replaced. Direct id capture is per-Dataset, so concurrent checkpoints
  * on other threads can never cross-adopt each other's RDDs. The ids are
  * captured before the materializing job runs, so a checkpoint whose own
  * job fails frees its blocks before the failure propagates.
  *
  * BARE `localCheckpoint()` calls in one-shot query paths (x90's fact
  * projection, the mmd moment tables, exactAscRank's bucketed input,
  * triangleStats' edge frames, pagerankWeighted's edges …) are
  * deliberate: their blocks back the RETURNED frame, so no explicit
  * release point exists inside the operator, and the blocks are freed by
  * the ContextCleaner when the backing RDD is garbage-collected (plus
  * wholesale at session teardown).
  *
  * Safety contract: an unreliable (local) checkpoint is UNRECOMPUTABLE
  * once its blocks are dropped — only release a state none of your live
  * datasets still read. This object is the only code that creates, holds
  * or releases a tracked checkpoint, under one of two lifetimes:
  *  - the LOOP ([[iterate]]): a round's state is released only after its
  *    successor has materialized and the convergence tests over both have
  *    run; the final state's blocks are kept, since they back the
  *    returned result, unless [[Rounds.into]] checkpoints an output from
  *    it and releases it;
  *  - the SCOPE ([[scoped]]): a checkpoint lives exactly as long as the
  *    body that reads it.
  * On failure every live tracked state is released and the original
  * exception propagates; a release that itself throws (the
  * [[registerCached]] tripwire) is attached to it as suppressed, never
  * in its place.
  */
object Ckpt {

  /** Mechanical enforcement of the safety contract above: every cache /
    * memo in the codebase that stores a DataFrame it hands out to
    * external callers registers it here (and unregisters on eviction).
    * [[Handle.release]] refuses — loudly — to free blocks whose RDD id
    * is still referenced by a registered cache entry: a tracked
    * checkpoint read by a cached frame is unrecomputable once released,
    * so release-under-registration is always a latent use-after-free
    * (exactly the round-12 kmCache bug). The check is a few integer-set
    * probes per release; it stays on in production. */
  // Keyed by (owning SparkContext, RDD id): RDD ids restart from 0 in a
  // fresh context, so an unscoped registry left dirty by a session that
  // died without clearCaches could alias a NEW context's ids and fail an
  // unrelated release.
  private val cachedReaders =
    scala.collection.mutable.Map.empty[(SparkContext, Int), List[String]]

  private def logicalRddIds(df: DataFrame): Seq[(SparkContext, Int)] = {
    val sc = df.sparkSession.sparkContext
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => (sc, lr.rdd.id)
    }
  }

  /** A library memo cache: one per cached intermediate, keyed per
    * session. The instance owns its entries, its owner string (the name
    * the [[registerCached]] registry reports), its per-key build lock,
    * the registration of every frame it builds, and the unregister +
    * unpersist of every frame it evicts. Each instance joins [[memos]]
    * when constructed, so [[clearAll]] reaches it without a hand-kept
    * list. `frameOf` picks the frame a value hands out (the value itself
    * for DataFrame memos).
    *
    * Stored frames must be recomputable (`.cache()`, or a plan over
    * blocks nobody releases — never a tracked checkpoint a [[Handle]]
    * may free): eviction only drops blocks, and a caller still holding
    * a handed-out frame recomputes it on its next action.
    */
  final class Memo[K, V](val owner: String, frameOf: V => DataFrame) {
    private val entries = TrieMap.empty[(SparkSession, K), V]
    private val locks = TrieMap.empty[(SparkSession, K), Object]
    memos.add(this)

    /** Atomic memo insert: TrieMap.getOrElseUpdate does NOT evaluate
      * its builder atomically, so two threads racing on the first build
      * for the same key would BOTH build and register a frame — the
      * loser's registration (and cache buffer) then leaks because
      * eviction only unregisters the stored frame. The lock is PER key,
      * not per cache: some builds run real Spark jobs (k-means training,
      * the clustering loop), and a cache-wide lock would serialize
      * unrelated keys behind them. Lock objects are tiny and bounded by
      * the number of distinct keys ever built. */
    def apply(spark: SparkSession, key: K)(build: => V): V = {
      val k = (spark, key)
      entries.getOrElse(k, {
        val candidate = new Object
        locks.putIfAbsent(k, candidate).getOrElse(candidate).synchronized {
          entries.getOrElse(k, {
            val v = build
            registerCached(frameOf(v), owner)
            entries.put(k, v)
            v
          })
        }
      })
    }

    private[graft] def nonEmpty(spark: SparkSession): Boolean =
      entries.keys.exists(_._1 == spark)

    /** Evict every entry built in `spark`. */
    def clear(spark: SparkSession): Unit =
      entries.keys.filter(_._1 == spark).foreach { k =>
        entries.remove(k).map(frameOf).foreach { df =>
          unregisterCached(df, owner)
          df.unpersist(blocking = false)
        }
      }
  }

  object Memo {
    def apply[K](owner: String): Memo[K, DataFrame] = new Memo(owner, identity)
  }

  private val memos = new java.util.concurrent.CopyOnWriteArrayList[Memo[_, _]]

  /** Evict every registered memo cache for `spark`. `View.dw` is not a
    * memo: reusing the view is the engine's design (see Bench). */
  def clearAll(spark: SparkSession): Unit = memos.forEach(_.clear(spark))

  /** Evict the memo caches whose owner is `module.*` — the body of each
    * module's public `clearCaches`. */
  def clearModule(spark: SparkSession, module: String): Unit =
    memos.forEach(m => if (m.owner.startsWith(module + ".")) m.clear(spark))

  /** Owners of the memo caches holding an entry for `spark`. */
  private[graft] def memoOwners(spark: SparkSession): Set[String] =
    memos.asScala.filter(_.nonEmpty(spark)).map(_.owner).toSet

  /** Owners still registered as readers in `spark`'s context. */
  private[graft] def registeredOwners(spark: SparkSession): Set[String] =
    cachedReaders.synchronized {
      cachedReaders.collect { case ((sc, _), os) if sc eq spark.sparkContext => os }
        .flatten.toSet
    }

  /** Materialize a lazy `.cache()` frame before a memo hands it out
    * (round-19, guide §1.2/§2.4). An InMemoryRelation has NO fill lock:
    * whichever consumer stage first touches an uncached partition
    * computes it, and AQE submits independent query stages of one action
    * CONCURRENTLY — a memoized frame referenced twice in a plan (a
    * union's two branches, two broadcast build sides) is then built
    * TWICE, end to end, corpus scan included (measured: x99's edge union
    * ran the cosine-verify join as two 32-task stages of 14.0 s and
    * 10.5 s Σtask for one frame; x114's Σtask flapped 6→22 s across
    * identical reps). One count() per memo build per session pins WHO
    * fills the cache; every consumer then reads blocks. Scale-neutral:
    * the first consumer materializes the frame anyway. */
  def filled(df: DataFrame): DataFrame = { df.count(); df }

  /** Register a frame a cache is about to store/hand out ([[Memo]]
    * does this for every frame it builds; `View.dw` calls it directly).
    * Returns the frame for call-site convenience. */
  def registerCached(df: DataFrame, owner: String): DataFrame = {
    val ids = logicalRddIds(df)
    cachedReaders.synchronized {
      ids.foreach(id => cachedReaders.update(id, owner :: cachedReaders.getOrElse(id, Nil)))
    }
    df
  }

  /** Drop one registration per RDD id for the evicted frame. */
  def unregisterCached(df: DataFrame, owner: String): Unit = {
    val ids = logicalRddIds(df)
    cachedReaders.synchronized {
      ids.foreach { id =>
        cachedReaders.get(id).map(_.diff(List(owner))) match {
          case Some(Nil) | None => cachedReaders.remove(id)
          case Some(rest)       => cachedReaders.update(id, rest)
        }
      }
    }
  }

  /** Releases the blocks of one tracked checkpoint. Idempotent;
    * releasing after the owning RDD was already cleaned is a no-op.
    * Throws if a registered cache entry still reads any of the handle's
    * RDDs — see [[registerCached]]. */
  private[graft] final class Handle private[Ckpt] (sc: SparkContext, ids: Set[Int]) {
    def release(): Unit = {
      val clash = cachedReaders.synchronized {
        ids.toSeq.flatMap(id => cachedReaders.get((sc, id)).map(id -> _))
      }
      if (clash.nonEmpty)
        throw new IllegalStateException(
          "Ckpt.release would free unrecomputable localCheckpoint blocks " +
            s"still registered by cache entries: ${clash.mkString(", ")}. " +
            "Store recomputable .cache() frames in caches, or unregister " +
            "before release.")
      ids.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  /** Releases `h` after `failure`, attaching a failed release to it as
    * suppressed so the original exception is the one that surfaces. */
  private def releaseAfter(h: Handle, failure: Throwable): Unit =
    try h.release() catch { case t: Throwable => failure.addSuppressed(t) }

  /** Runs `body`, then releases `h` whether or not `body` threw. */
  private def releasing[T](h: Handle)(body: => T): T = {
    val out = try body catch { case t: Throwable => releaseAfter(h, t); throw t }
    h.release()
    out
  }

  /** The probe key of an unprobed checkpoint: its row count. */
  val Rows = "rows"

  private val ProbeName = "ckpt_probe"

  /** A materialized `localCheckpoint()` of `df`, the handle that frees
    * its blocks, and its probe values.
    *
    * With `metrics`, their values are OBSERVED during the checkpoint's
    * own materialization job (round-19, guide §1.2/§2.4): the iterative
    * operators used to launch one EXTRA job per round — a scalar
    * aggregate over the just-checkpointed state (convergence probe,
    * renormalization max, dangling mass) — doubling the per-round job
    * count of driver-synced loops that are scheduling-bound at small
    * scale. `Dataset.observe` attaches a CollectMetrics node whose
    * accumulator is filled by the SAME job that materializes the
    * checkpoint: one `count()` of the checkpoint's backing RDD, the job
    * `localCheckpoint(eager = true)` runs. The values are read off the
    * observed plan's `observedMetrics`, not an `Observation`: an
    * Observation completes at the lazy checkpoint call, before any task
    * ran, with NULL metrics. Metric expressions must be
    * aggregation-ORDER-FREE (integer/decimal sums, counts, min/max) —
    * they are merged from per-task partials; a double sum here would
    * break the loops' bit-determinism contract. A metric over zero rows
    * yields null, exactly like the aggregate it replaces.
    *
    * Without metrics the checkpoint is materialized by `Dataset.count()`
    * and the probe map holds that count under [[Rows]].
    */
  private[ops] def trackedObserved(df: DataFrame,
      metrics: Seq[org.apache.spark.sql.Column]): (DataFrame, Handle, Map[String, Any]) = {
    val observed =
      if (metrics.isEmpty) df else df.observe(ProbeName, metrics.head, metrics.tail: _*)
    val out = observed.localCheckpoint(eager = false)
    val rdds = out.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    val h = new Handle(df.sparkSession.sparkContext, rdds.map(_.id).toSet)
    val probes = try {
      if (metrics.isEmpty) Map[String, Any](Rows -> out.count())
      else {
        rdds.foreach(_.count())
        val row = observed.queryExecution.observedMetrics(ProbeName)
        row.getValuesMap[Any](row.schema.fieldNames.toSeq)
      }
    } catch { case t: Throwable => releaseAfter(h, t); throw t }
    (out, h, probes)
  }

  /** A materialized `localCheckpoint()` and the handle that frees it. */
  private[graft] def tracked(df: DataFrame): (DataFrame, Handle) = {
    val (out, h, _) = trackedObserved(df, Nil)
    (out, h)
  }

  /** Checkpoints `df` (materialized and counted), runs `body` on the
    * checkpoint and then releases it: the scope lifetime. `body`'s result
    * must not read the checkpoint lazily past the scope. */
  def scoped[T](df: DataFrame)(body: DataFrame => T): T = {
    val (out, h) = tracked(df)
    releasing(h)(body(out))
  }

  /** The outcome of [[iterate]]: the final state, the probe values
    * observed while it checkpointed, and the number of steps run. The
    * final state's blocks are kept; [[into]] ends their lifetime. */
  final class Rounds private[Ckpt] (val state: DataFrame,
      val probes: Map[String, Any], val rounds: Int, private[Ckpt] val handle: Handle) {
    /** Eagerly checkpoints `f(state)`, an output that no longer needs the
      * loop, and releases the final state. The output's blocks back the
      * caller's result, like any bare checkpoint. */
    def into(f: DataFrame => DataFrame): DataFrame =
      releasing(handle)(f(state).localCheckpoint())
  }

  /** The round loop of the iterative operators, under the loop lifetime
    * of the object scaladoc. `init` checkpoints with `probes` observed
    * ([[trackedObserved]]; with no probes the map holds [[Rows]]); then up
    * to `maxRounds` times `step` maps the live state, its probe values and
    * the 1-based index of the round it computes to the next frame, which
    * checkpoints the same way. A step that returns its input state ends
    * the loop without a checkpoint. Otherwise the loop stops once
    * `converged` holds on the two successive probe maps or `settled` on
    * the two successive states. One checkpoint job per round, plus
    * whatever jobs `settled` runs. */
  def iterate(init: DataFrame, probes: Seq[org.apache.spark.sql.Column],
      maxRounds: Int,
      converged: (Map[String, Any], Map[String, Any]) => Boolean = (_, _) => false,
      settled: (DataFrame, DataFrame) => Boolean = (_, _) => false)(
      step: (DataFrame, Map[String, Any], Int) => DataFrame): Rounds = {
    val (s0, h0, m0) = trackedObserved(init, probes)
    var cur = new Rounds(s0, m0, 0, h0)
    try {
      var done = false
      while (!done && cur.rounds < maxRounds) {
        val next = step(cur.state, cur.probes, cur.rounds + 1)
        if (next eq cur.state) done = true
        else {
          val prev = cur
          val (s, h, m) = trackedObserved(next, probes)
          cur = new Rounds(s, m, prev.rounds + 1, h)
          done = releasing(prev.handle)(
            converged(prev.probes, m) || settled(prev.state, s))
        }
      }
      cur
    } catch { case t: Throwable => releaseAfter(cur.handle, t); throw t }
  }
}
