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
  * [[tracked]] reads the checkpoint's backing RDD id DIRECTLY off the
  * returned plan (the `LogicalRDD` the checkpoint wraps) and returns a
  * [[Ckpt.Handle]] whose `release()` unpersists those blocks directly.
  * It must NOT be captured as a registration-window diff around the
  * call: even the lazy `localCheckpoint(eager = false)` builds the
  * physical RDD DAG inside the call, and constructing an
  * InMemoryTableScan persist-registers its cache BUFFER RDD with the
  * context right there (under AQE the call can even run whole stage
  * jobs) — so a window diff ADOPTS any live `.cache()`/memo buffer the
  * tracked plan reads first, and `release()` then evicts it
  * permanently (the buffer builder is a lazy val; the storage level
  * never comes back). Measured: HITS re-ran the annPairs cosine verify
  * every half-round and the whole graph family's rerun medians sat ~2×
  * their round-11 values until the window capture was replaced.
  *
  * BARE `localCheckpoint()` calls in one-shot query paths (x90's fact
  * projection, the mmd moment tables, exactAscRank's bucketed input,
  * triangleStats' edge frames …) are deliberate: their blocks back the
  * RETURNED frame, so no explicit release point exists inside the
  * operator, and the blocks are freed by the ContextCleaner when the
  * backing RDD is garbage-collected (plus wholesale at session teardown).
  * The tracked handles here are for LOOP states, where a long session
  * would otherwise accumulate one dead state per round; a query-grain
  * frame at metadata size does not need that discipline (round-18
  * advice, adjudicated: documented rather than registered — the Ckpt
  * registry guards cache-reader releases, not GC timing).
  *
  * Safety contract: an unreliable (local) checkpoint is UNRECOMPUTABLE
  * once its blocks are dropped — only release a state none of your live
  * datasets still read. Checkpoints are eager, so "the next round's state
  * has materialized" is exactly that proof: round i+1's blocks exist and
  * no longer read round i's. Direct id capture is per-Dataset, so
  * concurrent `tracked` calls on other threads can never cross-adopt
  * each other's RDDs.
  *
  * Loop contract, kept by [[iterate]] for every loop built on it:
  *  - a round's state is released only after its successor has
  *    materialized;
  *  - if a step or the convergence test throws, the live state is
  *    released and the original exception propagates;
  *  - the final state's blocks are kept: they back the returned result.
  *    A caller that checkpoints its own output from the final state may
  *    release [[Rounds.handle]] afterwards.
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

  /** Releases the checkpoint blocks captured by [[tracked]]. Idempotent;
    * releasing after the owning RDD was already cleaned is a no-op.
    * Throws if a registered cache entry still reads any of the handle's
    * RDDs — see [[registerCached]]. */
  final class Handle private[Ckpt] (sc: SparkContext, ids: Set[Int]) {
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

  private val noop = new Handle(null, Set.empty)

  /** Eagerly-materialized `localCheckpoint()` plus a handle that really
    * frees its blocks. The handle owns EXACTLY the checkpoint's backing
    * RDD (the `LogicalRDD` the returned Dataset wraps — the RDD that
    * `RDD.localCheckpoint()` persist-registered), never anything a
    * registration-window diff might sweep up (see the object scaladoc
    * for why the diff adopts live cache buffers). */
  def tracked(df: DataFrame): (DataFrame, Handle) = {
    val sc = df.sparkSession.sparkContext
    val out = df.localCheckpoint(eager = false)
    val ids = out.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    out.count()
    (out, new Handle(sc, ids))
  }

  /** A handle that releases nothing — the initial value for loop-state
    * handle vars whose first state is not checkpointed. */
  def empty: Handle = noop

  /** [[tracked]] with aggregate metrics OBSERVED during the checkpoint's
    * own materialization job (round-19, guide §1.2/§2.4): the iterative
    * operators used to launch one EXTRA job per round — a scalar
    * aggregate over the just-checkpointed state (convergence probe,
    * renormalization max, dangling mass) — doubling the per-round job
    * count of driver-synced loops that are scheduling-bound at small
    * scale and a driver round-trip per round at any scale.
    * `Dataset.observe` attaches a CollectMetrics node whose accumulator
    * is populated by the SAME job that materializes the checkpoint, so
    * the probe rides along for free.
    *
    * MUST use the EAGER `localCheckpoint(eager = true)`: the eager path
    * runs inside `withAction` on the ORIGINAL plan's QueryExecution, so
    * the listener that completes the Observation sees the CollectMetrics
    * node. The lazy-checkpoint-then-count() shape [[tracked]] uses fires
    * the listener on the LogicalRDD wrapper instead and the observation
    * completes with NULL metrics (measured) — silently, not loudly.
    *
    * Metric expressions must be aggregation-ORDER-FREE (integer/decimal
    * sums, counts, min/max) — they are merged from per-task partials; a
    * double sum here would break the loops' bit-determinism contract.
    * Returns the observed values keyed by metric alias; a metric over
    * zero rows yields null, exactly like the aggregate it replaces.
    */
  private[ops] def trackedObserved(df: DataFrame,
      metrics: Seq[org.apache.spark.sql.Column]): (DataFrame, Handle, Map[String, Any]) = {
    require(metrics.nonEmpty, "trackedObserved needs at least one metric")
    val sc = df.sparkSession.sparkContext
    val obs = org.apache.spark.sql.Observation()
    val out = df.observe(obs, metrics.head, metrics.tail: _*)
      .localCheckpoint(eager = true)
    val ids = out.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    (out, new Handle(sc, ids), obs.get)
  }

  /** The outcome of [[iterate]]: the final state, the probe values
    * observed while it checkpointed, the number of steps run, and the
    * handle of the final state's blocks. */
  final case class Rounds(state: DataFrame, probes: Map[String, Any],
      rounds: Int, handle: Handle)

  /** The round loop of the iterative operators, under the loop contract
    * of the object scaladoc. `init` checkpoints with `probes` observed
    * ([[trackedObserved]]); then up to `maxRounds` times `step` maps the
    * live state and its probe values to the next frame, which checkpoints
    * the same way. The loop stops early once `converged(prev, now)` holds
    * on two successive probe maps. One job per checkpoint. */
  def iterate(init: DataFrame, probes: Seq[org.apache.spark.sql.Column],
      maxRounds: Int,
      converged: (Map[String, Any], Map[String, Any]) => Boolean = (_, _) => false)(
      step: (DataFrame, Map[String, Any]) => DataFrame): Rounds = {
    val (s0, h0, m0) = trackedObserved(init, probes)
    var cur = Rounds(s0, m0, 0, h0)
    try {
      var done = false
      while (!done && cur.rounds < maxRounds) {
        val (s, h, m) = trackedObserved(step(cur.state, cur.probes), probes)
        val prev = cur
        cur = Rounds(s, m, prev.rounds + 1, h)
        prev.handle.release()
        done = converged(prev.probes, m)
      }
      cur
    } catch {
      case t: Throwable =>
        cur.handle.release()
        throw t
    }
  }
}
