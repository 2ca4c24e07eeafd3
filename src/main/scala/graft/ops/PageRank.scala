package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point integer PageRank (Brin & Page 1998) over an edge list —
  * the graph-centrality operator of a curation stack: ranking documents
  * by how central they sit in a similarity/citation/link graph, so the
  * corpus keeps authoritative representatives instead of arbitrary ones.
  *
  * All arithmetic is 64-bit INTEGER: ranks are scaled by `base`
  * (rank 1.0 ≡ `base`), per-edge contributions use integer division
  * (`rank DIV outdeg`), and the damping update is
  * `(15·base) DIV 100 + (85·Σ incoming) DIV 100` — no floating point
  * anywhere, so results are bit-deterministic in ANY engine regardless
  * of aggregation order (the property a double-valued power iteration
  * cannot have: its per-vertex sum is order-dependent). The cost of the
  * fixed point is bounded truncation (< 1/base per division), irrelevant
  * for ranking.
  *
  * Spark shape per iteration: one join of ranks onto out-degrees (both
  * keyed by vertex), one edge join, one sum aggregate keyed by
  * destination — the standard message-passing round, all hash-
  * partitioned on vertex id. Iteration count is fixed (a pinned
  * hyperparameter, not a driver-synced convergence loop), so the whole
  * computation is ONE declarative plan; at 100 TB pre-partitioning
  * edges and vertices on the same key makes every round co-located.
  * Vertices with no outgoing edges contribute nothing (their mass
  * evaporates — the "dangling mass to nowhere" convention; a teleport-
  * redistribution variant adds one scalar aggregate per round);
  * vertices with no incoming edges settle at the teleport floor.
  */
object PageRank {

  /** @param edges    directed (src, dst) rows; parallel edges count twice
    * @param vertices one `id` column, the full vertex set (isolated
    *                 vertices included — edge endpoints alone under-count)
    * @param iterations unrolled power-iteration rounds
    * @param base     fixed-point scale (rank 1.0 ≡ base)
    * @return (id, rank) with rank in `base` fixed-point units
    */
  def pagerank(edges: DataFrame, vertices: DataFrame, iterations: Int = 3,
      base: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, "pagerank needs at least one iteration")
    // Overflow bound: a vertex's incoming mass is < N·base (total graph
    // mass), and the damping update multiplies it by 85 before dividing,
    // so 85·N·base must fit in a signed 64-bit long. Non-ANSI Spark wraps
    // silently on overflow, which would corrupt ranks AND the
    // bit-determinism contract — fail fast instead. At 100 TB scale
    // (N beyond ~1e8 vertices with the default base=1e9), callers scale
    // `base` down: precision is 1/base per division, so base=1e6 still
    // gives 6 fixed-point digits while admitting N up to ~1e11.
    val n = vertices.count()
    require(n > 0 && n <= Long.MaxValue / 85L / base,
      s"pagerank: 85 * n_vertices($n) * base($base) would overflow Long; " +
        "pass a smaller `base` (precision is 1/base)")
    val teleport = base * 15L / 100L
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    var rank = vertices.select(col("id"), lit(base).as("rank"))
    (0 until iterations).foreach { _ =>
      val contrib = rank.join(outdeg, col("id") === col("src"))
        .select(col("src"), expr("rank DIV outdeg").as("c"))
      val incoming = edges.join(contrib, Seq("src"))
        .groupBy("dst").agg(sum(col("c")).as("insum"))
      rank = vertices.join(incoming, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(teleport) + expr("(85 * coalesce(insum, 0)) DIV 100")).as("rank"))
    }
    rank
  }

  /** WEIGHTED fixed-point PageRank: edges carry a positive integer
    * weight column `w` and each vertex distributes its rank proportional
    * to weight — contribution = rank·w DIV Σw_out — so a 0.9-cosine
    * near-dup edge pulls more rank than a 0.4 one. Same bit-determinism
    * contract as [[pagerank]] (pure BIGINT, truncating division, fixed
    * rounds, one unrolled plan); weights must already be integers (the
    * caller quantizes — e.g. cosine·1e6 — because fixed-point semantics
    * belong to the caller's precision choice, not hidden in here).
    *
    * Overflow needs the per-edge product bound too: rank·w ≤ n·base·wMax
    * must fit a signed 64-bit long, so the guard reads max(w) (one tiny
    * aggregate) alongside the vertex count. The same aggregate reads
    * min(w) and requires it > 0: a zero or negative weight would make
    * some src's Σw_out ≤ 0, and the DIV's NULLs/garbage would be
    * silently absorbed by the incoming sum() — corrupted ranks, not an
    * error — so bad weights fail fast here instead. Both aggregates
    * cast to long, so any integral weight column type is accepted.
    */
  def pagerankWeighted(edges: DataFrame, vertices: DataFrame,
      iterations: Int = 3, base: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, "pagerank needs at least one iteration")
    val n = vertices.count()
    require(n > 0, "pagerankWeighted needs at least one vertex")
    // Checkpoint the edge projection BEFORE the guard aggregate (the
    // pagerankConserving round-12 pattern): the min/max probe is an
    // eager action, and on an un-memoized expensive edge generator it
    // would evaluate the whole upstream build once for the guard and
    // again for outw + every iteration join. The blocks back the
    // returned lazy plan.
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint()
    val wStats = e.agg(min(col("w")).as("wmin"),
      max(col("w")).as("wmax")).first()
    require(!wStats.isNullAt(0), "pagerankWeighted: empty edge set")
    val wMin = wStats.getLong(0)
    val wMax = wStats.getLong(1)
    require(wMin > 0,
      s"pagerankWeighted: every edge weight must be positive (min=$wMin); " +
        "zero/negative weights corrupt ranks via NULL-dropping division")
    require(n <= Long.MaxValue / 85L / base &&
        n <= Long.MaxValue / wMax / base,
      s"pagerankWeighted: n($n) * base($base) * max(85, wMax=$wMax) would " +
        "overflow Long; pass a smaller `base` or rescale weights")
    val teleport = base * 15L / 100L
    val outw = e.groupBy("src").agg(sum(col("w")).as("wsum"))
    var rank = vertices.select(col("id"), lit(base).as("rank"))
    (0 until iterations).foreach { _ =>
      val contrib = rank.join(outw, col("id") === col("src"))
        .select(col("src").as("csrc"), col("rank"), col("wsum"))
      val incoming = e.join(contrib, col("src") === col("csrc"))
        .select(col("dst"), expr("(rank * w) DIV wsum").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("insum"))
      rank = vertices.join(incoming, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(teleport) + expr("(85 * coalesce(insum, 0)) DIV 100")).as("rank"))
    }
    rank
  }

  /** The mass-CONSERVING variant: dangling vertices (no outgoing edges —
    * including isolated ones) redistribute their rank uniformly instead
    * of evaporating, the standard teleport-redistribution convention
    * (Page et al. 1999 §2.6). The dangling mass is Σ rank over the
    * vertices with no out-degree — an aggregate of the round state, so
    * it rides each round's checkpoint job as an observed metric and
    * folds into the next round's update as a literal. Same fixed-point
    * arithmetic as [[pagerank]]: the per-vertex share is `dsum DIV n`,
    * so total mass is conserved up to bounded truncation (< 1 unit per
    * vertex per division; PageRankSpec pins Σrank within the truncation
    * envelope of n·base — the property the evaporating variant cannot
    * have).
    *
    * Execution shape differs from [[pagerank]]'s single unrolled plan,
    * deliberately: each round reference the previous ranks for both
    * contributions and the dangling mass, so an unrolled plan would
    * duplicate the round-(i−1) subtree — and the whole edge-building
    * lineage under it — per reference. Instead the loop state (id,
    * outdeg, rank) localCheckpoints per round, the Pregel/GraphX
    * convention for iterative graph state; the edge set checkpoints once
    * as a loop invariant. Superseded states release as the loop
    * advances; the result is lineage-free.
    */
  def pagerankConserving(edges: DataFrame, vertices: DataFrame,
      iterations: Int = 3, base: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, "pagerank needs at least one iteration")
    val n = vertices.count()
    // Same envelope as pagerank's, with one extra unit of headroom: the
    // redistributed share adds at most `base` to a vertex's incoming mass.
    require(n > 0 && n + 1 <= Long.MaxValue / 85L / base,
      s"pagerankConserving: 85 * (n_vertices($n)+1) * base($base) would " +
        "overflow Long; pass a smaller `base` (precision is 1/base)")
    val teleport = base * 15L / 100L
    // Round-19 loop restructure (guide §1.2/§2.4): the per-round state
    // carries (id, outdeg, rank) — outdeg joined onto the vertex set
    // ONCE, not re-joined per round — so each round's dangling mass
    // Σ rank over outdeg-NULL vertices is a plain aggregate OF THE STATE
    // and rides the state's own checkpoint job as an OBSERVED metric
    // (see [[Ckpt.iterate]]; integer sum, order-free). The old
    // shape paid, per round, a rank⋈outdeg anti-join + a scalar
    // aggregate + a broadcast-exchange build for the dangling share;
    // now the share folds in as a LITERAL (dsum and the DIV both
    // non-negative, so Scala's truncating / equals SQL DIV) and each
    // round is exactly one checkpoint job. contrib's inner join with
    // out-degrees becomes a filter on the carried column. Ranks are
    // bit-identical: same update expression, same integer arithmetic.
    val probe = sum(when(col("outdeg").isNull, col("rank"))).as("dsum")
    def dshare(m: Map[String, Any]): Long =
      Option(m("dsum").asInstanceOf[java.lang.Long])
        .map(_.longValue).getOrElse(0L) / n
    // localCheckpoint, not cache() (round-12 perf fix): unlike the
    // unrolled single-plan siblings, this loop references the edge set
    // every round, and with it only LAZILY cached those jobs re-entered
    // the expensive upstream build (the sparse banded annPairs behind
    // x77) instead of reading one materialized copy — measured: isolated
    // x77 ~14 s vs sibling x73's ~6 s on the SAME edges; eager
    // checkpointing before the loop brought x77 to ~5 s. The invariant
    // is materialized exactly once, before any round job starts, and
    // released when the loop's output has checkpointed.
    graft.ops.Ckpt.scoped(edges) { e =>
      val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      graft.ops.Ckpt.iterate(
          vertices.join(outdeg, col("id") === col("src"), "left")
            .select(col("id"), col("outdeg"), lit(base).as("rank")),
          Seq(probe), iterations) { (state, m, _) =>
        val ds = dshare(m)
        val contrib = state.filter(col("outdeg").isNotNull)
          .select(col("id").as("src"), expr("rank DIV outdeg").as("c"))
        val incoming = e.join(contrib, Seq("src"))
          .groupBy("dst").agg(sum(col("c")).as("insum"))
        state.join(incoming, col("id") === col("dst"), "left")
          .select(col("id"), col("outdeg"),
            (lit(teleport) +
              expr(s"(85 * (coalesce(insum, 0) + ${ds}L)) DIV 100")).as("rank"))
      }.into(_.select(col("id"), col("rank")))
    }
  }
}
