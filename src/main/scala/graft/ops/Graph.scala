package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the similarity/link graph of a corpus, beyond
  * [[PageRank]] and the connected-components dedup clusters: triangle
  * structure (how clique-ish a document's neighborhood is — near-dup
  * clusters are triangle-dense, topical neighborhoods are sparse) and
  * HITS hubs/authorities (Kleinberg 1999), the other classic
  * link-centrality fixed point.
  *
  * Everything here follows the repo's graph conventions: declarative
  * join/aggregate rounds keyed on vertex id (co-locatable at 100 TB by
  * pre-partitioning on that key), integer fixed-point arithmetic where a
  * float sum would be aggregation-order-dependent, and per-round
  * persistence only where a round references its predecessor more than
  * once (the Pregel convention [[PageRank.pagerankConserving]] set).
  */
object Graph {

  /** Per-vertex triangle census over an UNDIRECTED graph: degree,
    * triangle count, and the local clustering coefficient
    * 2·T / (d·(d−1)) (NULL when degree < 2 — 3VL, not a fake zero).
    * Edges are canonicalized defensively (least/greatest + distinct), so
    * a reversed or duplicate edge cannot inflate degrees or counts.
    *
    * Triangles are enumerated once each via the DEGREE-ORDERED
    * orientation (the node-iterator/compact-forward bound, Latapy 2008):
    * every edge points from its lower-(degree, id) endpoint to the
    * higher, the wedge join pairs the out-neighbors of each pivot, and
    * the closing probe is an equi-join on the (b, c) pair — which the
    * orientation guarantees is itself oriented b→c. Per-pivot wedge
    * volume is out-degree², and oriented out-degree is O(√m) on ANY
    * graph — so a power-law hub (raw degree O(n)) contributes ZERO
    * wedges as a pivot instead of O(deg²); GraphSpec pins this on a
    * hub fixture. All three joins hash-partition on vertex keys.
    */
  def triangleStats(edges: DataFrame, vertices: DataFrame): DataFrame = {
    // The canonical and oriented edge sets are each referenced several
    // times below (degree, both wedge sides, the closing probe); without
    // lineage truncation every reference would re-evaluate the upstream
    // edge GENERATOR (often a banded similarity join costlier than this
    // whole census) — so both materialize once, the [[hits]] convention.
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val o = orientByDegree(e, deg).localCheckpoint()
    val tri = o.as("e1")
      .join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.rdst") < col("e2.rdst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(o.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
    val perVertex = tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    vertices
      .join(deg, Seq("id"), "left")
      .join(perVertex, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(coalesce(col("degree"), lit(0L)) >= 2,
          lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double")
            / (col("degree").cast("double") * (col("degree").cast("double") - lit(1.0))))
          .as("clustering_coeff"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of the
    * endpoint degrees across all DIRECTED edge instances (each undirected
    * edge contributes both orientations) — positive when high-degree
    * vertices attach to high-degree vertices (social graphs), negative
    * for hub-spoke topologies (similarity graphs with celebrity
    * documents). One row: edge/degree sums as exact BIGINTs plus the
    * coefficient.
    *
    * Determinism contract: the sufficient statistics (m, Σx, Σx², Σxy)
    * are exact integer aggregates — order-free — and the coefficient is
    * ONE double expression over their casts, evaluated by the identical
    * IEEE tree in both engines (the x41 CorrFormula convention). The
    * symmetric graph makes Σx = Σy and Σx² = Σy², so the formula needs
    * only three sums. Degenerate variance (regular graph) → NULL, 3VL.
    *
    * Input edges are canonicalized defensively like [[triangleStats]]
    * (least/greatest + distinct). Scale shape: one distinct, one degree
    * aggregate, two equi-joins of edges onto degrees, one global
    * aggregate — no window, no iteration.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val pairs = sym
      .join(deg.select(col("id").as("u"), col("degree").as("dx")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("degree").as("dy")), Seq("v"))
    // The coefficient's PRODUCTS run in decimal(38,0) (the labelSum
    // precedent): m·sxx overflows a BIGINT ~1e9× sooner than the sums
    // themselves — a single 1e5-degree hub (exactly the hub-spoke
    // topology the scaladoc describes) puts sxx at ~1e15 and m·sxx past
    // 2^63, where ANSI arithmetic would kill the job. decimal(19,0)
    // casts make each product at most 38 digits — exact to ~8.5e37.
    val md = col("m").cast("decimal(19,0)")
    val sxd = col("sx").cast("decimal(19,0)")
    val num = md * col("sxy").cast("decimal(19,0)") - sxd * sxd
    val den = md * col("sxx").cast("decimal(19,0)") - sxd * sxd
    // Explicit envelope guard, FIRST branch: each product is exact in
    // decimal(38,0) only below ~1e38, and past it Spark non-ANSI
    // silently NULLs while a 128-bit engine (the DuckDB oracle's
    // HUGEINT) keeps computing — the engines would diverge exactly at
    // the envelope edge, and ANSI builds would throw instead. Guarding
    // every product at 4.25e37 (so |num|, |den| ≤ 8.5e37 < 1e38) makes
    // BOTH engines stop identically: the same double-precision
    // predicate, evaluated before any decimal arithmetic can overflow
    // or throw. The sums themselves still report exactly.
    val over = (col("m").cast("double") * col("sxx").cast("double") > lit(4.25e37)) ||
      (col("m").cast("double") * col("sxy").cast("double") > lit(4.25e37)) ||
      (col("sx").cast("double") * col("sx").cast("double") > lit(4.25e37))
    pairs.agg(
        count(lit(1)).as("m"),
        // The SUMS themselves accumulate in decimal(38,0), not long: a
        // hub of degree d contributes ~d³ to sxx (d instances × d²), so
        // d ≥ ~2.1e6 would wrap a LongType partial SILENTLY long before
        // the product-envelope guard below ever evaluates — on wrapped
        // garbage. Outputs land as BIGINT (loud cast failure, never a
        // silent wrap).
        sum(col("dx").cast("decimal(38,0)")).as("sxd_"),
        sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxxd_"),
        sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxyd_"))
      .select(col("m"), col("sxd_").cast("long").as("sx"),
        col("sxxd_").cast("long").as("sxx"),
        col("sxyd_").cast("long").as("sxy"))
      .select(col("m"), col("sx"), col("sxx"), col("sxy"),
        when(over, lit(null).cast("double"))
          .when(den <= 0, lit(null).cast("double"))
          .otherwise(num.cast("double") / den.cast("double"))
          .as("assortativity"))
  }

  /** Degree-ordered edge orientation over canonical undirected edges
    * (u, v): each edge points from the endpoint with the smaller
    * (degree, id) pair to the larger — ties on degree break by id, so
    * the orientation is a total order and acyclic. Returns
    * (src, dst, rdst) with `rdst` the (degree, id) rank struct of the
    * head, which the wedge join compares to order a pivot's two
    * out-neighbors (struct comparison is ordinal in Spark). Out-degree
    * under this orientation is ≤ O(√m) for every vertex — the skew
    * bound that keeps the wedge join safe on power-law graphs.
    */
  private[graft] def orientByDegree(e: DataFrame, deg: DataFrame): DataFrame = {
    val rk = deg.select(col("id"), struct(col("degree"), col("id")).as("rk"))
    e.join(rk.select(col("id").as("u"), col("rk").as("ru")), "u")
      .join(rk.select(col("id").as("v"), col("rk").as("rv")), "v")
      .select(
        when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("src"),
        when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("dst"),
        when(col("ru") < col("rv"), col("rv")).otherwise(col("ru")).as("rdst"))
  }

  /** Synchronous min-label propagation over an UNDIRECTED graph, a FIXED
    * number of rounds: every vertex starts labeled with its own id and
    * each round takes the minimum of its label and its neighbors' —
    * after r rounds a vertex's label is the minimum id within r hops, so
    * communities are "who can reach a common low id quickly", the
    * bounded-radius community notion (Raghavan et al. 2007's propagation
    * schedule, with min instead of mode so the fixed point is unique and
    * order-independent). Complements [[graft.ext.Dedup.componentsFromEdges]]:
    * components converge fully in O(log d) adaptive rounds; this is the
    * FIXED-round variant whose every round a serial SQL engine can
    * replay — which is what puts it under the DuckDB gate.
    *
    * Per round: one equi-join of labels onto edge sources, one min-
    * aggregate onto destinations, one left join back to the vertex set —
    * all hash-partitioned on vertex id (co-locatable at scale by
    * pre-partitioning, the [[PageRank]] convention). Each round
    * references the previous labels twice (the join and the fallback),
    * so rounds localCheckpoint instead of unrolling 2^r plan copies —
    * the Pregel convention [[hits]] documents.
    */
  def labelPropagation(edges: DataFrame, vertices: DataFrame,
      rounds: Int = 3): DataFrame =
    labelPropagationWithRounds(edges, vertices, rounds)._1

  /** [[labelPropagation]] plus the number of rounds actually executed —
    * rounds stop early at the fixed point. Soundness of the cheap check:
    * labels are per-vertex monotonically NON-INCREASING (each round takes
    * a min), so Σlabel is strictly decreasing until the fixed point and
    * an unchanged Σlabel ⇒ no label changed ⇒ every remaining round is a
    * no-op — the early-exit result is bit-identical to the fixed-round
    * one (GraphSpec pins this). The check is one scalar aggregate per
    * round over the just-checkpointed state: bounded driver traffic (one
    * long), never a collect of the table.
    */
  private[graft] def labelPropagationWithRounds(edges: DataFrame,
      vertices: DataFrame, rounds: Int): (DataFrame, Int) = {
    require(rounds >= 1, "labelPropagation needs at least one round")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    // Overflow-safe fixed-point probe: decimal(38,0) sum of long ids
    // cannot wrap at any realistic vertex count. Round-19: the probe is
    // OBSERVED during each state's own checkpoint job (one job per round
    // instead of checkpoint + separate aggregate — see [[Ckpt.iterate]]);
    // a decimal sum merges order-free, so the early-exit decision is
    // bit-identical to the two-job spelling.
    val probe = sum(col("label").cast("decimal(38,0)")).as("lsum")
    def lsum(m: Map[String, Any]): java.math.BigDecimal =
      m("lsum").asInstanceOf[java.math.BigDecimal]
    try {
      val r = Ckpt.iterate(vertices.select(col("id"), col("id").as("label")),
          Seq(probe), rounds, (prev, now) => lsum(now).compareTo(lsum(prev)) == 0) {
        (label, m, _) =>
          // Empty vertex sets make the observed sum null and the convergence
          // probe would NPE opaquely mid-round; fail like the sibling ops do.
          require(lsum(m) != null, "labelPropagation: vertices is empty")
          val nbrMin = sym.join(label, col("src") === col("id"))
            .groupBy(col("dst")).agg(min(col("label")).as("nmin"))
          label.join(nbrMin, col("id") === col("dst"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      }
      (r.state, r.rounds)
    } finally sym.unpersist(blocking = false)
  }

  /** HITS hubs/authorities (Kleinberg, "Authoritative Sources in a
    * Hyperlinked Environment", JACM 1999) in fixed-point integers: per
    * round, auth(v) = Σ hub over in-edges then renormalize so the max
    * auth is `base`; hub(v) = Σ auth over out-edges, renormalized the
    * same way. Renormalization is integer `x·base DIV max` with the max
    * observed in the state's own checkpoint job — the same shape as
    * [[PageRank.pagerankConserving]]'s dangling share, and like there the
    * per-round state is referenced twice (the sum and its max), so each
    * half-round persists (Pregel convention) instead of unrolling. All
    * arithmetic is BIGINT, so results are bit-deterministic under any
    * aggregation order and the DuckDB oracle replays every round.
    *
    * Overflow: a vertex's pre-normalization score is < n·base (each
    * neighbor contributes ≤ base after the previous normalization), and
    * the renormalization multiplies by base before dividing — so
    * n·base·base must fit a signed 64-bit long; with base=1e6 that admits
    * n up to ~9e6 per the guard, and larger graphs scale `base` down.
    */
  def hits(edges: DataFrame, vertices: DataFrame, iterations: Int = 2,
      base: Long = 1000000L): DataFrame = {
    require(iterations >= 1, "hits needs at least one iteration")
    val n = vertices.count()
    require(n > 0 && n <= Long.MaxValue / base / base,
      s"hits: n_vertices($n) * base($base)^2 would overflow Long; " +
        "pass a smaller `base` (precision is 1/base)")
    // Deduplicate defensively (the triangleStats/kcore convention): the
    // n·base² guard assumes a vertex has at most n in-EDGES, which only
    // holds for a simple graph — duplicate/parallel edges would let a
    // raw score exceed n·base and the renormalization product wrap a
    // long silently despite the guard passing.
    val e = edges.select(col("src"), col("dst")).distinct().cache()
    // Per half-round the raw sum state localCheckpoints (eager, lineage-
    // truncating — each round references the previous state, so an
    // unrolled plan would quadruple per round) and its renormalization
    // MAX is OBSERVED during that same checkpoint job (round-19, see
    // [[Ckpt.iterate]]): max merges order-free, and the max of a
    // materialized integer state is one deterministic value, so folding
    // it into the renormalization as a LITERAL replaces the old
    // crossJoin(broadcast(max-aggregate)) — which cost a broadcast-build
    // job per half-round AND re-evaluated the raw-sum subtree a second
    // time (broadcast builds share nothing) — with a plain projection
    // over the checkpoint blocks. Two jobs per round instead of ~six;
    // bit-identical integer arithmetic.
    //
    // The state is one row per vertex: `raw`, the score just summed, and
    // `other`, the renormalized score of the other side it was summed
    // from. Odd half-rounds sum hub into auth over in-edges, even ones
    // auth into hub over out-edges; the renormalized state is the left
    // side of each join, so the final state carries both scores.
    def halfRound(norm: DataFrame, toAuth: Boolean): DataFrame = {
      val (from, to) = if (toAuth) ("src", "dst") else ("dst", "src")
      norm.join(e.join(norm, col("id") === col(from))
          .groupBy(to).agg(sum(col("x")).as("s")),
        col("id") === col(to), "left")
        .select(col("id"), coalesce(col("s"), lit(0L)).as("raw"), col("x").as("other"))
    }
    def renormalized(state: DataFrame, m: Map[String, Any]): DataFrame = {
      val top = math.max(1L, Option(m("m").asInstanceOf[java.lang.Long])
        .map(_.longValue).getOrElse(0L))
      state.select(col("id"), expr(s"(raw * ${base}L) DIV ${top}L").as("x"), col("other"))
    }
    try {
      val r = Ckpt.iterate(
          halfRound(vertices.select(col("id"), lit(base).as("x")), toAuth = true),
          Seq(max(col("raw")).as("m")), 2 * iterations - 1) { (state, m, round) =>
        halfRound(renormalized(state, m), toAuth = round % 2 == 0)
      }
      r.into(renormalized(_, r.probes)
        .select(col("id"), col("x").as("hub"), col("other").as("auth")))
    } finally e.unpersist(blocking = false)
  }

  /** Bounded k-core peeling (Seidman 1983's coreness, in the fixed-round
    * synchronous form): each round drops every vertex whose degree in
    * the SURVIVING subgraph is < k, then recomputes degrees. After `rounds`
    * rounds the survivors over-approximate the true k-core (full peeling
    * runs to a fixed point; the bound makes every round serially
    * replayable, the same fixed-vs-adaptive trade [[labelPropagation]]
    * documents vs connected components). Returns surviving vertices with
    * their final within-subgraph degree.
    *
    * Edges are canonicalized defensively ([[triangleStats]] convention).
    * Per round: one degree aggregate + two semi-joins of the edge set
    * against the survivor set — all hash-partitioned on vertex id. Each
    * round's edge set feeds three consumers (degree, both semi-join
    * sides of the next round), so rounds localCheckpoint instead of
    * re-evaluating the upstream edge generator per reference.
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int = 3): DataFrame =
    kcorePeelWithRounds(edges, k, rounds)._1

  /** [[kcorePeel]] plus the number of peel rounds actually executed —
    * peeling stops early at the fixed point. Soundness: the surviving
    * edge set only ever SHRINKS (two semi-joins), so an unchanged edge
    * COUNT means the identical set survived, degrees are unchanged, and
    * every remaining round is a no-op — early exit is bit-identical to
    * the fixed-round result (GraphSpec pins this). The probe is a count()
    * of the just-checkpointed edge state: one long to the driver per
    * round, and count on a checkpointed frame is a metadata-cheap scan.
    */
  private[graft] def kcorePeelWithRounds(edges: DataFrame, k: Int,
      rounds: Int): (DataFrame, Int) = {
    require(k >= 1 && rounds >= 1, s"kcorePeel needs k>=1, rounds>=1; got k=$k rounds=$rounds")
    val e0 = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") < col("dst"))
      .distinct()
    // Round-19: the edge-count probe is OBSERVED during each state's own
    // checkpoint job ([[Ckpt.iterate]]) — one job per round instead of
    // checkpoint + separate count().
    val probe = count(lit(1)).as("n")
    def n(m: Map[String, Any]): Long = m("n").asInstanceOf[Long]
    val r = Ckpt.iterate(e0, Seq(probe), rounds, (prev, now) => n(now) == n(prev)) {
      (e, _, _) =>
        val deg = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("degree"))
        val live = deg.filter(col("degree") >= k).select(col("id"))
        e.join(live.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(live.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
    }
    val e = r.state
    // Final degree is measured on the post-peel subgraph; vertices whose
    // last-round degree dropped below k are still reported (they fall in
    // round `rounds`+1) — the caller filters if it wants the strict core.
    (e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree")), r.rounds)
  }

  /** Multi-source BFS shortest distances, bounded to `rounds` hops (capped at 16 — past that the frontier loop's plan depth outgrows its usefulness; the early-exit probe already stops expanded graphs sooner) — the
    * frontier-expansion traversal (hop distance from seed documents
    * through the near-dup graph: contamination blast radius, dedup
    * neighborhood depth, "how far does this template spread"). Round t
    * relaxes every edge out of the current distance table and keeps the
    * MIN distance per vertex; after k rounds every vertex within k hops
    * holds its exact BFS distance (unreached vertices are absent, not
    * NULL — the caller left-joins if it wants them).
    *
    * Scale shape: each round is one equi-join (distances ⋈ edges on the
    * source vertex, hash-partitioned on vertex id — pre-partition both on
    * id for co-located rounds at cluster scale) plus one min-aggregate;
    * state is (vertex, dist) — never frontier lists. localCheckpoint per
    * round is the Pregel lineage truncation the other iterative graph
    * ops use (each round references the previous twice: carry + relax).
    * Distances are exact small integers — no float, no renormalization.
    */
  def bfsDistances(edges: DataFrame, sourceIds: Seq[Long],
      rounds: Int = 4): DataFrame =
    bfsDistancesWithRounds(edges, sourceIds, rounds)._1

  /** [[bfsDistances]] plus the number of relaxation rounds actually
    * executed — traversal stops early once the frontier is exhausted.
    * Soundness: per vertex the distance is monotone NON-INCREASING and
    * the reached set only GROWS, so the (count, Σdist) pair changes iff
    * the table changed; an unchanged pair ⇒ fixed point ⇒ remaining
    * rounds are no-ops, bit-identical to the fixed-round run (GraphSpec
    * pins this). The probe is one two-scalar aggregate per round on the
    * just-checkpointed state — bounded driver traffic, never a collect.
    */
  private[graft] def bfsDistancesWithRounds(edges: DataFrame,
      sourceIds: Seq[Long], rounds: Int): (DataFrame, Int) = {
    require(sourceIds.nonEmpty, "need at least one source vertex")
    require(rounds >= 1 && rounds <= 16, s"rounds must be in [1,16], got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    // Round-19: the (count, Σdist) probe is OBSERVED during each state's
    // own checkpoint job ([[Ckpt.iterate]]) — one job per round instead
    // of checkpoint + separate aggregate. Count and decimal sum merge
    // order-free, so the early-exit decision is unchanged.
    val probes = Seq(count(lit(1)).as("n"),
      sum(col("dist").cast("decimal(38,0)")).as("s"))
    def unchanged(prev: Map[String, Any], now: Map[String, Any]): Boolean =
      now("n") == prev("n") && now("s").asInstanceOf[java.math.BigDecimal]
        .compareTo(prev("s").asInstanceOf[java.math.BigDecimal]) == 0
    val r = Ckpt.iterate(sourceIds.distinct.map(id => (id, 0L)).toDF("v", "dist"),
        probes, rounds, unchanged) { (dist, _, _) =>
      val relaxed = dist.join(edges, dist("v") === edges("src"))
        .select(col("dst").as("v"), (col("dist") + 1L).as("dist"))
      dist.unionAll(relaxed).groupBy(col("v")).agg(min(col("dist")).as("dist"))
    }
    (r.state, r.rounds)
  }
}
