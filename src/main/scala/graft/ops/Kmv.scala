package graft.ops

import graft.ext.Dedup
import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Cross-engine-replayable KMV (k-minimum-values) distinct sketch —
  * Bar-Yossef et al. 2002's bottom-k estimator in the multiset-operation
  * form of Beyer et al. 2007 ("On synopses for distinct value estimation
  * under multiset operations"): keep the k SMALLEST distinct hash values
  * of a set; the k-th smallest normalized hash U_(k) estimates the
  * distinct count as (k−1)/U_(k), and — the property HLL lacks — two
  * sketches COMPOSE under set algebra: the bottom-k of (A ∪ B) is exactly
  * computable from bottom-k(A) and bottom-k(B) (every one of the k
  * smallest of the union is among the k smallest of its own side), and
  * the fraction of that combined bottom-k present in BOTH sketches
  * estimates Jaccard, hence intersection = Jaccard × union. That makes
  * KMV the standard sketch for "how much do these corpora overlap?"
  * without ever joining them — the question a 100 TB multi-source
  * ingest asks per source pair before deciding what to dedup.
  *
  * Everything derives from the same md5-first-8-hex 32-bit hash as the
  * HLL/MinHash family, so a SQL oracle replays the sketch bit-for-bit:
  *
  *  - value space: the corpus' word-bigram shingles ([[Dedup.shingles]],
  *    the ONE shingle kernel) keyed by source;
  *  - per-source sketch: bottom-k DISTINCT hashes via a k-BOUNDED typed
  *    Aggregator ([[Kmv.BottomK]]) — the map-side combine never holds
  *    more than k longs, so the shuffle carries ≤ k·partitions rows per
  *    source and no corpus-wide distinct or sort ever happens (the
  *    bottom-k twin of functions.BoundedTopK);
  *  - pair algebra on the m·k sketch rows only: union membership,
  *    rank, k-th hash — exact integers throughout;
  *  - estimates as ONE shared IEEE tree from those integers:
  *    union = (k−1)·2³²/(h_(k)+0.5) when the combined sketch saturates
  *    (the +0.5 midpoint keeps the normalized hash strictly positive),
  *    EXACT |union| when it doesn't (an unsaturated sketch IS its set —
  *    both branches and the k≥vocab degenerate law are pinned in
  *    Batch13Spec); jaccard = matches/k_eff; intersection = their
  *    product, rounded to 6 decimals to absorb nothing — every input is
  *    exact, the rounding just fixes one canonical decimal rendering.
  *
  * The exact per-source distinct counts and exact pair intersections
  * ride along as audit columns (`n_exact_*`, `inter_exact`, `rel_error`)
  * — the corpus-scale shingle self-join the sketch exists to avoid,
  * priced gate-only like x160's countDistinct comparand. rel_error is
  * NULL when the exact intersection is 0 (0/0 has no honest value).
  */
object Kmv {

  val DefaultK = 256

  /** Bottom-k DISTINCT longs as a typed Aggregator with a k-bounded
    * sorted buffer: `reduce` inserts in order and drops duplicates (KMV
    * is a sketch of the distinct-value set — a duplicate hash beyond the
    * buffer can never enter it, and one inside it must not double), so
    * partial aggregation discards everything above the k-th smallest
    * BEFORE the exchange. No upstream `.distinct()` pass is needed.
    */
  final case class BottomK(k: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {
    require(k > 0, "k must be positive")

    override def zero: Seq[Long] = Vector.empty

    /** Zero-copy view of the sorted buffer: `reduce` always returns an
      * `ArraySeq.ofLong`, so after the first insert the hot path reads
      * the backing array directly (never mutated — inserts copy into a
      * fresh array). The fallback covers `zero` and whatever Seq the
      * buffer encoder deserializes between partial and final stages. */
    private def backing(b: Seq[Long]): Array[Long] = b match {
      case w: scala.collection.immutable.ArraySeq.ofLong => w.unsafeArray
      case _ => b.toArray
    }

    override def reduce(b: Seq[Long], a: Long): Seq[Long] =
      if (b.length == k && a >= b.last) b // saturated fast reject
      else {
        // Binary search + one arraycopy build — this is the
        // per-OCCURRENCE hot path of the sketch pass, and the previous
        // linear indexWhere + take/:+/drop rebuild was O(k) scan plus
        // several intermediate allocations per accepted element while
        // the buffer fills (round-13 advice).
        val arr = backing(b)
        val n = arr.length
        val pos = java.util.Arrays.binarySearch(arr, 0, n, a)
        if (pos >= 0) b // already present: distinct semantics
        else {
          val at = -(pos + 1)
          val outLen = math.min(n + 1, k)
          val out = new Array[Long](outLen)
          System.arraycopy(arr, 0, out, 0, at)
          out(at) = a
          System.arraycopy(arr, at, out, at + 1, outLen - at - 1)
          scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
        }
      }

    override def merge(b1: Seq[Long], b2: Seq[Long]): Seq[Long] =
      (b1 ++ b2).distinct.sorted.take(k)

    override def finish(b: Seq[Long]): Seq[Long] = b

    override def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** The 32-bit shingle hash (md5 first 8 hex — the family convention). */
  private[graft] def hash32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  // Memoized per (session, source plan, k): intersectionBySource reads
  // the sketches from THREE plan branches (sketch rows, pair grid twice)
  // and exchange reuse only dedups some of them — a recomputable
  // m-row .cache() makes the corpus-scale aggregate run once. Held
  // frames survive clearCaches by recomputation (the r13 Ckpt ownership
  // contract — CachesSpec pins the family).
  private val sketchCache = Ckpt.Memo[(Long, Int)]("Kmv.sketchCache")

  /** Per-source bottom-k sketches: (source, sk array<long>). Shared by
    * [[intersectionBySource]], [[cardinalityBySource]], and the
    * streaming monitor's batch-equivalence spec. */
  private[graft] def sketchesOf(docs: DataFrame, k: Int): DataFrame =
    sketchCache(docs.sparkSession, (graft.ext.PlanKeys.fingerprint(docs), k)) {
      // (source, shingle) occurrences — the shared shingle kernel
      // joined back to each doc's source (co-partitioned equi-join on
      // doc_id; BottomK needs occurrences, not a distinct pass).
      val sh = Dedup.shingles(docs)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      sh.select(col("source"), hash32(col("shingle")).as("h"))
        .groupBy("source")
        .agg(udaf(BottomK(k)).apply(col("h")).as("sk"))
        .cache()
    }

  /** Release this module's cached sketches for a session — same
    * contract as Dedup.clearCaches: frames are recomputable `.cache()`s,
    * so caller-held references survive by recomputation. */
  def clearCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    Ckpt.clearModule(spark, "Kmv")

  /** The KMV estimator on a MATERIALIZED (sorted-ascending, distinct)
    * sketch — the JVM twin of the DataFrame paths' estimate tree, for
    * the streaming monitor's per-batch emission: unsaturated sketches
    * ARE their sets (exact count); saturated ones estimate
    * (k−1)·2³²/(h_(k)+0.5), HALF_UP-rounded to 6 like SQL `round`. */
  def estimate(sketch: Seq[Long], k: Int): Double =
    if (sketch.size < k) sketch.size.toDouble
    else BigDecimal((k - 1).toDouble * 4294967296.0 / (sketch.last.toDouble + 0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Per-source distinct-shingle cardinality from the sketches alone —
    * the monitoring view [[graft.streaming.Streams.kmvCardinalityStream]]
    * maintains incrementally. No exact comparand here: this is the
    * cheap always-on shape; [[intersectionBySource]] carries the
    * gate-only audit. */
  def cardinalityBySource(docs: DataFrame, k: Int = DefaultK): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val est = sketchesOf(docs, k)
      .select(col("source").as("_sksrc"), col("sk"),
        size(col("sk")).cast("long").as("n_sketch"),
        element_at(col("sk"), -1).as("hk"))
      .select(col("_sksrc"), col("n_sketch"),
        when(col("n_sketch") >= k,
          round(lit((k - 1).toDouble) * lit(4294967296.0)
            / (col("hk").cast("double") + lit(0.5)), 6))
          .otherwise(col("n_sketch").cast("double")).as("distinct_est"))
    // Preserve sources whose documents yield NO shingles (all
    // single-word docs): the monitor must read 0 for them, never
    // silently drop the source — the Hll.cardinalityByGroup convention.
    docs.select(col("source")).distinct()
      .join(est, col("source") <=> col("_sksrc"), "left")
      .select(col("source"),
        coalesce(col("n_sketch"), lit(0L)).as("n_sketch"),
        coalesce(col("distinct_est"), lit(0.0)).as("distinct_est"))
  }

  /** Shard-merge audit for the KMV sketch — the bottom-k member of the
    * mergeable-sketch audit family (x175 MinHash elementwise-min, x201
    * HLL elementwise-max): the corpus-wide sketch computed per shard and
    * MERGED (bottom-k of the union of the shard sketch SETS) must equal
    * the sketch computed directly over the whole corpus, because every
    * one of the k smallest of a union is among its own shard's k
    * smallest — the property that lets every partition of a 100 TB scan
    * sketch independently and merge in one m·k-row reduce. The audit
    * proves it end-to-end (n_mismatch, expected 0 — asserted by the
    * oracle replay, not by this code) and carries the merged sketch's
    * estimate against the exact distinct hash count (gate-only audit
    * column, the Hll.mergeAudit convention).
    */
  def mergeAudit(docs: DataFrame, nShards: Int = 8, k: Int = DefaultK): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(nShards >= 2, s"nShards must be >= 2, got $nShards")
    val hashed = Dedup.shingles(docs)
      .select(col("doc_id"), hash32(col("shingle")).as("h"))
    val sharded = hashed.select(pmod(col("doc_id"), lit(nShards.toLong)).as("shard"), col("h"))
    val shardSk = sharded.groupBy("shard")
      .agg(udaf(BottomK(k)).apply(col("h")).as("sk"))
      .select(col("shard"), explode(col("sk")).as("h"))
    val wAll = Window.orderBy("h")
    val merged = shardSk.select("h").distinct()
      .withColumn("rn", row_number().over(wAll)).filter(col("rn") <= k)
    val direct = hashed.agg(udaf(BottomK(k)).apply(col("h")).as("sk"))
      .select(explode(col("sk")).as("h"))
    val mm = Sharding.mergeMismatches(merged.select(col("h"), lit(1).as("in_m")),
      direct.select(col("h"), lit(1).as("in_d")), Seq("h"), "in_m", "in_d")
    val st = merged.agg(count(lit(1)).cast("long").as("n_sketch"),
      max(col("h")).as("hk"))
    val exact = hashed.agg(countDistinct(col("h")).as("n_exact"))
    val est = when(col("n_sketch") >= k,
      round(lit((k - 1).toDouble) * lit(4294967296.0)
        / (col("hk").cast("double") + lit(0.5)), 6))
      .otherwise(col("n_sketch").cast("double"))
    st.crossJoin(broadcast(mm)).crossJoin(broadcast(exact))
      .select(lit(nShards).cast("long").as("n_shards"),
        col("n_mismatch"), col("n_sketch"),
        est.as("union_estimate"), col("n_exact"),
        when(col("n_exact") > 0,
          round(abs(est - col("n_exact").cast("double"))
            / col("n_exact").cast("double"), 6)).as("rel_error"))
  }

  /** Per-source-pair distinct-shingle overlap from composed KMV sketches:
    * one row per unordered source pair with the union / Jaccard /
    * intersection estimates and their exact comparands. m sources cost
    * m·k sketch rows of pair algebra — the corpus is touched exactly
    * twice (sketch pass; exact-audit pass), never joined pairwise.
    */
  def intersectionBySource(docs: DataFrame, k: Int = DefaultK): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val sketches = sketchesOf(docs, k)
    val sk = sketches.select(col("source"), explode(col("sk")).as("h"))

    // Exact audit (gate-only cost): distinct (source, shingle) once, for
    // both the per-source counts and the pairwise intersections.
    val ss = Dedup.shingles(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select("source", "shingle").distinct()
    val nEx = ss.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val iEx = ss.select(col("source").as("sa"), col("shingle"))
      .join(ss.select(col("source").as("sb"), col("shingle")), Seq("shingle"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("inter_exact"))

    // Pair union over sketch rows only: membership flags per (pair, h).
    // m-row pair grid: broadcast the right side so the grid plans as a
    // broadcast nested loop, never a CartesianProduct (PlanSpec-pinned —
    // harmless at m rows, but the broadcast shape is the one that stays
    // shuffle-free if m ever grows).
    val pairs = sketches.select(col("source").as("sa"))
      .crossJoin(broadcast(sketches.select(col("source").as("sb"))))
      .filter(col("sa") < col("sb"))
    val uA = pairs.join(sk.withColumnRenamed("source", "sa"), Seq("sa"))
      .select(col("sa"), col("sb"), col("h"), lit(1).as("ina"), lit(0).as("inb"))
    val uB = pairs.join(sk.withColumnRenamed("source", "sb"), Seq("sb"))
      .select(col("sa"), col("sb"), col("h"), lit(0).as("ina"), lit(1).as("inb"))
    val u = uA.union(uB).groupBy("sa", "sb", "h")
      .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))

    // Rank within each pair's combined distinct-hash set; rows past k
    // are outside the composed sketch. k_eff = min(k, |union hashes|).
    val w = Window.partitionBy("sa", "sb").orderBy("h")
    val ranked = u
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("nu", count(lit(1)).over(Window.partitionBy("sa", "sb")).cast("long"))
      .filter(col("rn") <= k)
    val agg = ranked.groupBy("sa", "sb").agg(
      max(col("nu")).as("n_union_sketch"),
      max(col("rn")).as("k_eff"),
      max(col("h")).as("hk"),
      sum(col("ina") * col("inb")).cast("long").as("matches"))

    // Shared IEEE tree from exact integers (same discipline as Hll's
    // correctedEstSql): saturated → (k−1)·2³²/(h_(k)+0.5); unsaturated →
    // the sketch IS the set, so |union| is exact.
    val uest = when(col("n_union_sketch") >= k,
      lit((k - 1).toDouble) * lit(4294967296.0) / (col("hk").cast("double") + lit(0.5)))
      .otherwise(col("n_union_sketch").cast("double"))
    val jraw = col("matches").cast("double") / col("k_eff").cast("double")
    val est = agg
      .withColumn("union_est", round(uest, 6))
      .withColumn("jaccard_est", round(jraw, 6))
      .withColumn("inter_est", round(jraw * uest, 6))

    est
      .join(nEx.select(col("source").as("sa"), col("n_exact").as("n_exact_a")), Seq("sa"))
      .join(nEx.select(col("source").as("sb"), col("n_exact").as("n_exact_b")), Seq("sb"))
      .join(iEx, Seq("sa", "sb"), "left")
      .select(
        col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_exact_a"), col("n_exact_b"),
        col("n_union_sketch"), col("k_eff"),
        col("union_est"), col("jaccard_est"), col("inter_est"),
        coalesce(col("inter_exact"), lit(0L)).as("inter_exact"),
        when(coalesce(col("inter_exact"), lit(0L)) > 0,
          round(abs(col("inter_est") - col("inter_exact").cast("double"))
            / col("inter_exact").cast("double"), 6)).as("rel_error"))
  }
}
