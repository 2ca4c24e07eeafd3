package graft.ext

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingestion and shard writing: importance-weighted data
  * selection (DSIR), entropy-based quality filtering, semantic
  * deduplication over embeddings (SemDeDup), mergeable-sketch audits for
  * sharded MinHash computation, differentially-private release of corpus
  * statistics, change-point detection over ingest volume, and robust
  * outlier detection in embedding space.
  *
  * Determinism contract (the DuckDB-oracle gate): every floating sum is
  * either (a) a sum of integers — counts, fixed-point-snapped logs times
  * integer weights — or (b) a single sequential-fold dot product
  * (bit-identical to DuckDB's list_dot_product). Transcendentals (ln)
  * are computed once per GROUP (never once per row of a sum) and snapped
  * to a 1e-9 fixed-point grid before entering any aggregate, so addition
  * order cannot change a bit. Final ratios are one division + round(6).
  */
object Curation {

  /** ln/score snapped to the 1e-9 fixed-point grid as a BIGINT (the
    * lmScore/x105 convention): sums over these are exact integer
    * arithmetic, order-free across any partitioning.
    */
  private def snapFp(x: Column): Column =
    floor(x * lit(1e9) + lit(0.5)).cast("long")

  /** A double snapped to the 1e-9 grid IN double space (the sibling of
    * [[snapFp]] for values that stay double) — ONE definition: eight
    * operators previously re-spelled this locally, and a grid-convention
    * tweak applied to one copy would silently desynchronize the others'
    * shared-contract claims. */
  private def snap9(x: Column): Column =
    floor(x * lit(1e9) + lit(0.5)) / lit(1e9)

  /** First 32 bits of md5 as a non-negative long — the engine-portable
    * hash (DuckDB: CAST('0x'||substring(md5(x),1,8) AS BIGINT)).
    */
  private def hash32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  // ---------------------------------------------------------------------
  // DSIR importance weights
  // ---------------------------------------------------------------------

  /** Data Selection with Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169) over hashed unigram features: score every document
    * by how target-like its token distribution is, then keep the top
    * `topFrac` fraction.
    *
    * Per hashed feature bucket b (`buckets`-way md5 bucketing — the
    * "hashed n-gram" trick that makes the model a BOUNDED vector, not a
    * vocabulary-sized one):
    *   p_t(b) = (c_t(b)+1) / (T_t+B)   (target = docs from `targetSource`)
    *   p_r(b) = (c_r(b)+1) / (T_r+B)   (raw = the whole corpus)
    * and the per-doc log importance weight is Σ_tokens ln(p_t/p_r),
    * accumulated as snapped-fp integers.
    *
    * Scale shape: one token explode → two 64-row aggregates (the entire
    * "model" is `buckets` log-ratios, broadcast back onto the token
    * stream) → one per-doc aggregate. The top-fraction cut is an exact
    * global rank (the oracle contract) computed by the partitioned
    * [[exactAscRank]] construction, so no doc-grain data crosses a
    * single-task window; an approx-quantile threshold remains the
    * documented cheaper alternative — the score computation,
    * which is the expensive part, is unchanged.
    */
  def dsirWeights(docs: DataFrame, targetSource: String = "src0",
      buckets: Int = 64, topFrac: Double = 0.2): DataFrame = {
    val tok = docs
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .select(col("doc_id"), col("source"),
        (hash32(col("w")) % buckets).as("bucket"))
    // ONE aggregate yields both count columns (round-18): the raw and
    // target histograms previously aggregated the token stream twice,
    // and their two separate totals re-evaluated each histogram's whole
    // subtree once more — five tokenize+hash passes per run for a
    // 64-row model. count(when(...)) restricted to the target source is
    // the same ct the filtered aggregate produced (0 instead of NULL for
    // absent buckets, which the +coalesce formula already treated as 0);
    // totals are sums OVER the 64-row model table, not new corpus scans.
    val counts = tok.groupBy("bucket").agg(count(lit(1)).as("cr"),
      count(when(col("source") === targetSource, lit(1))).as("ct"))
    val tots = counts.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val b = lit(buckets.toDouble)
    val lr = counts
      .crossJoin(broadcast(tots))
      // Fail FAST when targetSource matches nothing: tt = 0 would make
      // every log-ratio a constant shift and the selection meaningless —
      // a typo'd source name must be a diagnosable error, not an empty
      // selection. (tt = 0 is the single-pass spelling of the old
      // NULL-total condition.) The assert is plan-level, but NOTE it
      // fires during CONSTRUCTION since round 18: the exactAscRank
      // kernel below eagerly localCheckpoints its input, so building
      // this frame executes the scoring pipeline — dsirWeights (like
      // every withExactRank caller) returns an eagerly-evaluated frame,
      // not a lazy plan.
      .filter(assert_true(col("tt") > 0L,
        lit(s"dsirWeights: targetSource '$targetSource' matched no " +
          "documents")).isNull)
      .select(col("bucket"),
        snapFp(log(
          (col("ct").cast("double") + lit(1.0))
            * (col("tr").cast("double") + b)
            / ((col("cr").cast("double") + lit(1.0))
              * (col("tt").cast("double") + b)))).as("lr_fp"))
    val perDoc = tok.join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr_fp")).as("logw_fp"))
    // Exact top-fraction rank over (logw_fp desc, doc_id asc) via the
    // partitioned exactAscRank construction — every doc needs a selected
    // bit, so this is a full ranking, not a top-k, and a global window
    // would funnel the doc grain through one task.
    val ranked = perDoc
      .transform(df => withExactRank(df, "logw_fp", desc = true, "doc_id",
        1L << 32, "rk"))
    // nd counts the RANKED frame (which reads exactAscRank's checkpoint)
    // rather than perDoc, whose separate reference would re-run the
    // whole scoring pass just to count docs.
    val nDocs = ranked.agg(count(lit(1)).as("nd"))
    ranked
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("n_tokens"), col("logw_fp"),
        round(col("logw_fp").cast("double") / lit(1e9)
          / col("n_tokens").cast("double"), 6).as("avg_logw"),
        (col("rk") <= ceil(lit(topFrac) * col("nd"))).as("selected"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // Token entropy quality filter
  // ---------------------------------------------------------------------

  /** Per-document unigram entropy H = -Σ_w (c/n)·ln(c/n) — the classic
    * repetitive-junk screen (a doc that repeats a few tokens scores near
    * 0; uniform usage of k distinct tokens scores ln k). `norm_entropy`
    * divides by ln(n_distinct) into [0,1] so a gate threshold transfers
    * across document lengths.
    *
    * The per-(doc,token) term c·ln(c/n) multiplies the snapped-fp log by
    * the INTEGER count, so the per-doc sum is exact integer arithmetic;
    * entropy = -sum/1e9/n is one final division.
    *
    * Scale: token explode → (doc,token) count → per-doc aggregate. One
    * shuffle chain keyed by doc_id; no windows, no state.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val per = tc.groupBy("doc_id")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("k"))
    val ent = -col("s_fp").cast("double") / lit(1e9) / col("n").cast("double")
    tc.join(per, Seq("doc_id"))
      .select(col("doc_id"), col("n"), col("k"),
        (col("c") * snapFp(log(col("c").cast("double")
          / col("n").cast("double")))).as("t_fp"))
      .groupBy("doc_id", "n", "k").agg(sum(col("t_fp")).as("s_fp"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("k").as("n_distinct"),
        round(ent, 6).as("entropy"),
        round(when(col("k") > 1, ent / log(col("k").cast("double")))
          .otherwise(lit(0.0)), 6).as("norm_entropy"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // Semantic deduplication (SemDeDup)
  // ---------------------------------------------------------------------

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    * embedding space into cells, and within each cell drop every vector
    * that has a same-cell neighbor with cosine >= `tau` and a smaller id
    * (keep-first — deterministic, no transitive closure). Reports
    * per-cell retention.
    *
    * Cells here are the engine's pinned 16-plane hyperplane buckets
    * (Similarity.lshBuckets) — the same role k-means cells play in the
    * paper, but deterministic and oracle-mirrorable. The within-cell
    * pair join is quadratic in CELL width only — SemDeDup's whole cost
    * model — and `cellCap` is the hot-cell guard: cells wider than the
    * cap are reported (within_cap = false, null drop stats) but excluded
    * from pair generation, so a burst of exact duplicates can never make
    * one cell quadratic (the candidatePairs bucketCap contract; the
    * ScaleProbe measures this bound directly under 10× duplicate
    * pressure).
    */
  def semanticDedup(embeddings: DataFrame, tau: Double = 0.4,
      cellCap: Int = 256): DataFrame = {
    VectorFunctions.register(embeddings.sparkSession)
    val e = embeddings.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val bk = Similarity.lshBuckets(embeddings)
    val widths = bk.groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
    val kept = bk
      .join(broadcast(widths.filter(col("n_vecs") <= cellCap).select("bucket")),
        Seq("bucket"))
      .join(e, Seq("vec_id"))
    val a = kept.select(col("bucket"), col("vec_id").as("va"), col("emb").as("ea"))
    val b = kept.select(col("bucket"), col("vec_id").as("vb"), col("emb").as("eb"))
    val dropped = a.join(b, Seq("bucket"))
      .filter(col("va") < col("vb"))
      .filter(Similarity.dot(col("ea"), col("eb")) >= tau)
      .select(col("bucket"), col("vb").as("vec_id")).distinct()
    // Over-cap cells are excluded from pair generation, so their drop
    // count/retention are UNKNOWN — reported as null, never as "fully
    // retained". within_cap = true means the cell was actually processed.
    widths
      .join(dropped.groupBy("bucket").agg(count(lit(1)).as("n_dropped")),
        Seq("bucket"), "left")
      .select(col("bucket"), col("n_vecs"),
        when(col("n_vecs") <= cellCap, coalesce(col("n_dropped"), lit(0L)))
          .as("n_dropped"),
        when(col("n_vecs") <= cellCap,
          round((col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).cast("double")
            / col("n_vecs").cast("double"), 6)).as("retention"),
        (col("n_vecs") <= cellCap).as("within_cap"))
      .orderBy("bucket")
  }

  private val deltaCellCache = graft.ops.Ckpt.Memo[Long]("Curation.deltaCellCache")

  /** Release this module's cached intermediates for a session — same
    * contract as Dedup.clearCaches (recomputable `.cache()`s). */
  def clearCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.ops.Ckpt.clearModule(spark, "Curation")

  /** Incremental semantic dedup: verdict a DELTA batch of embeddings
    * against an existing CORPUS through its persisted LSH cell index —
    * the embedding-space member of the incremental-dedup family
    * (Dedup.incrementalLshDedup is the text twin; x174 semanticDedup is
    * the full-recompute this maintains). At 100 TB the corpus
    * participates ONLY through its (vec_id, bucket) cell table
    * (`corpusCells` — pass the PERSISTED index; at the gate it derives,
    * and that derivation is the index build production amortizes);
    * corpus EMBEDDINGS are re-read only for cells the delta actually
    * touches, under-cap ones at that (broadcast-bounded by
    * |delta cells| × cellCap).
    *
    * Cell-cap semantics mirror x174 exactly, on the UNION's widths: an
    * over-cap cell is never pair-scored, so its delta members verdict
    * `overcap` (explicitly unknown — pass-through with a flag, never a
    * silent "kept"). Verdict policy is the family's: `dup_corpus` if
    * ANY under-cap corpus partner reaches tau (corpus canon wins,
    * regardless of id), else `dup_delta` for a LOWER-id delta partner
    * (first-occurrence-wins), else `kept`. When delta ids are all
    * higher than corpus ids — the production reality for fresh ingest —
    * this coincides exactly with the full recompute's min-id-wins drop
    * set (law in Batch17Spec, which also pins the ONE divergence on
    * interleaved ids: the full recompute would drop the older corpus
    * vec, the incremental path keeps corpus immutable and drops the
    * newcomer). Delta/corpus vec_id collisions raise in-plan.
    */
  def incrementalSemanticDedup(corpus: DataFrame, delta: DataFrame,
      tau: Double = 0.4, cellCap: Int = 256,
      corpusCells: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    val ci = corpusCells.getOrElse(Similarity.lshBuckets(corpus))
    // Delta cells feed three consumers (widths, the probe rows, the
    // verdict spine) — cached compute-once, the x251 candidate-probe
    // convention; Bench clears this between reruns like the sibling
    // module caches.
    val di = deltaCellCache(delta.sparkSession, PlanKeys.fingerprint(delta)) {
      Similarity.lshBuckets(delta).cache()
    }
    val widths = ci.select("bucket").unionByName(di.select("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
    val okCells = widths.filter(col("n_vecs") <= cellCap).select("bucket")
    // Under-cap cells the delta touches — the only cells whose corpus
    // embeddings are read at all.
    val touchedOk = okCells
      .join(broadcast(di.select("bucket").distinct()), Seq("bucket"),
        "left_semi")
    val deltaE = delta.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val dOk = di.join(broadcast(touchedOk), Seq("bucket"), "left_semi")
      .join(deltaE, Seq("vec_id"))
    val ciTouched = ci.join(broadcast(touchedOk), Seq("bucket"), "left_semi")
    val cRows = corpus
      .join(broadcast(ciTouched.withColumnRenamed("bucket", "_b")),
        Seq("vec_id"))
      .select(col("_b").as("bucket"), col("vec_id").as("match_id"),
        Similarity.asDouble(col("embedding")).as("m_emb"),
        lit(true).as("is_corpus"))
    // Staleness guard on the scored cells: every index row in a touched
    // under-cap cell must resolve to a corpus embedding row — a phantom
    // vec_id (deleted/compacted out of the corpus after the index was
    // written) would otherwise silently drop its pair-scores and
    // false-keep its delta near-dups. Two 1-row aggregates over
    // already-needed subtrees; the x252 stale-label discipline.
    val idxCount = ciTouched
      .agg(countDistinct(col("vec_id")).as("_n_idx"))
    val resolvedCount = cRows
      .agg(countDistinct(col("match_id")).as("_n_resolved"))
    val matchSide = cRows.unionByName(
      dOk.select(col("bucket"), col("vec_id").as("match_id"),
        col("emb").as("m_emb"), lit(false).as("is_corpus")))

    val verified = dOk.select(col("bucket"), col("vec_id"), col("emb"))
      .join(matchSide, Seq("bucket"))
      .filter(col("is_corpus") || col("match_id") < col("vec_id"))
      .withColumn("cos", Similarity.dot(col("emb"), col("m_emb")))
      .filter(col("cos") >= tau)
      .select("vec_id", "match_id", "is_corpus", "cos")

    // One window pass for top-1 + fan-in, like the text twin.
    val w = Window.partitionBy("vec_id")
      .orderBy(col("is_corpus").desc, col("cos").desc, col("match_id"))
    val best = verified
      .withColumn("rn", row_number().over(w))
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy("vec_id")))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("is_corpus"),
        col("match_id").as("best_match_id"), col("cos").as("best_cos"),
        col("n_matches"))

    val overlap = ci.select("vec_id")
      .join(broadcast(delta.select("vec_id").distinct()),
        Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("_n_overlap"))

    // inOk already holds exactly one row per delta vec (every delta
    // bucket is in widths by construction) — no extra delta scan.
    val inOk = di.join(broadcast(widths), Seq("bucket"))
      .select(col("vec_id"), (col("n_vecs") <= cellCap).as("in_ok"))
    inOk
      .join(best, Seq("vec_id"), "left")
      .crossJoin(broadcast(overlap))
      .filter(assert_true(col("_n_overlap") === 0L,
        lit("incrementalSemanticDedup: delta vec_ids collide with " +
          "corpus vec_ids — new ingest must mint fresh ids")).isNull)
      .crossJoin(broadcast(idxCount))
      .crossJoin(broadcast(resolvedCount))
      .filter(assert_true(col("_n_idx") === col("_n_resolved"),
        lit("incrementalSemanticDedup: corpusCells is stale — index " +
          "rows in scored cells reference vec_ids missing from the " +
          "corpus embeddings")).isNull)
      .select(col("vec_id"),
        when(!col("in_ok"), lit("overcap"))
          .when(col("is_corpus"), lit("dup_corpus"))
          .when(col("is_corpus").isNotNull, lit("dup_delta"))
          .otherwise(lit("kept")).as("verdict"),
        when(col("in_ok"), col("best_match_id")).as("best_match_id"),
        when(col("in_ok"), col("best_cos")).as("best_cos"),
        when(col("in_ok"), coalesce(col("n_matches"), lit(0L)))
          .as("n_matches"))
  }


  // ---------------------------------------------------------------------
  // MinHash shard-merge audit
  // ---------------------------------------------------------------------

  /** Mergeable-sketch audit for sharded MinHash: per-source trigram-set
    * signatures computed two ways — directly over the whole source, and
    * as the elementwise-min MERGE of per-shard signatures (shard =
    * doc_id % `numShards`) — must agree component-by-component, because
    * min is associative. That property is exactly what lets a 1000-node
    * cluster sketch each partition independently and combine; this audit
    * pins it end-to-end through the real hash pipeline (the x06 family's
    * Kirsch-Mitzenmacher two-hash construction, k = Dedup.MinHashK).
    *
    * On top of the audited signatures: the pairwise source-similarity
    * matrix — est_jaccard = (matching components)/k against the exact
    * trigram-set Jaccard, with the estimator's absolute error. The
    * "model" (one k-component signature per source) is tiny and
    * broadcast; the exact-Jaccard side is two aggregates and one
    * equi-join on the trigram.
    */
  def minhashMergeAudit(docs: DataFrame, numShards: Int = 4): DataFrame = {
    val k = Dedup.MinHashK
    val tri = docs
      .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), col("source"), col("ts"),
        explode(sequence(lit(1), size(col("ts")) - 2)).as("i"))
      .select(col("doc_id"), col("source"),
        array_join(slice(col("ts"), col("i"), lit(3)), " ").as("g"))
    // One tokenize+explode pass (round-18): the sharded distinct
    // materializes once, and the corpus-wide distinct DERIVES from it
    // (distinct (source, g) of distinct (source, shard, g) is the same
    // set) — previously the trigram explode ran once per distinct and
    // the corpus-wide set re-evaluated once per consumer (direct sigs,
    // sizes, both sides of the intersection self-join).
    val sst = tri.select(col("source"), (col("doc_id") % numShards).as("shard"), col("g"))
      .distinct().localCheckpoint()
    val st = sst.select(col("source"), col("g")).distinct().localCheckpoint()
    def hashed(d: DataFrame): DataFrame = {
      val h = md5(col("g").cast("binary"))
      d.withColumn("h1", conv(substring(h, 1, 8), 16, 10).cast("long"))
        .withColumn("h2", conv(substring(h, 9, 8), 16, 10).cast("long"))
        .drop("g")
    }
    def sigAggs(prefix: String) = (0 until k).map(j =>
      min((col("h1") + lit(j.toLong) * col("h2")) % lit(4294967296L))
        .as(s"$prefix$j"))
    val direct = hashed(st).groupBy("source").agg(sigAggs("s").head, sigAggs("s").tail: _*)
    val perShard = hashed(sst).groupBy("source", "shard")
      .agg(sigAggs("s").head, sigAggs("s").tail: _*)
    val merged = perShard.groupBy("source")
      .agg(min(col("s0")).as("m0"),
        (1 until k).map(j => min(col(s"s$j")).as(s"m$j")): _*)
    val mm = direct.join(merged, Seq("source"))
      .select(col("source"),
        (0 until k).map(j => when(col(s"s$j") =!= col(s"m$j"), lit(1L))
          .otherwise(lit(0L))).reduce(_ + _).as("mismatches"))
    val sizes = st.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = st.select(col("source").as("source_a"), col("g"))
      .join(st.select(col("source").as("source_b"), col("g")), Seq("g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_inter"))
    val da = direct.select(col("source").as("source_a") +:
      (0 until k).map(j => col(s"s$j").as(s"a$j")): _*)
    val db = direct.select(col("source").as("source_b") +:
      (0 until k).map(j => col(s"s$j").as(s"b$j")): _*)
    val est = da.crossJoin(db).filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        (0 until k).map(j => when(col(s"a$j") === col(s"b$j"), lit(1L))
          .otherwise(lit(0L))).reduce(_ + _).as("n_match"))
    est
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(sizes.select(col("source").as("source_a"), col("sz").as("ka")), Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("sz").as("kb")), Seq("source_b"))
      .join(mm.select(col("source").as("source_a"), col("mismatches").as("mm_a")), Seq("source_a"))
      .join(mm.select(col("source").as("source_b"), col("mismatches").as("mm_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        round(col("n_match").cast("double") / lit(k.toDouble), 6).as("est_jaccard"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double")
          / (col("ka") + col("kb") - coalesce(col("n_inter"), lit(0L))).cast("double"), 6)
          .as("exact_jaccard"),
        col("mm_a"), col("mm_b"))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
      .select("source_a", "source_b", "est_jaccard", "exact_jaccard", "abs_err",
        "mm_a", "mm_b")
      .orderBy("source_a", "source_b")
  }

  // ---------------------------------------------------------------------
  // Differentially-private histogram release
  // ---------------------------------------------------------------------

  /** ε-DP histogram of event counts under the Laplace mechanism
    * (Dwork et al. 2006): noisy_count = count + Lap(Δ/ε) with sensitivity
    * Δ = 1 (one user event changes one bucket count by one). The noise
    * is DERANDOMIZED for the gate: u ~ Uniform(0,1) comes from the md5
    * of the bucket key + salt ((r+0.5)/10^6, never exactly ½), and the
    * inverse-CDF transform -1/ε·sgn(u-½)·ln(1-2|u-½|) is the standard
    * Laplace sampler — a production release swaps in a real CSPRNG draw,
    * everything else unchanged. true_count stays in the output because
    * this is the calibration AUDIT of the mechanism (|noise| quantiles
    * vs the Lap(1/ε) CDF), not the public release itself.
    *
    * Scale: one aggregate over the stream, noise is per-GROUP (a handful
    * of rows) — free at any corpus size.
    */
  def dpNoisyCounts(events: DataFrame, eps: Double = 1.0,
      salt: String = "dp-v1"): DataFrame = {
    val u = ((hash32(concat(col("event_type"), lit("|" + salt))) % lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1000000.0)
    events.groupBy("event_type").agg(count(lit(1)).as("true_count"))
      .withColumn("u", u)
      .withColumn("noise", round(lit(-1.0 / eps) * signum(col("u") - lit(0.5))
        * log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))), 6))
      .select(col("event_type"), col("true_count"), col("noise"),
        round(col("true_count").cast("double") + col("noise"), 6).as("noisy_count"),
        lit(eps).as("epsilon"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------------
  // Change-point detection over daily volume
  // ---------------------------------------------------------------------

  /** Cumulative-deviation change-point detection over the daily event
    * count (the CUSUM/Pettitt family): C_d = Σ_{i<=d}(y_i - ȳ) peaks at
    * the day the mean shifts; the argmax of |C_d| is the estimated
    * change point. All statistics are exact integers — C_d·D = D·cum_d -
    * d·S avoids the rational mean entirely — and the single |C| maximum
    * is tie-broken to the earliest day.
    *
    * The window runs over one row per DAY (calendar-bounded, like x171),
    * not per event; the event-level work is one groupBy(day).
    */
  def changepoint(events: DataFrame): DataFrame = {
    val daily = events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val tot = daily.agg(count(lit(1)).as("d_days"), sum(col("y")).as("s_tot"))
    val wi = Window.orderBy("day")
    val wc = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .withColumn("idx", row_number().over(wi).cast("long"))
      .withColumn("cum", sum(col("y")).over(wc))
      .withColumn("c_fp", col("d_days") * col("cum") - col("idx") * col("s_tot"))
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("c_fp")).desc, col("day").asc)))
      .filter(col("rk") === 1)
      .select(date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
        col("d_days").as("n_days"),
        round(abs(col("c_fp")).cast("double") / col("d_days").cast("double"), 6)
          .as("max_dev"),
        round(col("cum").cast("double") / col("idx").cast("double"), 6)
          .as("mean_before"),
        when(col("d_days") > col("idx"),
          round((col("s_tot") - col("cum")).cast("double")
            / (col("d_days") - col("idx")).cast("double"), 6)).as("mean_after"))
  }

  // ---------------------------------------------------------------------
  // Robust embedding-space outliers
  // ---------------------------------------------------------------------

  /** Mislabeled/corrupt-vector screen: squared distance to the own-label
    * centroid, robust-z-scored per label via median/MAD (z = (d² - med) /
    * (1.4826·MAD) — the consistency-constant form), top-`topK` overall.
    *
    * Exactness: coordinates snap to a 1e-3 fixed-point grid; the
    * centroid is the truncated integer division of the per-dim sum (DIV,
    * matching DuckDB //), so d² is an exact BIGINT ≤ dims·(2·10³)² —
    * orders of magnitude inside both BIGINT and double-exact range.
    * Median/MAD interpolate identically in both engines
    * (percentile(·,0.5) ≡ quantile_cont). Labels whose MAD is 0 (over
    * half the vectors identical) have no meaningful z and are excluded
    * from the ranking by construction.
    *
    * Scale: posexplode → two keyed aggregates (label×dim, then vec) →
    * per-label medians. The only global step is the final top-k, a
    * TakeOrdered over per-vector rows.
    */
  def embeddingOutliers(embeddings: DataFrame, topK: Int = 20): DataFrame = {
    val ex = embeddings
      .select(col("vec_id"), col("label"),
        posexplode(Similarity.asDouble(col("embedding"))))
      .select(col("vec_id"), col("label"), col("pos").as("dim"),
        floor(col("col") * lit(1000.0) + lit(0.5)).cast("long").as("v_fp"))
    val cent = ex.groupBy("label", "dim")
      .agg(sum(col("v_fp")).as("sum_fp"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"), expr("sum_fp div n").as("c_fp"))
    val d2 = ex.join(cent, Seq("label", "dim"))
      .groupBy("vec_id", "label")
      .agg(sum((col("v_fp") - col("c_fp")) * (col("v_fp") - col("c_fp"))).as("d2"))
    val med = d2.groupBy("label").agg(expr("percentile(d2, 0.5D)").as("med"))
    val withMed = d2.join(med, Seq("label"))
    val mad = withMed.groupBy("label")
      .agg(expr("percentile(abs(cast(d2 as double) - med), 0.5D)").as("mad"))
    // Global top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    // heaps, no single-task window over the vec grain); the rank label is
    // re-derived over the topK-row bounded result.
    withMed.join(mad, Seq("label"))
      .filter(col("mad") > 0)
      .select(col("vec_id"), col("label"), col("d2"),
        round((col("d2").cast("double") - col("med"))
          / (lit(1.4826) * col("mad")), 6).as("z"))
      .orderBy(col("z").desc, col("vec_id").asc)
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("z").desc, col("vec_id").asc)).cast("long"))
      .select("rank", "vec_id", "label", "d2", "z")
      .orderBy("rank")
  }

  // ---------------------------------------------------------------------
  // Two-sample Kolmogorov–Smirnov drift test
  // ---------------------------------------------------------------------

  /** Per-source distribution drift TEST (the contract x105's KL
    * measurement lacks): the exact two-sample KS statistic of each
    * source's document-length distribution against the rest of the
    * corpus, with the α=0.05 decision. D = max_x |F_src(x) - F_rest(x)|
    * is computed entirely in integers — |cum_s·n_r - cum_r·n_s| over the
    * merged value grid, divided once at the end — so the supremum is
    * exact, not a binned approximation. crit_05 is the classic
    * 1.358·√((n₁+n₂)/(n₁n₂)) large-sample threshold (√ is IEEE
    * correctly-rounded, hence engine-identical).
    *
    * Scale: the grid is sources × distinct values (bounded by the value
    * domain, not the corpus); per-source windows partition cleanly.
    */
  def ksBySource(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
    val values = docs.select("n_chars").distinct()
    val sources = docs.groupBy("source").agg(count(lit(1)).as("ns"))
    val perValue = docs.groupBy("n_chars").agg(count(lit(1)).as("ct"))
    val total = docs.agg(count(lit(1)).as("nt"))
    val w = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sources.crossJoin(values)
      .join(counts, Seq("source", "n_chars"), "left")
      .join(perValue, Seq("n_chars"))
      .crossJoin(broadcast(total))
      .withColumn("cum_s", sum(coalesce(col("c"), lit(0L))).over(w))
      .withColumn("cum_t", sum(col("ct")).over(w))
      .withColumn("nr", col("nt") - col("ns"))
      .withColumn("d_num",
        abs(col("cum_s") * col("nr") - (col("cum_t") - col("cum_s")) * col("ns")))
      .groupBy("source", "ns", "nr")
      .agg(max(col("d_num")).as("d_fp"))
      .select(col("source"), col("ns").as("n_source"),
        round(col("d_fp").cast("double")
          / (col("ns") * col("nr")).cast("double"), 6).as("ks_stat"),
        round(lit(1.358) * sqrt((col("ns") + col("nr")).cast("double")
          / (col("ns") * col("nr")).cast("double")), 6).as("crit_05"))
      .withColumn("significant", col("ks_stat") > col("crit_05"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // Kaplan–Meier survival (signup → purchase)
  // ---------------------------------------------------------------------

  /** Kaplan–Meier product-limit estimator (1958) for time-to-first-
    * purchase, right-censored at the corpus horizon: per user, duration
    * is days from first event to first 'purchase' (event) or to the
    * corpus max timestamp (censored). S(d) = Π_{d'≤d} (1 - d_i/n_i) over
    * event durations, with the standard risk-set convention (censored at
    * d still at risk AT d).
    *
    * Engine determinism for the running product: per-duration ln factors
    * snap to the 1e-9 grid, the running SUM is integer, and survival is
    * snap9(exp(sum/1e9)) — the lmScore exp convention. A duration where
    * every at-risk user converts (factor 0) forces survival to exactly 0
    * from that point on via an explicit flag, never through ln(0).
    *
    * Scale: one groupBy(user), one groupBy(duration); the windows run
    * over one row per distinct DURATION (calendar-bounded).
    */
  def kaplanMeier(events: DataFrame): DataFrame = {
    val base = events.select(col("user_id"),
      expr("unix_micros(ts)").as("us"), col("event_type"))
    val perUser = base.groupBy("user_id").agg(
      min(col("us")).as("t0"),
      min(when(col("event_type") === "purchase", col("us"))).as("tp"))
    val horizon = base.agg(max(col("us")).as("tmax"))
    val durs = perUser.crossJoin(broadcast(horizon))
      .select(col("user_id"),
        when(col("tp").isNotNull, expr("(tp - t0) div 86400000000"))
          .otherwise(expr("(tmax - t0) div 86400000000")).as("dur"),
        col("tp").isNotNull.as("is_event"))
    val n = durs.agg(count(lit(1)).as("n_users"))
    val wCum = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byDur = durs.groupBy("dur").agg(
      count(lit(1)).as("c_obs"),
      sum(when(col("is_event"), lit(1L)).otherwise(lit(0L))).as("d_i"))
      .crossJoin(broadcast(n))
      .withColumn("cum_obs", sum(col("c_obs")).over(wCum))
      .withColumn("n_risk", col("n_users") - col("cum_obs") + col("c_obs"))
      .filter(col("d_i") > 0)
    byDur
      .withColumn("lnf_fp", when(col("d_i") < col("n_risk"),
        snapFp(log((col("n_risk") - col("d_i")).cast("double")
          / col("n_risk").cast("double")))))
      // Same cumulative spec as the risk-set window above — one
      // definition; a drifted re-spell would desynchronize the survival
      // product from the risk sets.
      .withColumn("cum_ln_fp", sum(col("lnf_fp")).over(wCum))
      .withColumn("zeroed",
        max(when(col("d_i") === col("n_risk"), lit(1)).otherwise(lit(0))).over(wCum))
      .select(col("dur").as("duration_days"),
        col("n_risk").as("n_at_risk"), col("d_i").as("n_events"),
        when(col("zeroed") === 1, lit(0.0))
          .otherwise(round(snap9(exp(col("cum_ln_fp").cast("double") / lit(1e9))), 6))
          .as("survival"))
      .orderBy("duration_days")
  }

  // ---------------------------------------------------------------------
  // Benford first-digit audit
  // ---------------------------------------------------------------------

  /** Benford's-law audit over the event value column — the classic
    * fabricated-data screen. The first significant digit is extracted
    * through EXACT integer cents (floor(100·v + ½) then the first
    * character of the integer's decimal rendering — identical in any
    * engine, immune to log10 boundary ulps), compared against
    * P(d) = log10(1 + 1/d).
    *
    * The denominator counts only rows that CONTRIBUTE a digit: a value
    * in (0, 0.005) rounds to zero cents and yields no first digit, and
    * counting it in the total would bias every digit's observed
    * fraction low (obs_frac would no longer sum to 1).
    *
    * One aggregate over the stream; 9 output rows.
    */
  def benford(events: DataFrame): DataFrame = {
    val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
    val digits = events.filter(col("value") > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit") >= 1)
    val total = digits.agg(count(lit(1)).as("nt"))
    digits
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("nt").cast("double"), 6)
          .as("obs_frac"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
          .as("benford_p"))
      .withColumn("abs_dev", round(abs(col("obs_frac") - col("benford_p")), 6))
      .orderBy("digit")
  }

  // ---------------------------------------------------------------------
  // Grouped exact weighted percentiles
  // ---------------------------------------------------------------------

  /** Exact weighted percentiles (p50/p90) of extended price weighted by
    * quantity, per return flag — the weighted order statistic Spark's
    * built-in percentile family doesn't cover. The threshold test is
    * pure integer arithmetic (2·cumW ≥ W, 10·cumW ≥ 9·W — quantities are
    * integral and cast to BIGINT), and the selected value is a raw data
    * value, so the result is bit-exact with no float accumulation at
    * all. Ties in the value column cannot change the answer: wherever
    * the threshold crosses inside a run of equal values, the selected
    * value IS that run's value.
    *
    * Scale: one per-group window + one aggregate — but the group key
    * (return flag) has a HANDFUL of values, so each window partition
    * funnels ~1/|groups| of the fact table through one task's sort. At
    * the 100 TB posture this is a single-executor sort bottleneck: use
    * the [[exactAscRank]] bucket-histogram offset construction (which
    * exists for exactly this shape) to compute the cumulative weight
    * without a low-cardinality window; this spelling is the gate-scale
    * reference implementation.
    */
  def weightedPercentiles(lineitem: DataFrame): DataFrame = {
    val base = lineitem.select(col("l_returnflag").as("grp"),
      col("l_extendedprice").as("x"),
      col("l_quantity").cast("long").as("w"),
      col("l_orderkey"), col("l_linenumber"))
    val wTot = base.groupBy("grp").agg(sum(col("w")).as("tw"))
    val wn = Window.partitionBy("grp")
      .orderBy(col("x"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(wTot, Seq("grp"))
      .withColumn("cw", sum(col("w")).over(wn))
      .groupBy("grp", "tw")
      .agg(min(when(col("cw") * 2 >= col("tw"), col("x"))).as("wp50"),
        min(when(col("cw") * 10 >= col("tw") * 9, col("x"))).as("wp90"))
      .select(col("grp").as("l_returnflag"), col("tw").as("total_weight"),
        col("wp50"), col("wp90"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------------
  // Position-based multi-touch attribution
  // ---------------------------------------------------------------------

  /** U-shaped (position-based) multi-touch attribution: every purchase
    * distributes 1.0 credit over the user's view/click touches in the
    * preceding `windowDays` — 40% first touch, 40% last, the middle 20%
    * split evenly (k=1 → 100%, k=2 → 50/50). Credits live on a 1e-6
    * integer grid (the middle split is integer division — the ≤(k-3)e-6
    * truncation remainder is deliberately dropped rather than
    * re-distributed), so per-channel totals are exact integer sums.
    *
    * Scale: the touch↔purchase pairing is an equi-join on user_id with a
    * time-range predicate — volume is bounded by per-user activity, the
    * same contract as sessionization; the position windows partition by
    * purchase.
    */
  def multiTouchAttribution(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"),
      expr("unix_micros(ts)").as("us"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"), col("event_id").as("p_id"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_type").as("channel"),
        col("us").as("t_us"), col("event_id").as("t_id"))
    val win = lit(windowDays.toLong * 86400000000L)
    val wOrd = Window.partitionBy("p_id").orderBy(col("t_us"), col("t_id"))
    val wCnt = Window.partitionBy("p_id")
    purchases.join(touches, Seq("user_id"))
      .filter(col("t_us") < col("p_us") && col("t_us") >= col("p_us") - win)
      .withColumn("pos", row_number().over(wOrd).cast("long"))
      .withColumn("k", count(lit(1)).over(wCnt))
      .withColumn("credit_fp",
        when(col("k") === 1, lit(1000000L))
          .when(col("pos") === 1 || col("pos") === col("k"),
            when(col("k") === 2, lit(500000L)).otherwise(lit(400000L)))
          .otherwise(expr("200000 div (k - 2)")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"), sum(col("credit_fp")).as("credit_fp"))
      .select(col("channel"), col("n_touches"),
        round(col("credit_fp").cast("double") / lit(1e6), 6).as("credit"))
      .orderBy("channel")
  }

  // ---------------------------------------------------------------------
  // Theil–Sen robust trend
  // ---------------------------------------------------------------------

  /** Theil–Sen robust trend over the daily event count: the median of
    * all pairwise day-slopes (breakdown point 29% — one bad ingest day
    * cannot swing it, unlike OLS), intercept as the median residual.
    * Slopes and residuals snap to the 1e-9 grid BEFORE their medians, so
    * even an interpolated (even-count) median is exact dyadic arithmetic
    * in both engines.
    *
    * Scale: the pair join is day×day — bounded by the CALENDAR, not the
    * corpus (30 days → 435 pairs), the x171 convention; event-scale work
    * is one groupBy(day).
    */
  def theilSen(events: DataFrame): DataFrame = {
    val daily = events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("i", row_number().over(Window.orderBy("day")).cast("long"))
    daily.agg(count(lit(1)).as("n_days"))
      .crossJoin(theilSenFit(daily))
      .select(col("n_days"), round(col("b"), 6).as("slope"),
        round(col("a"), 6).as("intercept"))
  }

  /** The Theil–Sen line fit itself — median pairwise slope `b` over
    * (i, y) rows, intercept `a` = median residual under it, both
    * medians over 1e-9-snapped values (exact dyadic arithmetic in both
    * engines). ONE definition consumed by [[theilSen]],
    * [[conformalBand]], and [[forecastSkill]]: the conformal/MASE docs
    * claim they evaluate "the same robust line" the trend operator
    * reports, which is only true by construction if the fit is never
    * re-spelled. Returns one row (b, a); extra columns on `train` pass
    * through the slope join harmlessly. Pair join is bounded by the
    * CALENDAR (day×day), never the corpus. */
  private def theilSenFit(train: DataFrame): DataFrame = {
    val slopes = train.select(col("i").as("i1"), col("y").as("y1"))
      .join(train.select(col("i").as("i2"), col("y").as("y2")),
        col("i1") < col("i2"))
      .select(snap9((col("y2") - col("y1")).cast("double")
        / (col("i2") - col("i1")).cast("double")).as("s"))
    val slope = slopes.agg(expr("percentile(s, 0.5D)").as("b"))
    train.crossJoin(broadcast(slope))
      .select(snap9(col("y").cast("double") - col("b") * col("i").cast("double"))
        .as("r0"), col("b"))
      .groupBy("b").agg(expr("percentile(r0, 0.5D)").as("a"))
  }

  // ---------------------------------------------------------------------
  // Poisson-bootstrap confidence interval
  // ---------------------------------------------------------------------

  /** Poisson bootstrap (Chamandy et al. 2012 — the resampling scheme
    * built for map-reduce: each row draws an independent Poisson(1)
    * replicate weight, so no global resample pass is needed) for the
    * mean purchase value. Weights are DERANDOMIZED: u from the md5 of
    * (event_id, replicate), inverse-CDF'd through the Poisson(1)
    * cumulative thresholds (computed from exp(-1) as one shared
    * expression tree, so both engines evaluate identical doubles).
    *
    * Per replicate, the estimate is a ratio of two INTEGER sums
    * (weight·cents / weight); across the `reps` replicates every
    * aggregate runs over 1e-9-snapped values, so the bootstrap mean and
    * variance are exact dyadic arithmetic. Output: the point estimate,
    * bootstrap mean/sd, and the 95% normal-approximation interval.
    *
    * Scale: the explode is ×reps (a constant), everything else is one
    * keyed aggregate — the whole point of the Poisson bootstrap.
    */
  def poissonBootstrap(events: DataFrame, reps: Int = 20): DataFrame = {
    val purch = events.filter(col("event_type") === "purchase")
      .select(col("event_id"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
    val exploded = purch
      .select(col("event_id"), col("cents"),
        explode(sequence(lit(0), lit(reps - 1))).as("r"))
      .withColumn("u",
        ((hash32(concat(col("event_id").cast("string"), lit("|boot|"),
          col("r").cast("string"))) % lit(1000000L)).cast("double") + lit(0.5))
          / lit(1000000.0))
      .withColumn("w", poissonWeight(col("u")))
    val perRep = exploded.groupBy("r")
      .agg(sum(col("w") * col("cents")).as("wc"), sum(col("w")).as("ws"))
      // A replicate whose Poisson weights all drew zero has no estimate
      // (ws = 0 makes est NULL); it must leave BOTH the count and the
      // sums — counting it in nr while the sums skip it biases boot_mean
      // low and can clamp the variance to a zero-width CI. The sibling
      // abTestHarness carries the same guard.
      .filter(col("ws") > 0)
      .select(col("r"), snap9(col("wc").cast("double") / col("ws").cast("double"))
        .as("est"))
      // Squared term on a 1e6 grid, not 1e9: est is cents, and
      // floor(est² · scale) must fit a BIGINT (Spark's FLOOR(double)
      // saturates SILENTLY at Long.MaxValue — no ANSI error — which
      // would zero boot_sd with no signal). 1e6 admits |est| up to
      // ~3.0e6 cents ($30k mean purchase) vs ~$960 at 1e9; variance
      // precision 1e-6 cents² is far below the round(…, 6) output grid.
      .withColumn("est2_fp",
        floor(col("est") * col("est") * lit(1e6) + lit(0.5)).cast("long"))
    val point = purch.agg(
      sum(col("cents")).as("pc"), count(lit(1)).as("pn"))
    perRep.agg(count(lit(1)).as("nr"), sum(col("est")).as("s1"),
        sum(col("est2_fp")).as("s2fp"))
      .crossJoin(broadcast(point))
      .select(
        round(col("pc").cast("double") / lit(100.0) / col("pn").cast("double"), 6)
          .as("point_mean"),
        col("nr").as("n_replicates"),
        round(col("s1") / col("nr").cast("double") / lit(100.0), 6).as("boot_mean"),
        round(sqrt(greatest(lit(0.0),
          (col("s2fp").cast("double") / lit(1e6)
            - col("s1") * col("s1") / col("nr").cast("double"))
            / (col("nr") - 1).cast("double"))) / lit(100.0), 6).as("boot_sd"))
      .withColumn("ci_lo", round(col("point_mean") - lit(1.96) * col("boot_sd"), 6))
      .withColumn("ci_hi", round(col("point_mean") + lit(1.96) * col("boot_sd"), 6))
  }

  // ---------------------------------------------------------------------
  // Split-conformal forecast band
  // ---------------------------------------------------------------------

  /** Split-conformal prediction band (Vovk et al.; Lei et al. 2018) over
    * the daily event count: fit the robust Theil–Sen line on the first
    * ⌈2D/3⌉ days, take the ⌈(m+1)·0.9⌉-th smallest absolute residual on
    * the held-out calibration days as the conformal quantile q, and
    * report the day-(D+1) forecast band ŷ ± q. Finite-sample coverage
    * ≥ 90% holds by exchangeability — no distributional assumption
    * (CurationSpec pins the order-statistic coverage property on a
    * fixture).
    *
    * All medians/order statistics run over snapped values; the quantile
    * is an EXACT order statistic (row_number == k), not an
    * interpolation.
    */
  def conformalBand(events: DataFrame): DataFrame = {
    val daily = events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("i", row_number().over(Window.orderBy("day")).cast("long"))
    val bounds = daily.agg(count(lit(1)).as("d"),
      ceil(count(lit(1)).cast("double") * lit(2.0) / lit(3.0)).as("n_train"))
    val withB = daily.crossJoin(broadcast(bounds))
    val train = withB.filter(col("i") <= col("n_train"))
    val inter = theilSenFit(train)
    val cal = withB.crossJoin(broadcast(inter))
      .filter(col("i") > col("n_train"))
      .select(col("d"), col("n_train"), col("a"), col("b"), col("i"),
        snap9(abs(col("y").cast("double")
          - (col("a") + col("b") * col("i").cast("double")))).as("ar"))
    val m = cal.groupBy("d", "n_train", "a", "b").agg(count(lit(1)).as("m"))
    val q = cal.join(m, Seq("d", "n_train", "a", "b"))
      .withColumn("k", ceil((col("m") + 1).cast("double") * lit(0.9)))
      // Tie-break on the row-varying day index i: d is the constant
      // total day count, so ordering by (ar, d) left tied residuals in
      // arbitrary partition order — harmless today only because ar is
      // the sole row-varying column the select reads, and a trap for
      // any future edit that reads another.
      .withColumn("rn", row_number().over(
        Window.orderBy(col("ar").asc, col("i").asc)).cast("long"))
      .filter(col("rn") === least(col("k"), col("m")))
    q.select(col("d").as("n_days"), col("n_train"), col("m").as("n_cal"),
      round(col("b"), 6).as("slope"), round(col("a"), 6).as("intercept"),
      round(col("ar"), 6).as("q90"),
      round(col("a") + col("b") * (col("d") + 1).cast("double"), 6)
        .as("forecast_next"),
      round(col("a") + col("b") * (col("d") + 1).cast("double") - col("ar"), 6)
        .as("band_lo"),
      round(col("a") + col("b") * (col("d") + 1).cast("double") + col("ar"), 6)
        .as("band_hi"))
  }

  // ---------------------------------------------------------------------
  // Quantization recall evaluation
  // ---------------------------------------------------------------------

  /** Retrieval impact of int8 scalar quantization: recall@k of the
    * quantized index against full-precision brute-force truth for the
    * pinned query set — the eval table that decides whether SQ8 is free
    * at serving time. Quantized scores are EXACT integer dot products
    * (Σ qa·qb as a sequential fold over int codes, |q| ≤ 127 so the sum
    * is far inside exact-double range) times the two per-vector scales;
    * ranking ties break on vec_id.
    *
    * Scale: queries broadcast; the corpus streams once per side.
    */
  def quantizationRecall(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int = 5): DataFrame = {
    VectorFunctions.register(embeddings.sparkSession)
    val e = embeddings.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    // The deployed codec, not a re-spelling: Similarity.quantizeCodes is
    // the single definition of the int8 rounding rule and scale
    // convention this eval measures.
    val quant = Similarity.quantizeCodes(embeddings)
      .select(col("vec_id"), col("q"), col("scale"))
    val qq = quant.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("q").as("qa"), col("scale").as("sa"))
    def intDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
        lit(0L), (acc, v) => acc + v)
    val qTop = quant.crossJoin(broadcast(qq))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        (intDot(col("qa"), col("q")).cast("double") * col("sa") * col("scale"))
          .as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("nid").asc)))
      .filter(col("rn") <= k)
    val tq = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("emb").as("qe"))
    val truth = e.crossJoin(broadcast(tq))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        Similarity.dot(col("qe"), col("emb")).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("nid").asc)))
      .filter(col("rn") <= k)
    truth.select(col("qid"), col("nid"))
      .join(qTop.select(col("qid"), col("nid"), lit(1).as("hit")),
        Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_overlap"))
      .select(col("qid"), col("n_overlap"),
        round(col("n_overlap").cast("double") / lit(k.toDouble), 6).as("recall"))
      .orderBy("qid")
  }

  // ---------------------------------------------------------------------
  // Spearman rank correlation
  // ---------------------------------------------------------------------

  /** Spearman rank correlation between two event types' daily-volume
    * series ('view' vs 'purchase' by default) — the robust, outlier-
    * immune dependence measure next to x41/x171's Pearson family.
    * Average ranks handle ties exactly on the ×2 integer grid (avg of
    * two integers is a half-integer: rank2 = 2·rank is a BIGINT), so
    * every sufficient statistic of the Pearson-over-ranks formula is an
    * exact integer and ρ is one shared IEEE tree.
    *
    * Windows run over one row per DAY (calendar-bounded).
    */
  def spearmanDaily(events: DataFrame, typeA: String = "view",
      typeB: String = "purchase"): DataFrame = {
    val daily = events
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(when(col("event_type") === typeA, lit(1L)).otherwise(lit(0L)))
        .as("ya"),
        sum(when(col("event_type") === typeB, lit(1L)).otherwise(lit(0L)))
          .as("yb"))
    // Average-rank on the x2 grid: 2*avg_rank = rank_min + rank_max,
    // both from one dense pass (min rank via row_number over value, then
    // per-value min/max aggregation joined back).
    def rank2(c: String): Column =
      min(col(s"rn_$c")).over(Window.partitionBy(col(c))) +
        max(col(s"rn_$c")).over(Window.partitionBy(col(c)))
    val ranked = daily
      .withColumn("rn_ya", row_number().over(Window.orderBy(col("ya"), col("day")))
        .cast("long"))
      .withColumn("rn_yb", row_number().over(Window.orderBy(col("yb"), col("day")))
        .cast("long"))
      .withColumn("ra2", rank2("ya"))
      .withColumn("rb2", rank2("yb"))
    ranked.agg(count(lit(1)).as("n"),
        sum(col("ra2")).as("sa"), sum(col("rb2")).as("sb"),
        sum(col("ra2") * col("ra2")).as("saa"),
        sum(col("ra2") * col("rb2")).as("sab"),
        sum(col("rb2") * col("rb2")).as("sbb"))
      .select(col("n").as("n_days"),
        when((col("n") * col("saa") - col("sa") * col("sa")) > 0 &&
          (col("n") * col("sbb") - col("sb") * col("sb")) > 0,
          round((col("n") * col("sab") - col("sa") * col("sb")).cast("double")
            / sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double")
              * (col("n") * col("sbb") - col("sb") * col("sb")).cast("double")), 6))
          .as("spearman_rho"))
  }

  // ---------------------------------------------------------------------
  // Seasonally-adjusted anomaly detection
  // ---------------------------------------------------------------------

  /** STL-lite anomaly screen: remove the day-of-week median profile from
    * the daily count (the robust seasonal component), then robust-z the
    * remainder via median/MAD — so a "spike" is judged against its OWN
    * weekday's normal, not the whole week's (Mondays don't alarm just
    * for being Mondays). All medians interpolate identically in both
    * engines; remainders live on exact half-integer grids.
    */
  def seasonalAnomaly(events: DataFrame, zThreshold: Double = 3.5): DataFrame = {
    val daily = events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("dow", dayofweek(col("day")))
    val dowMed = daily.groupBy("dow").agg(expr("percentile(y, 0.5D)").as("med_dow"))
    val resid = daily.join(broadcast(dowMed), Seq("dow"))
      .withColumn("r", col("y").cast("double") - col("med_dow"))
    val center = resid.agg(expr("percentile(r, 0.5D)").as("med_r"))
    val withC = resid.crossJoin(broadcast(center))
    val mad = withC.agg(expr("percentile(abs(r - med_r), 0.5D)").as("mad_r"))
    withC.crossJoin(broadcast(mad))
      .filter(col("mad_r") > 0)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dow"), col("y"), round(col("med_dow"), 6).as("dow_median"),
        round((col("r") - col("med_r")) / (lit(1.4826) * col("mad_r")), 6).as("z"))
      .withColumn("is_anomaly", abs(col("z")) > zThreshold)
      .orderBy("day")
  }

  // ---------------------------------------------------------------------
  // Item-item collaborative filtering
  // ---------------------------------------------------------------------

  /** Distinct (cust, part) purchase matrix — the raw binary ownership
    * relation itemItemCf models. */
  private[graft] def rawPurchaseMatrix(orders: DataFrame,
      lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .distinct()

  /** Hot-basket cap: each customer keeps only their `maxBasket` most
    * co-purchase-informative parts (global frequency rank desc, part id
    * asc) before the per-customer pair self-join, bounding a whale's
    * pair contribution to C(maxBasket, 2) by construction. The ranking
    * window is partitioned per customer — never global. */
  private[graft] def cappedPurchaseMatrix(cp0: DataFrame,
      maxBasket: Int): DataFrame = {
    val pop = cp0.groupBy("part").agg(count(lit(1)).as("np0"))
    cp0.join(pop, Seq("part"))
      .withColumn("brn", row_number().over(
        Window.partitionBy("cust").orderBy(col("np0").desc, col("part").asc)))
      .filter(col("brn") <= maxBasket)
      .select("cust", "part")
  }

  /** Item-item collaborative filtering (Sarwar et al. 2001 — the
    * Amazon-style recommender): part-part cosine similarity over the
    * binary customer×part purchase matrix (sim = n_ab/√(n_a·n_b),
    * support-pruned), then top-`k` recommendations for the pinned
    * customer set by summing similarities from owned parts to candidate
    * parts, excluding what they already own. Similarities snap to the
    * 1e-9 grid so per-candidate score sums are exact integers.
    *
    * Scale: pair generation is bounded twice over. `maxBasket` caps each
    * customer at their `maxBasket` most-popular parts (global co-purchase
    * frequency rank, part-id tiebreak — the hot-key cap pattern of
    * x66/x174), so a whale customer with 10⁵ distinct parts contributes
    * bounded pair rows, not 5·10⁹; and pair COUNTING is restricted to the
    * pairs the recommendation join can actually read — those touching the
    * pinned customers' owned parts (≤ |custIds|·maxBasket part ids, a
    * broadcast semi-join onto the matrix) — so per customer the join
    * emits at most |basket ∩ S|·maxBasket rows, never C(basket, 2) for
    * the whole corpus (round-18: the full-matrix pair aggregate was the
    * bench's heaviest stage and 99.7% of its groups were discarded).
    * Support counts and similarities are still computed over the SAME
    * capped matrix across ALL customers (the same n_ab/√(n_a·n_b) the
    * full model yields for those pairs — a self-consistent model); only
    * the already-owned exclusion uses the uncapped ownership set, so a
    * capped-out part is never recommended back to its owner.
    */
  def itemItemCf(orders: DataFrame, lineitem: DataFrame,
      custIds: Seq[Long], k: Int = 5, minSupport: Long = 2,
      maxBasket: Int = 64): DataFrame = {
    // The purchase matrix fans out to four consumers on DIFFERENT keys
    // (part counts, the cust self-join, the query side), so exchange
    // reuse cannot dedupe it — localCheckpoint materializes the
    // distinct'd matrix once (the ops/Graph pattern) instead of paying
    // the orders⋈lineitem+distinct chain per consumer.
    //
    // Storage cost of the eager materialization (stated per the ops/Graph
    // convention): both checkpoints hold the DISTINCT (cust, part) grain
    // — 2 longs per ownership edge, never raw lineitem rows — in
    // executor-local block storage (memory, spilling to local disk) for
    // the duration of the query; the capped copy is strictly smaller
    // (≤ maxBasket rows/customer). On a cluster this is bounded by the
    // ownership relation's size, not the fact table's, and is evicted
    // with the session — the trade is that executor loss forces a
    // recompute, acceptable for an intra-query reuse buffer.
    val cp0 = rawPurchaseMatrix(orders, lineitem).localCheckpoint()
    val cp = cappedPurchaseMatrix(cp0, maxBasket).localCheckpoint()
    val partCnt = cp.groupBy("part").agg(count(lit(1)).as("np"))
    // Round-18 restructure (guide §1.2 "don't compute things you throw
    // away"): the recommendation join only ever reads similarity rows
    // whose OWNED endpoint is one of the pinned customers' capped parts —
    // a set bounded by |custIds|·maxBasket BY CONSTRUCTION — yet the old
    // shape first counted co-occurrence for EVERY part pair in the corpus
    // (measured at sf0.1: 17M generated pairs hash-aggregated into 12.3M
    // groups, of which the query consumed the ~0.3% touching the 5 query
    // customers' parts; the two halves of that aggregate were the two
    // heaviest stages of the whole bench). Instead, count exactly the
    // DIRECTED pairs the recommender reads: one row per (customer, owned
    // s ∈ S, other part o in the same capped basket), counted by (s, o).
    // For a pair with both endpoints in S this yields both directions —
    // exactly what the old sims→undirected union emitted; n_ab, the
    // support filter, and sim_fp over partCnt are computed identically
    // (count over ALL customers, restricted to the pairs that can reach
    // the output), so results are bit-identical — the x205 oracle, which
    // still models the full pair matrix, keeps passing unchanged.
    //
    // Scale shape: S-side rows (cpS) are the corpus rows owning an
    // S-part; the cust-keyed join back to the capped matrix emits at most
    // |basket ∩ S| · maxBasket rows per customer — query-bounded, never
    // corpus². The S part-set itself broadcasts (≤ |custIds|·maxBasket
    // ids) onto the matrix as a semi-join, so the only shuffle left is
    // the cust-keyed join the matrix is already partitioned for.
    val sPartIds = broadcast(
      cp.filter(col("cust").isin(custIds: _*)).select("part").distinct())
    val cpS = cp.join(sPartIds, Seq("part"), "left_semi")
      .select(col("cust"), col("part").as("owned"))
    val directed = cpS
      .join(cp.select(col("cust"), col("part").as("cand")), Seq("cust"))
      .filter(col("owned") =!= col("cand"))
      .groupBy("owned", "cand").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    val undirected = directed
      .join(partCnt.select(col("part").as("owned"), col("np").as("na")),
        Seq("owned"))
      .join(partCnt.select(col("part").as("cand"), col("np").as("nb")),
        Seq("cand"))
      .select(col("owned"), col("cand"),
        floor(col("n_ab").cast("double")
          / sqrt(col("na").cast("double") * col("nb").cast("double"))
          * lit(1e9) + lit(0.5)).cast("long").as("sim_fp"))
    // Both query-side tables are bounded by the pinned custIds set
    // (≤ maxBasket parts per query customer on the capped side), so they
    // broadcast honestly at any corpus scale; without the hint the
    // checkpointed lineage hides their size and the planner SMJ'd the
    // similarity table against a handful of rows.
    val owned = broadcast(cp.filter(col("cust").isin(custIds: _*)))
    val ownedAll = broadcast(cp0.filter(col("cust").isin(custIds: _*)))
    val scored = owned.select(col("cust"), col("part").as("owned"))
      .join(undirected, Seq("owned"))
      .join(ownedAll.select(col("cust"), col("part").as("cand"),
        lit(1).as("has")), Seq("cust", "cand"), "left")
      .filter(col("has").isNull)
      .groupBy("cust", "cand")
      .agg(sum(col("sim_fp")).as("score_fp"), count(lit(1)).as("n_paths"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("cust")
          .orderBy(col("score_fp").desc, col("cand").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("cust").as("o_custkey"), col("rank"),
        col("cand").as("part"), col("n_paths"),
        round(col("score_fp").cast("double") / lit(1e9), 6).as("score"))
      .orderBy("o_custkey", "rank")
  }

  // ---------------------------------------------------------------------
  // Walk-forward forecast skill (MASE)
  // ---------------------------------------------------------------------

  /** Forecast-skill evaluation for the daily-volume trend model: freeze
    * the Theil–Sen line on all but the last `testDays` days, walk
    * forward over the held-out days, and report canonical MASE (Hyndman
    * & Koehler 2006): the model's test-window mean absolute error scaled
    * by the IN-SAMPLE one-step naive MAE — the naive forecaster's error
    * measured on the TRAINING days, as the definition prescribes, so the
    * number is comparable to published MASE values (MASE < 1 = the model
    * earns its keep). Model errors snap to the grid; naive errors are
    * exact integers.
    */
  def forecastSkill(events: DataFrame, testDays: Int = 10): DataFrame = {
    val daily = events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("i", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("y_prev", lag(col("y"), 1).over(Window.orderBy("day")))
    val bounds = daily.agg(count(lit(1)).as("d"))
    val withB = daily.crossJoin(broadcast(bounds))
      .withColumn("n_train", col("d") - testDays)
    val train = withB.filter(col("i") <= col("n_train"))
    val inter = theilSenFit(train)
    // In-sample scaling denominator: the one-step naive forecaster's MAE
    // over the TRAINING days (i in [2, n_train]) — exact integers.
    val naiveTrain = withB
      .filter(col("i") > 1 && col("i") <= col("n_train"))
      .agg(sum(abs(col("y") - col("y_prev"))).as("snt"),
        count(lit(1)).as("nnt"))
    withB.crossJoin(broadcast(inter))
      .filter(col("i") > col("n_train"))
      .select(col("y"), col("i"), col("a"), col("b"))
      .withColumn("e_model_fp", floor(abs(col("y").cast("double")
        - (col("a") + col("b") * col("i").cast("double"))) * lit(1e9) + lit(0.5))
        .cast("long"))
      .agg(count(lit(1)).as("n_test"), sum(col("e_model_fp")).as("sm_fp"))
      .crossJoin(broadcast(naiveTrain))
      .select(col("n_test"),
        round(col("sm_fp").cast("double") / lit(1e9) / col("n_test").cast("double"), 6)
          .as("mae_model"),
        round(col("snt").cast("double") / col("nnt").cast("double"), 6)
          .as("mae_naive_train"),
        when(col("snt") > 0,
          round((col("sm_fp").cast("double") / lit(1e9) / col("n_test").cast("double"))
            / (col("snt").cast("double") / col("nnt").cast("double")), 6)).as("mase"))
  }

  // ---------------------------------------------------------------------
  // A/B test harness
  // ---------------------------------------------------------------------

  /** End-to-end A/B readout in one query — the experimentation loop's
    * three non-negotiables: (1) deterministic hash arm assignment, (2)
    * the sample-ratio-mismatch guard (1-dof chi-square of the observed
    * split against 50/50 — a silently broken randomizer invalidates
    * everything downstream, so it rides with every readout), (3) the
    * treatment-control difference in per-user purchase value with a
    * Poisson-bootstrap CI (shared replicate weights per user, x188's
    * derandomized machinery — per-arm replicate means are integer
    * ratios, their differences live on the snapped grid, so the CI is
    * exact dyadic arithmetic).
    *
    * The synthetic assignment is an A/A test by construction (the hash
    * is independent of behavior), so the honest expectation — and the
    * spec's contract — is an interval that covers zero.
    */
  def abTestHarness(events: DataFrame, reps: Int = 20): DataFrame = {
    val perUser = events
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
        .otherwise(lit(0L))).as("y"))
      .withColumn("arm",
        (hash32(concat(col("user_id").cast("string"), lit("|ab"))) % 2).cast("int"))
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val srm = arms.agg(
      sum(when(col("arm") === 0, col("n")).otherwise(lit(0L))).as("n_a"),
      sum(when(col("arm") === 1, col("n")).otherwise(lit(0L))).as("n_b"),
      snap9(sum(when(col("arm") === 0, col("s")).otherwise(lit(0L))).cast("double")
        / sum(when(col("arm") === 0, col("n")).otherwise(lit(0L))).cast("double"))
        .as("mean_a_c"),
      snap9(sum(when(col("arm") === 1, col("s")).otherwise(lit(0L))).cast("double")
        / sum(when(col("arm") === 1, col("n")).otherwise(lit(0L))).cast("double"))
        .as("mean_b_c"))
    val exploded = perUser
      .select(col("user_id"), col("arm"), col("y"),
        explode(sequence(lit(0), lit(reps - 1))).as("r"))
      .withColumn("w", poissonWeight(
        ((hash32(concat(col("user_id").cast("string"), lit("|boot|"),
          col("r").cast("string"))) % lit(1000000L)).cast("double") + lit(0.5))
          / lit(1000000.0)))
    val perRep = exploded.groupBy("r").agg(
        sum(when(col("arm") === 0, col("w") * col("y")).otherwise(lit(0L))).as("wya"),
        sum(when(col("arm") === 0, col("w")).otherwise(lit(0L))).as("wa"),
        sum(when(col("arm") === 1, col("w") * col("y")).otherwise(lit(0L))).as("wyb"),
        sum(when(col("arm") === 1, col("w")).otherwise(lit(0L))).as("wb"))
      // A replicate whose Poisson draws zero out an entire (small) arm
      // carries no between-arm information — drop it rather than divide
      // by a zero weight sum (deterministically mirrored in the oracle).
      .filter(col("wa") > 0 && col("wb") > 0)
      .select(snap9(col("wya").cast("double") / col("wa").cast("double"))
        .minus(snap9(col("wyb").cast("double") / col("wb").cast("double")))
        .as("d"))
      // 1e6 grid for the same saturation envelope as poissonBootstrap's
      // est2_fp: d is a cents-scale mean difference, and FLOOR(double)
      // saturates silently past Long.MaxValue.
      .withColumn("d2_fp", floor(col("d") * col("d") * lit(1e6) + lit(0.5))
        .cast("long"))
    val boot = perRep.agg(count(lit(1)).as("nr"), sum(col("d")).as("s1"),
      sum(col("d2_fp")).as("s2fp"))
    srm.crossJoin(broadcast(boot))
      .withColumn("diff_c", col("mean_a_c") - col("mean_b_c"))
      .withColumn("sd_c", sqrt(greatest(lit(0.0),
        (col("s2fp").cast("double") / lit(1e6)
          - col("s1") * col("s1") / col("nr").cast("double"))
          / (col("nr") - 1).cast("double"))))
      .withColumn("srm_chi2", round(
        ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))).cast("double")
          / (col("n_a") + col("n_b")).cast("double"), 6))
      .select(col("n_a"), col("n_b"),
        round(col("mean_a_c") / lit(100.0), 6).as("mean_a"),
        round(col("mean_b_c") / lit(100.0), 6).as("mean_b"),
        round(col("diff_c") / lit(100.0), 6).as("diff"),
        round(col("sd_c") / lit(100.0), 6).as("boot_sd"),
        round((col("diff_c") - lit(1.96) * col("sd_c")) / lit(100.0), 6).as("ci_lo"),
        round((col("diff_c") + lit(1.96) * col("sd_c")) / lit(100.0), 6).as("ci_hi"),
        col("srm_chi2"),
        (col("srm_chi2") > lit(3.841)).as("srm_flag"))
  }

  /** Poisson(1) inverse-CDF weight from a uniform draw — the x188
    * bootstrap's derandomized sampler, shared with the A/B harness.
    */
  private def poissonWeight(u: Column): Column = {
    val e1 = exp(lit(-1.0))
    val cums = Seq(
      e1, e1 * lit(2.0), e1 * lit(2.5),
      e1 * (lit(2.5) + lit(1.0) / lit(6.0)),
      e1 * (lit(2.5) + lit(1.0) / lit(6.0) + lit(1.0) / lit(24.0)),
      e1 * (lit(2.5) + lit(1.0) / lit(6.0) + lit(1.0) / lit(24.0)
        + lit(1.0) / lit(120.0)))
    cums.zipWithIndex.foldRight(lit(6L): Column) { case ((c, k), acc) =>
      when(u < c, lit(k.toLong)).otherwise(acc)
    }
  }

  // ---------------------------------------------------------------------
  // James–Stein shrinkage
  // ---------------------------------------------------------------------

  /** James–Stein-style empirical-Bayes shrinkage of per-group means
    * toward the grand mean: shrunk_g = w_g·raw_g + (1-w_g)·grand with
    * w_g = n_g/(n_g + λ), λ = s²_within/s²_between (the standard
    * variance-components plug-in). Small noisy groups move most; big
    * groups barely — the partial-pooling estimate a per-nation /
    * per-source dashboard should show instead of raw small-sample means.
    *
    * All sufficient statistics are exact integer cents; the handful of
    * final ratios are snapped/rounded. Groups = event users' id modulo
    * is NOT used — grouping is the purchase user's nation-sized bucket
    * (user_id % 10), giving stable group sizes at every sf.
    */
  def jamesSteinShrinkage(events: DataFrame): DataFrame = {
    val purch = events.filter(col("event_type") === "purchase")
      .select((col("user_id") % 10).as("grp"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
    val g = purch.groupBy("grp").agg(
      count(lit(1)).as("n"), sum(col("cents")).as("s"),
      sum(col("cents") * col("cents")).as("ss"))
    val tot = g.agg(sum(col("n")).as("nt"), sum(col("s")).as("st"),
      count(lit(1)).as("k"))
    val withG = g.crossJoin(broadcast(tot))
      .withColumn("raw_mean", snap9(col("s").cast("double") / col("n").cast("double")))
      .withColumn("grand_mean", snap9(col("st").cast("double") / col("nt").cast("double")))
    // Within variance: pooled Σ_g (n·ss - s²)/n / (nt - k); between:
    // n-weighted variance of group means around the grand mean. Each
    // group's term lands on a 1e-3 fixed-point grid BEFORE the
    // cross-group sum (the integer products n·ss and s² are exact in
    // int64 at these magnitudes), so the k-term sums are order-free.
    val terms = withG
      .withColumn("w_fp", floor(
        (col("n") * col("ss") - col("s") * col("s")).cast("double")
          / col("n").cast("double") * lit(1e3) + lit(0.5)).cast("long"))
      .withColumn("b_fp", floor(col("n").cast("double")
        * (col("raw_mean") - col("grand_mean"))
        * (col("raw_mean") - col("grand_mean")) * lit(1e3) + lit(0.5))
        .cast("long"))
    val vw = terms.agg(
      snap9(sum(col("w_fp")).cast("double") / lit(1e3)
        / (first(col("nt")) - first(col("k"))).cast("double")).as("s2w"),
      snap9(sum(col("b_fp")).cast("double") / lit(1e3)
        / (first(col("k")) - 1).cast("double")).as("s2b"))
    withG.crossJoin(broadcast(vw))
      .withColumn("lambda", snap9(col("s2w") / greatest(col("s2b"), lit(1e-9))))
      .withColumn("w", snap9(col("n").cast("double")
        / (col("n").cast("double") + col("lambda"))))
      .select(col("grp"), col("n").as("n_purchases"),
        round(col("raw_mean") / lit(100.0), 6).as("raw_mean"),
        round(col("grand_mean") / lit(100.0), 6).as("grand_mean"),
        round(col("w"), 6).as("weight"),
        round((col("w") * col("raw_mean")
          + (lit(1.0) - col("w")) * col("grand_mean")) / lit(100.0), 6)
          .as("shrunk_mean"))
      .orderBy("grp")
  }

  // ---------------------------------------------------------------------
  // Trimmed mean
  // ---------------------------------------------------------------------

  /** Per-type 10%-trimmed mean of event values — the robust location
    * estimate that survives the fat tails a raw mean drowns in. The trim
    * boundaries are exact integer ranks (drop rank ≤ ⌈0.1n⌉ and
    * > n-⌈0.1n⌉ per group, ties broken by event_id), the kept sum is
    * integer cents, and the comparison column carries the untrimmed
    * mean.
    *
    * Scale: one per-group rank window + one aggregate — same
    * low-cardinality-partition caveat as [[weightedPercentiles]]: with
    * ~5 event types each partition sorts ~1/5 of the event table in one
    * task; at 100 TB use the [[exactAscRank]] bucket-offset
    * construction for the ranks instead.
    */
  def trimmedMean(events: DataFrame): DataFrame = {
    val base = events.select(col("event_type"),
      floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"),
      col("event_id"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents").asc, col("event_id").asc)
    base
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("cut", ceil(col("n").cast("double") * lit(0.1)))
      .groupBy("event_type")
      .agg(first(col("n")).as("n"),
        sum(col("cents")).as("s_all"),
        sum(when(col("rk") > col("cut") && col("rk") <= col("n") - col("cut"),
          col("cents"))).as("s_kept"),
        sum(when(col("rk") > col("cut") && col("rk") <= col("n") - col("cut"),
          lit(1L)).otherwise(lit(0L))).as("n_kept"))
      .select(col("event_type"), col("n"), col("n_kept"),
        round(col("s_all").cast("double") / lit(100.0) / col("n").cast("double"), 6)
          .as("raw_mean"),
        round(col("s_kept").cast("double") / lit(100.0)
          / col("n_kept").cast("double"), 6).as("trimmed_mean"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------------
  // CUPED variance reduction
  // ---------------------------------------------------------------------

  /** CUPED (Deng et al. 2013) — the experimentation-platform workhorse:
    * adjust each user's experiment-period metric by their PRE-period
    * covariate, Y' = Y - θ(X - X̄) with θ = cov(X,Y)/var(X), and report
    * the variance reduction 1 - var(Y')/var(Y) = ρ². Pre-period = first
    * 15 calendar days (activity count), experiment period = the rest
    * (purchase cents). Sufficient statistics are exact integers; θ, the
    * variances, and ρ² are a few final IEEE ops rounded to 6. The
    * combination products (n·syy, sy²) stay inside int64 through sf≈1;
    * a larger deployment swaps ONLY the final combination to
    * DECIMAL(38,0) — the distributed per-partition sums remain long.
    */
  def cuped(events: DataFrame, preDays: Int = 15): DataFrame = {
    val withDay = events
      .select(col("user_id"), col("event_type"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"),
        date_trunc("day", col("ts")).as("day"))
    val dayIdx = withDay.select("day").distinct()
      .withColumn("day_idx", row_number().over(Window.orderBy("day")).cast("long"))
    val ev = withDay.join(broadcast(dayIdx), Seq("day"))
    val per = ev.groupBy("user_id").agg(
      sum(when(col("day_idx") <= preDays, lit(1L)).otherwise(lit(0L))).as("x"),
      sum(when(col("day_idx") > preDays && col("event_type") === "purchase",
        col("cents")).otherwise(lit(0L))).as("y"))
    per.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_users"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("theta"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
          / ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
            * (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("variance_reduction"))
  }

  // ---------------------------------------------------------------------
  // Data scaling-law probe
  // ---------------------------------------------------------------------

  /** Scaling-law measurement: how fast does the eval-set OOV rate fall as
    * training data grows? Nested subsets (20/40/60/80/100% of the train
    * pool by doc hash) each get a BIGRAM vocabulary (unigrams saturate on
    * a small-vocabulary corpus — bigram space is where coverage still
    * grows); the held-out eval set's out-of-vocabulary bigram rate per
    * subset is fit with a log-log OLS → the power-law exponent α in
    * oov ∝ tokens^α (expected negative — the "is more data still buying
    * vocabulary" curve, the cheap cousin of a loss scaling law).
    *
    * The nested subsets cost ONE pass, not five: a token belongs to
    * subset s iff the MINIMUM doc-hash over its occurrences is below s
    * (min-threshold trick — the same observation that makes KMV/bottom-k
    * sketches work), so per-subset vocabularies and token totals reduce
    * to a 100-row histogram + one per-token min. The OLS runs on 1e-6
    * fixed-point logs with integer sufficient statistics — exact.
    */
  def scalingLawProbe(docs: DataFrame,
      pcts: Seq[Int] = Seq(20, 40, 60, 80, 100)): DataFrame = {
    val evalHash = hash32(concat(col("doc_id").cast("string"), lit("|eval"))) % 100
    val subHash = hash32(concat(col("doc_id").cast("string"), lit("|sub"))) % 100
    val marked = docs.select(col("doc_id"), col("text"),
      (evalHash < 10).as("is_eval"), subHash.as("h"))
    val tok = marked
      .select(col("is_eval"), col("h"), TextAnalysis.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("is_eval"), col("h"), col("ts"),
        explode(sequence(lit(1), size(col("ts")) - 1)).as("i"))
      .select(col("is_eval"), col("h"),
        array_join(slice(col("ts"), col("i"), lit(2)), " ").as("w"))
    val trainTok = tok.filter(!col("is_eval"))
    val tokH = trainTok.groupBy("w").agg(min(col("h")).as("min_h"))
    val occByH = trainTok.groupBy("h").agg(count(lit(1)).as("cnt"))
    val evalTok = tok.filter(col("is_eval"))
      .groupBy("w").agg(count(lit(1)).as("ce"))
      .join(tokH, Seq("w"), "left")
    val pctDf = docs.sparkSession.range(1)
      .select(explode(array(pcts.map(p => lit(p)): _*)).as("pct"))
    val perSubset = pctDf
      .join(occByH, col("h") < col("pct"))
      .groupBy("pct").agg(sum(col("cnt")).as("n_tokens"))
      .join(pctDf
        .crossJoin(evalTok)
        .groupBy("pct").agg(
          sum(col("ce")).as("n_eval"),
          sum(when(col("min_h").isNull || col("min_h") >= col("pct"), col("ce"))
            .otherwise(lit(0L))).as("n_oov")), Seq("pct"))
    // 1e-6 fixed-point logs -> exact integer OLS over the |pcts| points.
    def lnFp6(x: Column): Column =
      floor(log(x) * lit(1e6) + lit(0.5)).cast("long")
    val pts = perSubset
      .withColumn("x_fp", lnFp6(col("n_tokens").cast("double")))
      .withColumn("y_fp", lnFp6((col("n_oov").cast("double") + lit(1.0))
        / (col("n_eval").cast("double") + lit(1.0))))
    val fit = pts.agg(count(lit(1)).as("np"),
        sum(col("x_fp")).as("sx"), sum(col("y_fp")).as("sy"),
        sum(col("x_fp") * col("x_fp")).as("sxx"),
        sum(col("x_fp") * col("y_fp")).as("sxy"))
      .select(round((col("np") * col("sxy") - col("sx") * col("sy")).cast("double")
        / (col("np") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
        .as("alpha"))
    pts.crossJoin(broadcast(fit))
      .select(col("pct").as("subset_pct"), col("n_tokens"), col("n_eval"),
        col("n_oov"),
        round(col("n_oov").cast("double") / col("n_eval").cast("double"), 6)
          .as("oov_rate"),
        col("alpha"))
      .orderBy("subset_pct")
  }

  // ---------------------------------------------------------------------
  // Market-basket affinity
  // ---------------------------------------------------------------------

  /** Market-basket association mining over order baskets: support,
    * confidence and lift for co-purchased part pairs, top-`top` by lift.
    * Lift compares integer cross-products ((n_ab·N) vs (n_a·n_b)) so the
    * ranking never touches a float until the final rounded report.
    *
    * Scale: the pair explode is per-ORDER (quadratic only in basket
    * size, which is bounded ~7 in this schema — the standard market-
    * basket shape), then pure keyed aggregates.
    */
  def marketBasket(lineitem: DataFrame, minSupport: Long = 3,
      top: Int = 10): DataFrame = {
    // The distinct'd basket matrix feeds FOUR consumers (order count,
    // part counts, both self-join sides) on different keys — checkpoint
    // it once (round-18, the itemItemCf cp0 discipline) instead of
    // re-running the fact-table distinct per consumer.
    val basket = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint()
    val nOrders = basket.agg(count_distinct(col("l_orderkey")).as("n_orders"))
    val partCnt = basket.groupBy("l_partkey").agg(count(lit(1)).as("np"))
    // Round-19: a keyed repartition of this self-join spine at
    // configured parallelism was tried (the checkpoint's byte-coalesced
    // layout runs the pair stage on 5 tasks) and measured a wash
    // (5-rep medians 2.02 s without vs 2.22 s with, mins equal) — the
    // per-order fan-out is bounded by basket size (~7), exactly the
    // bounded-fan-out case the round-18 candidatePairs note excludes
    // from the spread treatment. Left unpinned.
    val pairs = basket.as("a")
      .join(basket.as("b"), Seq("l_orderkey"))
      .filter(col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(partCnt.select(col("l_partkey").as("part_a"), col("np").as("n_a")),
        Seq("part_a"))
      .join(partCnt.select(col("l_partkey").as("part_b"), col("np").as("n_b")),
        Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .withColumn("lift_num", col("n_ab") * col("n_orders"))
      .withColumn("lift_den", col("n_a") * col("n_b"))
      // Top-N via orderBy+limit (TakeOrderedAndProject) instead of a
      // global rank window over the full support-pruned pair table; the
      // rank label is re-derived over the bounded `top` rows.
      .orderBy((col("lift_num").cast("double") / col("lift_den").cast("double")).desc,
        col("part_a").asc, col("part_b").asc)
      .limit(top)
      .withColumn("rank", row_number().over(Window.orderBy(
        (col("lift_num").cast("double") / col("lift_den").cast("double")).desc,
        col("part_a").asc, col("part_b").asc)).cast("long"))
      .select(col("rank"), col("part_a"), col("part_b"), col("n_ab"),
        col("n_a"), col("n_b"),
        round(col("lift_num").cast("double") / col("lift_den").cast("double"), 6)
          .as("lift"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
          .as("confidence"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------------
  // Next-event prediction evaluation
  // ---------------------------------------------------------------------

  /** Temporal train/test evaluation of the event-transition model: learn
    * per-type argmax successors (the x109/x166 bigram chain) on the
    * first `trainDays` calendar days, measure top-1 accuracy on
    * within-test transitions of the remaining days, against the
    * majority-class baseline. Everything is exact counts; argmax ties
    * break (count desc, type asc).
    *
    * This is the eval harness shape every sequence model needs before a
    * pipeline trusts it: temporal split (never random — events leak
    * across a random split), frozen model, one accuracy number with its
    * baseline.
    */
  def nextEventEval(events: DataFrame, trainDays: Int = 20): DataFrame = {
    val withDay = events
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("event_id"),
        date_trunc("day", col("ts")).as("day"))
    val dayIdx = withDay.select(col("day")).distinct()
      .withColumn("day_idx", row_number().over(Window.orderBy("day")).cast("long"))
    val ev = withDay.join(broadcast(dayIdx), Seq("day"))
      .withColumn("split", when(col("day_idx") <= trainDays, lit("train"))
        .otherwise(lit("test")))
    val w = Window.partitionBy(col("user_id"), col("split"))
      .orderBy(col("us"), col("event_id"))
    val trans = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("split"), col("event_type").as("prev"), col("next_type"))
    val model = trans.filter(col("split") === "train")
      .groupBy("prev", "next_type").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("prev").orderBy(col("c").desc, col("next_type").asc)))
      .filter(col("rn") === 1)
      .select(col("prev"), col("next_type").as("predicted"))
    val majority = trans.filter(col("split") === "train")
      .groupBy("next_type").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("next_type").asc).limit(1)
      .select(col("next_type").as("majority_type"))
    val test = trans.filter(col("split") === "test")
    test.join(broadcast(model), Seq("prev"), "left")
      .crossJoin(broadcast(majority))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("predicted") === col("next_type"), lit(1L)).otherwise(lit(0L)))
          .as("n_hits"),
        sum(when(col("majority_type") === col("next_type"), lit(1L))
          .otherwise(lit(0L))).as("n_majority_hits"))
      .select(col("n_test"), col("n_hits"), col("n_majority_hits"),
        round(col("n_hits").cast("double") / col("n_test").cast("double"), 6)
          .as("accuracy"),
        round(col("n_majority_hits").cast("double") / col("n_test").cast("double"), 6)
          .as("baseline_accuracy"))
  }

  // ---------------------------------------------------------------------
  // Label-noise screening via kNN disagreement
  // ---------------------------------------------------------------------

  /** Confident-learning-lite mislabel screen: a vector whose nearest
    * neighbors (sparse banded candidates, exact-cosine top-`k`)
    * overwhelmingly carry a different label is a labeling suspect. The
    * neighbor machinery is the registered ANN path (never all-pairs);
    * labels ride the existing joins. Suspects = disagreement ≥
    * `numNum/denNum` with at least `minNeighbors` neighbors (integer
    * cross-multiplied test — no float threshold).
    */
  def labelNoiseScreen(embeddings: DataFrame, k: Int = 5,
      numNum: Int = 4, denNum: Int = 5, minNeighbors: Int = 3): DataFrame = {
    val top = Similarity.annTopK(embeddings, k, Similarity.SparseBands,
      Similarity.SparseBandBits, Similarity.SparseBucketCap)
    val labels = embeddings.select(col("vec_id"), col("label"))
    top
      .join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .groupBy("vec_id", "label")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("n_label") =!= col("label"), lit(1L)).otherwise(lit(0L)))
          .as("n_disagree"))
      .filter(col("n_neighbors") >= minNeighbors &&
        col("n_disagree") * denNum >= col("n_neighbors") * numNum)
      .select(col("vec_id"), col("label"), col("n_neighbors"), col("n_disagree"),
        round(col("n_disagree").cast("double") / col("n_neighbors").cast("double"), 6)
          .as("disagreement"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------------
  // Log-odds characteristic keywords (Monroe et al. 2008)
  // ---------------------------------------------------------------------

  /** "Fightin' Words" (Monroe, Colaresi & Quinn 2008) with a uniform
    * +1 prior: per source, the top-`top` tokens by the z-score of the
    * smoothed log-odds ratio vs the rest of the corpus — the
    * what-makes-this-source-different keyword extractor whose variance
    * normalization fixes raw log-odds' low-frequency pathology.
    * δ and its variance come from exact integer counts; each ln snaps
    * to the 1e-9 grid, so δ is exact grid arithmetic and z is one
    * shared expression tree.
    */
  def logOddsKeywords(docs: DataFrame, top: Int = 3): DataFrame = {
    def snapLn(x: Column): Column = snapFp(log(x)) // 1e-9 fixed-point BIGINT
    val sw = docs
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("ysw"))
    val wTot = sw.groupBy("w").agg(sum(col("ysw")).as("yw"))
    val sTot = sw.groupBy("source").agg(sum(col("ysw")).as("ns"))
    val vocab = wTot.agg(count(lit(1)).as("v"), sum(col("yw")).as("n"))
    val scored = sw
      .join(wTot, Seq("w"))
      .join(broadcast(sTot), Seq("source"))
      .crossJoin(broadcast(vocab))
      .withColumn("a", col("ysw") + 1)
      .withColumn("b", col("ns") + col("v") - col("ysw") - 1)
      .withColumn("c2", col("yw") - col("ysw") + 1)
      .withColumn("d2", col("n") - col("ns") + col("v") - (col("yw") - col("ysw")) - 1)
      .withColumn("delta_fp",
        snapLn(col("a").cast("double")) - snapLn(col("b").cast("double"))
          - snapLn(col("c2").cast("double")) + snapLn(col("d2").cast("double")))
      .withColumn("z", round((col("delta_fp").cast("double") / lit(1e9))
        / sqrt(lit(1.0) / col("a").cast("double")
          + lit(1.0) / col("c2").cast("double")), 6))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("z").desc, col("w").asc))
        .cast("long"))
      .filter(col("rank") <= top)
      .select(col("source"), col("rank"), col("w").as("word"), col("ysw"), col("z"))
      .orderBy("source", "rank")
  }

  // ---------------------------------------------------------------------
  // Chi-square independence (hour × event type)
  // ---------------------------------------------------------------------

  /** Pearson chi-square independence test between hour-of-day and event
    * type — "does traffic MIX change over the day, or only volume".
    * Each cell term (o−e)²/e is computed as (N·o − r·c)²/(N·r·c) from
    * exact integers (the numerator in DOUBLE — identical operands on
    * both engines — since N·o can square past int64), snapped to a 1e-6
    * grid, and the chi-square total is the exact integer sum of those
    * snapped terms. Zero cells of the full hour×type grid are included,
    * as the test requires. Output: one row — the statistic, its degrees
    * of freedom, and the single heaviest-contributing cell.
    */
  def hourTypeChiSquare(events: DataFrame): DataFrame = {
    val obs = events
      .select(hour(col("ts")).as("h"), col("event_type").as("t"))
      .groupBy("h", "t").agg(count(lit(1)).as("o"))
    val hours = obs.select("h").distinct()
    val types = obs.select("t").distinct()
    val rowTot = obs.groupBy("h").agg(sum(col("o")).as("r"))
    val colTot = obs.groupBy("t").agg(sum(col("o")).as("c"))
    val n = obs.agg(sum(col("o")).as("n"),
      count_distinct(col("h")).as("nh"), count_distinct(col("t")).as("nt"))
    val grid = hours.crossJoin(types)
      .join(obs, Seq("h", "t"), "left")
      .join(rowTot, Seq("h")).join(colTot, Seq("t"))
      .crossJoin(broadcast(n))
      .withColumn("o0", coalesce(col("o"), lit(0L)))
      .withColumn("term_fp", floor(
        (col("n").cast("double") * col("o0").cast("double")
          - col("r").cast("double") * col("c").cast("double"))
          * (col("n").cast("double") * col("o0").cast("double")
            - col("r").cast("double") * col("c").cast("double"))
          / (col("n").cast("double") * col("r").cast("double")
            * col("c").cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
    val chi = grid.groupBy("nh", "nt")
      .agg(sum(col("term_fp")).as("chi_fp"))
      .select(round(col("chi_fp").cast("double") / lit(1e6), 6).as("chi2"),
        ((col("nh") - 1) * (col("nt") - 1)).as("dof"))
    val top1 = grid
      .withColumn("rank", row_number().over(
        Window.orderBy(col("term_fp").desc, col("h").asc, col("t").asc)))
      .filter(col("rank") === 1)
      .select(concat(col("h").cast("string"), lit(":"), col("t")).as("top_cell"),
        round(col("term_fp").cast("double") / lit(1e6), 6).as("top_cell_term"))
    chi.crossJoin(broadcast(top1))
  }

  // ---------------------------------------------------------------------
  // Neyman stratified-sampling allocation
  // ---------------------------------------------------------------------

  /** Variance-optimal stratified sampling design (Neyman 1934): allocate
    * a fixed sample budget across sources proportionally to N_h·S_h
    * (stratum size × stratum standard deviation of document length),
    * side by side with the naive proportional allocation. The variances
    * come from exact integer sufficient statistics (Σy, Σy² per
    * stratum); each stratum weight snaps to the 1e-9 grid so the
    * allocation denominator is an exact sum. A singleton stratum
    * (n_h = 1) has no sample variance — its 0/0 would be NaN, and one
    * NaN weight would poison the shared denominator and null EVERY
    * source's allocation — so it contributes S_h = 0 (no variance
    * evidence, Neyman weight zero) by explicit guard.
    *
    * Scale: one aggregate per stratum; the allocation arithmetic runs
    * over #sources rows.
    */
  def neymanAllocation(docs: DataFrame, budget: Int = 100): DataFrame = {
    val strata = docs.groupBy("source").agg(
      count(lit(1)).as("nh"),
      sum(col("n_chars")).as("sy"),
      sum(col("n_chars") * col("n_chars")).as("syy"))
    val tot = strata.agg(sum(col("nh")).as("n"))
    val withS = strata
      .withColumn("variance",
        when(col("nh") > 1,
          (col("nh").cast("double") * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double"))
            / (col("nh").cast("double") * (col("nh") - 1).cast("double")))
          .otherwise(lit(0.0)))
      .withColumn("sh", snap9(sqrt(greatest(lit(0.0), col("variance")))))
      .withColumn("wh", snap9(col("nh").cast("double") * col("sh")))
    val wTot = withS.agg(sum(col("wh")).as("wsum"))
    withS.crossJoin(broadcast(tot)).crossJoin(broadcast(wTot))
      .select(col("source"), col("nh").as("n_stratum"),
        round(col("sh"), 6).as("stddev"),
        floor(lit(budget.toDouble) * col("nh").cast("double")
          / col("n").cast("double") + lit(0.5)).cast("long").as("alloc_prop"),
        floor(lit(budget.toDouble) * col("wh") / col("wsum") + lit(0.5))
          .cast("long").as("alloc_neyman"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // Capture–recapture distinct-count estimate
  // ---------------------------------------------------------------------

  /** Lincoln–Petersen / Chapman capture–recapture estimate of the
    * DISTINCT document count from two independent content-hash samples —
    * the ecology estimator repurposed for "how big is this corpus after
    * dedup, without running dedup": two ~30% captures keyed on the md5
    * of the TEXT (so all copies of a document are captured together),
    * overlap → N̂ = n_A·n_B/n_AB, with Chapman's +1 bias correction. The
    * exact distinct count rides along as the audit.
    *
    * Scale: two hash predicates + three distinct aggregates; no joins of
    * corpus against corpus.
    */
  def captureRecapture(docs: DataFrame, pct: Int = 30): DataFrame = {
    val hA = hash32(concat(col("text"), lit("|capA"))) % 100
    val hB = hash32(concat(col("text"), lit("|capB"))) % 100
    // Distinct-count the 32-byte content hash, not the document body:
    // the four distinct sets otherwise shuffle every full text (the
    // dupRateWilson convention; identity semantics are already
    // content-hash anyway).
    val marked = docs.select(md5(col("text").cast("binary")).as("th"),
      (hA < pct).as("in_a"), (hB < pct).as("in_b"))
    marked.agg(
        count_distinct(when(col("in_a"), col("th"))).as("n_a"),
        count_distinct(when(col("in_b"), col("th"))).as("n_b"),
        count_distinct(when(col("in_a") && col("in_b"), col("th"))).as("n_both"),
        count_distinct(col("th")).as("n_exact"))
      .select(col("n_a"), col("n_b"), col("n_both"), col("n_exact"),
        when(col("n_both") > 0,
          round(col("n_a").cast("double") * col("n_b").cast("double")
            / col("n_both").cast("double"), 6)).as("lp_estimate"),
        round((col("n_a") + 1).cast("double") * (col("n_b") + 1).cast("double")
          / (col("n_both") + 1).cast("double") - lit(1.0), 6).as("chapman_estimate"))
      .withColumn("rel_error",
        round(abs(col("chapman_estimate") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"), 6))
  }

  // ---------------------------------------------------------------------
  // Good–Turing missing mass
  // ---------------------------------------------------------------------

  /** Good–Turing missing-mass estimate per source: P₀ = N₁/N (the
    * probability the NEXT token drawn is an unseen type — the
    * frequency-of-frequencies argument), plus the adjusted singleton
    * count r* = 2·N₂/N₁. The vocabulary-saturation signal a corpus
    * curator reads next to the Heaps curve (x121): high missing mass =
    * the source still has unseen vocabulary worth collecting.
    *
    * Exact integers end to end (token counts → frequency-of-frequency
    * counts); two final divisions.
    */
  def goodTuring(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    tc.groupBy("source").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(col("c") === 2, lit(1L)).otherwise(lit(0L))).as("n2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n1"), col("n2"),
        round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("p_unseen"),
        when(col("n1") > 0,
          round(lit(2.0) * col("n2").cast("double") / col("n1").cast("double"), 6))
          .as("r_star"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // Scalable exact global rank
  // ---------------------------------------------------------------------

  /** Exact 1-based ascending rank of the composite (`valueCol` asc,
    * `tieCol` asc) order — bit-identical to
    * `row_number() OVER (ORDER BY value, tie)` — computed WITHOUT a
    * global single-partition window. This is the scale-safe replacement
    * for the `Window.orderBy(...)` user-grain ranking that funnels every
    * row through one task (the x21 boundary-broadcast idea, extended to
    * exact ranks): rank = rows in strictly-smaller value BUCKETS
    * (cumulative over a bounded bucket histogram, broadcast back)
    *       + rows with strictly-smaller VALUES inside my bucket
    *         (cumulative over the per-bucket value histogram — a
    *         partitioned window)
    *       + rows with my exact value in strictly-smaller TIE BUCKETS
    *         (cumulative over the per-value tie-bucket histogram — a
    *         partitioned window; see below)
    *       + my tie rank within my exact (value, tie-bucket) pair
    *         (partitioned window).
    * The only un-partitioned window runs over the bucket histogram —
    * `range/bucketWidth` rows, bounded by the VALUE DOMAIN, not the row
    * count — so no user-grain data ever crosses a single-task boundary.
    *
    * The tie dimension gets the SAME cumulative-offset treatment as the
    * value dimension (round-10 advice): without it, one heavily-tied
    * value — monetary = 0 for view-only users is a realistic MAJORITY —
    * funnels all its rows through the single task that owns that value's
    * window partition, quietly re-creating the skew this construction
    * exists to remove. Sub-splitting by ⌊tie/tieBucketWidth⌋ bounds the
    * row_number task at `tieBucketWidth` rows (ties are unique per row),
    * at the cost of one extra keyed histogram + partitioned cumulative.
    *
    * Boundedness caveat (round-12, on advice): the tieOff cumulative
    * still partitions by VALUE over the (value, tie-bucket) histogram,
    * so its per-task row count is the number of DISTINCT tie buckets
    * under one hot value — bounded at tieRange/tieBucketWidth only when
    * the tie domain is DENSE relative to the width (row numbers,
    * monotonic ids: the callers here rank (metric, custkey/doc_id) with
    * dense generator ids). Under a SPARSE 64-bit tie domain (hashed or
    * 2⁴⁰-strided ids) each tie lands in its own bucket and a hot value
    * funnels up to its tie-cardinality histogram rows through one task
    * — mitigate by scaling `tieBucketWidth` to ~tieRange/2¹⁶ (it is a
    * parameter for exactly this), since histogram ROWS (not data rows)
    * at 8 bytes a key still tolerate millions per task before this
    * matters.
    *
    * `valueCol` and `tieCol` must be integral; `tieCol` must be unique
    * per row so the composite order (and therefore the rank) is total
    * and deterministic. Descending ranks: negate the value column first.
    */
  private[graft] def exactAscRank(df: DataFrame, valueCol: String,
      tieCol: String, bucketWidth: Long, rankName: String,
      tieBucketWidth: Long = 1L << 16): DataFrame = {
    val v = col(valueCol).cast("long")
    // Floor division via pmod so negative values bucket correctly; the
    // double division is exact (numerator is a multiple of the width,
    // well under 2^53).
    val bucket = ((v - pmod(v, lit(bucketWidth))) / lit(bucketWidth))
      .cast("long")
    val t = col(tieCol).cast("long")
    val tieBucket = ((t - pmod(t, lit(tieBucketWidth))) / lit(tieBucketWidth))
      .cast("long")
    // The bucketed frame feeds FOUR consumers (three histograms + the
    // final join spine), and every caller hands this operator an
    // already-aggregated metadata-grain table (per-doc weights, per-user
    // RFM rows) sitting on an arbitrarily expensive lineage — uncached,
    // each consumer re-evaluated that lineage end to end (measured on
    // x172: the upstream tokenize+hash pass ran once per consumer).
    // localCheckpoint materializes the ranked rows once; the blocks are
    // the operator's own input grain, never raw-corpus-sized.
    val withB = df.withColumn("_b", bucket).withColumn("_tb", tieBucket)
      .localCheckpoint()
    val bucketHist = withB.groupBy("_b").agg(count(lit(1)).as("_bn"))
    val bucketOff = bucketHist
      .withColumn("_boff", coalesce(
        sum(col("_bn")).over(Window.orderBy(col("_b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_b", "_boff")
    val valueHist = withB.groupBy("_b", valueCol).agg(count(lit(1)).as("_vn"))
    val valueOff = valueHist
      .withColumn("_voff", coalesce(
        sum(col("_vn")).over(Window.partitionBy("_b").orderBy(col(valueCol))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_b", valueCol, "_voff")
    val tieHist = withB.groupBy(valueCol, "_tb").agg(count(lit(1)).as("_tn"))
    val tieOff = tieHist
      .withColumn("_toff", coalesce(
        sum(col("_tn")).over(Window.partitionBy(valueCol).orderBy(col("_tb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(valueCol), col("_tb"), col("_toff"))
    withB
      .join(broadcast(bucketOff), Seq("_b"))
      .join(valueOff, Seq("_b", valueCol))
      .join(tieOff, Seq(valueCol, "_tb"))
      .withColumn(rankName,
        col("_boff") + col("_voff") + col("_toff") + row_number().over(
          Window.partitionBy(col(valueCol), col("_tb")).orderBy(col(tieCol)))
          .cast("long"))
      .drop("_b", "_tb", "_boff", "_voff", "_toff")
  }

  /** [[exactAscRank]] with an optional descending value order (tie stays
    * ascending): rank over (value DESC, tie ASC) = ascending rank of the
    * negated value. */
  private def withExactRank(df: DataFrame, valueCol: String, desc: Boolean,
      tieCol: String, bucketWidth: Long, rankName: String): DataFrame =
    if (!desc) exactAscRank(df, valueCol, tieCol, bucketWidth, rankName)
    else exactAscRank(df.withColumn("_negv", -col(valueCol)), "_negv",
      tieCol, bucketWidth, rankName).drop("_negv")

  // ---------------------------------------------------------------------
  // RFM segmentation
  // ---------------------------------------------------------------------

  /** Classic RFM segmentation: per-user recency (days since last event,
    * integer micros division), frequency (purchase count) and monetary
    * (exact integer cents), each scored into quintiles (5 = best) over a
    * deterministic (metric, user_id) order, plus the monetary cume_dist
    * percentile.
    *
    * Scale shape: no user-grain row ever crosses a global window. Each
    * score is derived from the EXACT global rank computed by
    * [[exactAscRank]] (bucket-histogram offsets + partitioned windows),
    * then mapped through NTILE's closed-form bucket arithmetic (first
    * n mod 5 quintiles hold ⌈n/5⌉ users) and rank/n for cume_dist — so
    * the output is bit-identical to the global
    * `ntile(5) OVER (ORDER BY metric, user_id)` spec the oracle runs,
    * while the plan stays partitioned end to end.
    */
  def rfmSegmentation(events: DataFrame): DataFrame = {
    val horizon = events.agg(max(expr("unix_micros(ts)")).as("tmax"))
    val per = events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_type"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(max(col("us")).as("last_us"),
        sum(when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L)))
          .as("frequency"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(lit(0L))).as("monetary_cents"))
    val base = per.crossJoin(broadcast(horizon))
      .withColumn("recency_days", expr("(tmax - last_us) div 86400000000"))
      .select("user_id", "recency_days", "frequency", "monetary_cents")
    val n = base.agg(count(lit(1)).as("_n"))
    // Exact composite ranks, one per scored order, each computed over a
    // SLIM (user_id, metric) frame and joined back on user_id — folding
    // the rank construction over one widening frame would re-aggregate
    // the whole growing chain per metric (measured 3x slower). Bucket
    // widths bound the bucket histogram by the VALUE RANGE (days since
    // horizon, purchase counts, total cents), never the user count.
    def rankOf(c: String, desc: Boolean, w: Long, name: String) =
      withExactRank(base.select("user_id", c), c, desc, "user_id", w, name)
        .select("user_id", name)
    val ranked = base
      .join(rankOf("recency_days", false, 64L, "_rr"), Seq("user_id"))
      .join(rankOf("frequency", true, 16L, "_rf"), Seq("user_id"))
      .join(rankOf("monetary_cents", true, 1L << 20, "_rm"), Seq("user_id"))
      .join(rankOf("monetary_cents", false, 1L << 20, "_rma"), Seq("user_id"))
    // NTILE(5)'s exact bucket arithmetic from the rank: with n rows the
    // first n mod 5 buckets hold (n div 5)+1 rows, the rest n div 5.
    def ntile5(r: String): String =
      s"""(CASE WHEN $r <= (_n % 5) * ((_n div 5) + 1)
         |      THEN ($r - 1) div ((_n div 5) + 1) + 1
         |      ELSE (_n % 5) + ($r - 1 - (_n % 5) * ((_n div 5) + 1))
         |             div (_n div 5) + 1 END)""".stripMargin
    ranked.crossJoin(broadcast(n))
      .withColumn("r_q", expr(s"CAST(6 - ${ntile5("_rr")} AS BIGINT)"))
      .withColumn("f_q", expr(s"CAST(6 - ${ntile5("_rf")} AS BIGINT)"))
      .withColumn("m_q", expr(s"CAST(6 - ${ntile5("_rm")} AS BIGINT)"))
      .withColumn("m_cume",
        round(col("_rma").cast("double") / col("_n").cast("double"), 6))
      .select("user_id", "recency_days", "frequency", "monetary_cents",
        "r_q", "f_q", "m_q", "m_cume")
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // Gini concentration
  // ---------------------------------------------------------------------

  /** Exact-integer Gini coefficient over per-user purchase cents plus
    * the top-decile revenue share — the inequality audit (the identical
    * math audits per-source token concentration in a training mix). The
    * rank-weighted sum formula G = (2Σi·xᵢ - (n+1)Σxᵢ)/(nΣxᵢ) over the
    * ascending sort is all BIGINT until the final division; the rank i
    * comes from [[exactAscRank]] (bucket-histogram offsets + partitioned
    * windows), not a global single-task window, so the user grain never
    * funnels through one reducer.
    */
  def giniConcentration(events: DataFrame): DataFrame = {
    val per = events.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
        .as("cents"))
    val ranked = exactAscRank(per, "cents", "user_id", 1L << 20, "i")
    val agg0 = ranked.agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"),
      sum(col("i") * col("cents")).as("iws"))
    ranked.crossJoin(broadcast(agg0))
      .filter(col("i") > col("n") - ceil(col("n").cast("double") / 10.0))
      .groupBy("n", "tot", "iws")
      .agg(sum(col("cents")).as("top_cents"))
      .select(
        col("n").as("n_users"), col("tot").as("total_cents"),
        round((lit(2.0) * col("iws").cast("double")
          - (col("n") + 1).cast("double") * col("tot").cast("double"))
          / (col("n").cast("double") * col("tot").cast("double")), 6).as("gini"),
        round(col("top_cents").cast("double") / col("tot").cast("double"), 6)
          .as("top_decile_share"))
  }

  // ---------------------------------------------------------------------
  // kNN-graph expansion (neighbor-of-neighbor ANN refinement)
  // ---------------------------------------------------------------------

  /** One-hop graph expansion over the banded-LSH candidate graph — the
    * core move of graph-based ANN (HNSW/NSG family): a query's candidate
    * pool is widened with the neighbors of its current top-k, then
    * exact-re-ranked. Because the expanded pool is a superset, recall@k
    * against brute-force truth is monotonically ≥ the base pass (the
    * CurationSpec contract); the report carries both plus the lift.
    *
    * Scale: the adjacency is the SAME banded candidate-pair table the
    * registered ANN path builds (never all-pairs); expansion is one
    * equi-join from the bounded query top-k into it, and exact scoring
    * touches candidates only. The hop-2 side joins a DEGREE-CAPPED view
    * of the adjacency — each node keeps its `degreeCap` lowest-id
    * neighbors, the same M-bounded neighbor-list invariant HNSW
    * maintains — so the expanded pool is ≤ |queries|·k·degreeCap rows by
    * construction, independent of how hot any node's bucket got. The
    * base pass stays uncapped, so the recall-monotonicity contract
    * (expanded pool ⊇ base pool ⇒ recall_exp ≥ recall_base) is
    * unconditional.
    */
  def knnExpansion(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int = 5, degreeCap: Int = 32): DataFrame = {
    VectorFunctions.register(embeddings.sparkSession)
    val e = embeddings.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    // Sparse preset: 8x8-bit bands + hot-bucket cap — the realistic
    // sub-quadratic graph (the dense 3-bit default is all-pairs in
    // disguise at scale, and expansion exists precisely to buy back the
    // recall a sparser graph gives up).
    val cand = Similarity.candidatePairs(embeddings, Similarity.SparseBands,
      Similarity.SparseBandBits, Similarity.SparseBucketCap)
    val adj = cand.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionByName(cand.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    def rankTop(c: DataFrame): DataFrame = c
      .join(e.select(col("vec_id").as("qid"), col("emb").as("qe")), Seq("qid"))
      .join(e.select(col("vec_id").as("nid"), col("emb").as("ne")), Seq("nid"))
      .select(col("qid"), col("nid"), Similarity.dot(col("qe"), col("ne")).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("nid").asc)))
      .filter(col("rn") <= k)
    val qAdj = adj.filter(col("src").isin(queryIds: _*))
      .select(col("src").as("qid"), col("dst").as("nid")).distinct()
    // baseTop feeds THREE consumers (the hop-2 expansion and both sides
    // of the recall comparison); truth feeds two. Both are ≤ |queries|·k
    // rows — checkpointing them costs a row-handful of block storage and
    // stops each consumer from re-running the candidate-join + window
    // subtree (round-18; the x205 union-duplication lesson applied here).
    val baseTop = rankTop(qAdj).localCheckpoint()
    val adjCapped = adj
      .withColumn("drn", row_number().over(
        Window.partitionBy("src").orderBy(col("dst").asc)))
      .filter(col("drn") <= degreeCap)
      .select("src", "dst")
    val hop2 = baseTop.select(col("qid"), col("nid").as("src"))
      .join(adjCapped, Seq("src"))
      .select(col("qid"), col("dst").as("nid"))
      .filter(col("nid") =!= col("qid"))
    val expTop = rankTop(qAdj.unionByName(hop2).distinct())
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("emb").as("qe"))
    val truth = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        Similarity.dot(col("qe"), col("emb")).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("nid").asc)))
      .filter(col("rn") <= k)
      .localCheckpoint()
    def hits(top: DataFrame, name: String): DataFrame =
      truth.select(col("qid"), col("nid"))
        .join(top.select(col("qid"), col("nid"), lit(1).as("hit")),
          Seq("qid", "nid"), "left")
        .groupBy("qid").agg(sum(coalesce(col("hit"), lit(0))).as(name))
    hits(baseTop, "base_hits").join(hits(expTop, "exp_hits"), Seq("qid"))
      .select(col("qid"), col("base_hits"), col("exp_hits"),
        round(col("base_hits").cast("double") / lit(k.toDouble), 6).as("recall_base"),
        round(col("exp_hits").cast("double") / lit(k.toDouble), 6).as("recall_exp"))
      .withColumn("lift", round(col("recall_exp") - col("recall_base"), 6))
      .orderBy("qid")
  }

  /** Mann–Whitney U rank-sum screen (Mann & Whitney 1947; Wilcoxon 1945)
    * — each source tested against the REST of the corpus on per-doc
    * token counts: the nonparametric "is this source's length
    * distribution shifted?" answer that KS (x195) gives for drift and
    * the t-family can't give without a normality assumption. Because
    * every one-vs-rest pool IS the whole corpus, pooled midranks are
    * computed ONCE and every source's test reads the same rank map — m
    * tests for one rank pass.
    *
    * Exactness discipline: midranks are kept DOUBLED so they stay
    * integers under ties (midrank2 = 2·|{v' < v}| + |{v'' = v}| + 1);
    * per-source rank sums and 2·U are exact BIGINTs; the corpus-wide
    * tie term T = Σ(t³−t) is a DECIMAL(38,0) sum of per-value terms
    * (t³ would overflow BIGINT past t ≈ 2×10⁶; the decimal envelope is
    * ~10¹² docs sharing one length — document-scale safe; DuckDB sums
    * the same term in HUGEINT, identical values either way). The only
    * doubles are the final variance tree
    * σ² = (n_a·n_b/12)·((N+1) − T/(N(N−1))) and z — one shared IEEE
    * expression from exact integers, rounded to 6. n_a·n_b and N(N−1)
    * stay BIGINT-exact to ~3×10⁹ docs.
    *
    * AUC = U_a/(n_a·n_b) is the common-language effect size (P(doc from
    * source longer than doc from rest), ties half-counted) — 0.5 means
    * no shift; `significant` flags |z| > 1.96. σ = 0 (every doc the
    * same length) yields NULL z — 3VL, nothing to test.
    *
    * Scale shape: one groupBy over the (source, n_tokens) projection,
    * one broadcast of the value→rank map (distinct lengths, bounded),
    * one per-source aggregate. No corpus-wide window or sort.
    */
  /** Shared pooled-midrank kernel for the rank statistics ([[mannWhitneyBySource]],
    * [[kruskalWallis]]): per-source doubled-midrank sums over per-doc
    * token counts, with the corpus totals (N, tie term Σ(t³−t) in
    * DECIMAL(38,0)). ONE definition — a tie-handling tweak applied to
    * one test and not the other would silently desynchronize them.
    * Returns (per-source [source, n_a, r_sum2], totals [n_total,
    * tie_term]).
    */
  private def pooledRankSums(docs: DataFrame): (DataFrame, DataFrame) = {
    val vals = docs.select(col("source"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("v"))
    val byV = vals.groupBy("v").agg(count(lit(1)).as("cnt"))
    val wv = Window.orderBy("v")
    val rankMap = byV
      .withColumn("cum", sum(col("cnt")).over(wv))
      .withColumn("midrank2", lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1L)
      .select("v", "midrank2")
    val totals = byV.agg(
      sum(col("cnt")).as("n_total"),
      sum(col("cnt").cast("decimal(12,0)") * col("cnt").cast("decimal(12,0)")
        * col("cnt").cast("decimal(12,0)") - col("cnt").cast("decimal(38,0)"))
        .as("tie_term"))
    val perSource = vals.join(broadcast(rankMap), Seq("v"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_a"), sum(col("midrank2")).as("r_sum2"))
    (perSource, totals)
  }

  def mannWhitneyBySource(docs: DataFrame): DataFrame = {
    val (perSource, totals) = pooledRankSums(docs)
    val st = perSource.crossJoin(broadcast(totals))
      .withColumn("n_b", col("n_total") - col("n_a"))
      .withColumn("u2", col("r_sum2") - col("n_a") * (col("n_a") + 1L))
    val sig2 = (col("n_a") * col("n_b")).cast("double") / lit(12.0) *
      ((col("n_total") + 1L).cast("double") -
        col("tie_term").cast("double") /
          (col("n_total") * (col("n_total") - 1L)).cast("double"))
    val zRaw = ((col("u2") - col("n_a") * col("n_b")).cast("double") / lit(2.0)) /
      sqrt(sig2)
    st
      .withColumn("u_a", col("u2").cast("double") / lit(2.0))
      .withColumn("auc",
        round(col("u2").cast("double") /
          (lit(2L) * col("n_a") * col("n_b")).cast("double"), 6))
      .withColumn("z", when(sig2 > 0, round(zRaw, 6)))
      .withColumn("significant", when(sig2 > 0, abs(round(zRaw, 6)) > lit(1.96)))
      .select("source", "n_a", "n_b", "u_a", "auc", "z", "significant")
  }

  /** Kruskal–Wallis H (Kruskal & Wallis 1952) — the k-group omnibus
    * companion of [[mannWhitneyBySource]]: ONE test of "do any of the m
    * sources' token-count distributions differ?" before (or instead of)
    * m pairwise screens, from the SAME pooled-midrank kernel. Reported
    * tie-corrected: H_corr = H / (1 − ΣT/(N³−N)), with
    * H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1).
    *
    * Exactness discipline: R_g = r_sum2/2 squares exactly in IEEE
    * doubles while R_g ≤ 2^26 (a ~10⁷-rank corpus; beyond that the
    * double is still deterministic cross-engine, just not exact); each
    * group's R_g²/(4·n_g)·1e6 term snaps onto the 1e-6 fixed-point grid
    * so the Σ_g is an order-free BIGINT (grid envelope ~9·10¹² per
    * term-sum — the same convention as x161's decayed grid); N³−N is
    * computed as a product of DOUBLES (BIGINT would overflow past
    * N ≈ 2·10⁶, and DuckDB THROWS on bigint overflow where Spark
    * non-ANSI nulls — the x104 lesson). All-identical values make the
    * correction factor 0: H undefined, NULL (3VL).
    *
    * Effect size ε² = H_corr/(N−1) rides along. Scale shape: identical
    * to the kernel's — one corpus aggregate, broadcast rank map, and a
    * single-row reduce over m group sums.
    */
  def kruskalWallis(docs: DataFrame): DataFrame = {
    val (perSource, totals) = pooledRankSums(docs)
    val termFp = floor(
      (col("r_sum2").cast("double") * col("r_sum2").cast("double"))
        / (lit(4.0) * col("n_a").cast("double")) * lit(1e6) + lit(0.5))
      .cast("long")
    val grouped = perSource
      .agg(count(lit(1)).as("n_groups"), sum(termFp).as("sum_fp"))
      .crossJoin(broadcast(totals))
    val nD = col("n_total").cast("double")
    val h = lit(12.0) * (col("sum_fp").cast("double") / lit(1e6)) /
      (nD * (nD + lit(1.0))) - lit(3.0) * (nD + lit(1.0))
    val corr = lit(1.0) - col("tie_term").cast("double") /
      (nD * (nD - lit(1.0)) * (nD + lit(1.0)))
    grouped.select(
      col("n_total"), col("n_groups"),
      (col("n_groups") - 1L).as("df"),
      round(h, 6).as("h"),
      when(corr > 0, round(h / corr, 6)).as("h_corrected"),
      when(corr > 0, round(h / corr / (nD - lit(1.0)), 6)).as("epsilon_sq"))
  }

  /** Per-source exact-duplicate rate with a Wilson 95% score interval —
    * the UNCERTAINTY the point estimate x140's datasheet reports lacks:
    * a 40%-dup feed of 50 documents and a 40%-dup feed of 5 million are
    * different operational facts, and the decision column
    * (`credibly_above`: is the LOWER bound above the policy threshold?)
    * is what a quarantine rule should key on, not the point rate.
    * Wilson rather than the Wald ±z√(p(1-p)/n) because Wald collapses
    * to a zero-width interval at p̂ ∈ {0,1} — exactly the degenerate
    * feeds a dup audit meets (all-unique or all-duplicate sources).
    *
    * Cross-engine exactness: counts are exact BIGINTs (duplicates =
    * n − distinct md5s); the interval is one shared IEEE tree of
    * division / multiplication / sqrt — every operation correctly
    * rounded, no transcendentals (erf/exp would differ in last ulps
    * between libm implementations; sqrt does not) — rounded to 6.
    *
    * Scale shape: one groupBy(source) with a distinct-count — at 100 TB
    * swap the exact distinct for the KMV sketch (x214) and the same
    * interval math applies to the estimated rate.
    */
  def dupRateWilson(docs: DataFrame, threshold: Double = 0.1): DataFrame = {
    require(threshold >= 0 && threshold < 1, s"threshold $threshold outside [0,1)")
    val per = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text").cast("binary"))).as("n_distinct"))
    val n = col("n_docs").cast("double")
    val d = (col("n_docs") - col("n_distinct")).cast("double")
    val p = d / n
    val z2 = lit(1.96) * lit(1.96)
    val denom = lit(1.0) + z2 / n
    val center = (p + z2 / (lit(2.0) * n)) / denom
    val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / n
      + z2 / (lit(4.0) * n * n)) / denom
    per.select(col("source"), col("n_docs"),
        (col("n_docs") - col("n_distinct")).as("n_dups"),
        round(p, 6).as("dup_rate"),
        round(center - half, 6).as("ci_lo"),
        round(center + half, 6).as("ci_hi"),
        (round(center - half, 6) > lit(threshold)).as("credibly_above"))
      .orderBy("source")
  }
}
