package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, each in its
  * scalable Spark shape:
  *
  *   - exact:   one hash-groupBy (shuffle on the content hash only)
  *   - MinHash: signature pass (explode shingles → k min-aggregates),
  *              LSH banding (join on band key — never an O(n²) cross join),
  *              then exact-Jaccard verification on the tiny candidate set
  *   - SimHash: one explode + 16 conditional sums per doc
  *   - n-gram Jaccard: inverted-index self-join on shingles (the exact
  *              path; candidate generation at 100 TB uses the LSH variant)
  *
  * Hashes are MD5 (SQL-portable, so the DuckDB oracles replay them
  * exactly); at production scale substitute xxhash64 for ~10× cheaper
  * hashing — every plan shape stays the same.
  */
object Dedup {

  /** Number of MinHash functions and LSH band width (r=2 → 8 bands). */
  val MinHashK = 16
  val BandRows = 2
  val NumBands: Int = MinHashK / BandRows

  // Several dedup operators share the shingle explode (signatures, LSH
  // pairs, exact Jaccard). Cache it per (session, source-plan) so a run
  // that uses three of them tokenizes once — the dedup-family analog of
  // the warehouse's materialized view reuse.
  private val shingleCache = graft.ops.Ckpt.Memo[Long]("Dedup.shingleCache")

  /** Exact dedup: annotate every document with its content-hash group —
    * group size and whether this row is the canonical (min doc_id)
    * representative. A filter on is_canonical is the "drop dupes" action.
    */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(w))
  }

  /** The shingle-explode KERNEL: one (kept-columns..., shingle) row per
    * word-bigram occurrence — shared by [[shingles]] (which adds the
    * per-doc distinct + session cache) and by streaming consumers,
    * which cannot cache an unbounded stream but must shingle the same
    * way (a kernel re-spell would silently desynchronize the streaming
    * KMV monitor from the batch x214 sketches).
    */
  private[graft] def shingleRows(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val kept = keep.map(col)
    docs.select(kept :+ TextAnalysis.tokens(col("text")).as("ts"): _*)
      .select(kept :+ col("ts") :+
        explode(sequence(lit(1), greatest(size(col("ts")) - 1, lit(1)))).as("i"): _*)
      .select(kept :+ array_join(slice(col("ts"), col("i"), lit(2)), " ").as("shingle"): _*)
  }

  /** Distinct word-bigram shingles per document: (doc_id, shingle) rows.
    * The explode is the scan-shaped part; everything downstream is
    * aggregates and key joins.
    */
  def shingles(docs: DataFrame): DataFrame =
    shingleCache(docs.sparkSession, PlanKeys.fingerprint(docs)) {
      shingleRows(docs, Seq("doc_id")).distinct().cache()
    }
  // Explode-index + row distinct rather than array_distinct(transform(...)):
  // interpreted array lambdas cost ~10x vs the codegen'd exploded form; the
  // distinct shuffles only (doc_id, shingle) pairs.

  /** MinHash signatures: k min-hashes per doc via the Kirsch-Mitzenmacher
    * two-hash construction — ONE md5 per shingle yields two 32-bit values
    * (h1, h2); hash_j = (h1 + j·h2) mod 2³². This is the textbook
    * k-independent-from-2 trick and cut the signature pass ~4× vs k
    * separate md5 evaluations (measured at sf0.1). Still SQL-portable:
    * DuckDB parses the same hex substrings with CAST('0x…' AS BIGINT).
    * Banded into NumBands LSH keys; one shuffle (groupBy doc_id).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    sigCache(docs.sparkSession, PlanKeys.fingerprint(docs)) {
      val bands = (0 until NumBands).map(b => bandKey(b).as(s"band$b"))
      rawSignatures(docs).select((col("doc_id") +: bands): _*).cache()
    }

  /** The raw k-minhash signature table (doc_id, mh0..mh{k-1}) — ONE
    * definition of the signature math, consumed by the banded cache
    * above and by [[minhashCalibration]]'s estimate columns (a re-spell
    * would silently desynchronize the calibration curve from the sketch
    * it calibrates). Memoized + cached per (session, source plan) like
    * the shingle frames (round-18): the calibration consumes it through
    * TWO broadcast sides (sa/sb) on top of the banded cache's own read,
    * and broadcast builds do not share work across differing projections
    * — uncached, one x114 run paid the md5+conv signature pass three
    * times. */
  private def rawSignatures(docs: DataFrame): DataFrame =
    rawSigCache(docs.sparkSession, PlanKeys.fingerprint(docs)) {
      val h = md5(col("shingle").cast("binary"))
      val withH = shingles(docs).select(col("doc_id"),
        conv(substring(h, 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("h2"))
      val mhs = (0 until MinHashK).map { j =>
        min((col("h1") + lit(j.toLong) * col("h2")) % lit(4294967296L)).as(s"mh$j")
      }
      withH.groupBy("doc_id").agg(mhs.head, mhs.tail: _*).cache()
    }

  /** Band b's LSH key over the raw signature columns — the other half
    * of the one-definition kernel. */
  private def bandKey(b: Int) =
    md5(concat(col(s"mh${2 * b}").cast("string"), lit("|"),
      col(s"mh${2 * b + 1}").cast("string")).cast("binary"))

  private val rawSigCache = graft.ops.Ckpt.Memo[Long]("Dedup.rawSigCache")
  private val sigCache = graft.ops.Ckpt.Memo[Long]("Dedup.sigCache")
  private val setCache = graft.ops.Ckpt.Memo[Long]("Dedup.setCache")
  private val pairCache = graft.ops.Ckpt.Memo[(Long, Double, Int)]("Dedup.pairCache")
  private val candCache = graft.ops.Ckpt.Memo[(Long, Long, Int)]("Dedup.candCache")

  /** LSH candidate pairs verified by exact Jaccard: docs sharing any band
    * bucket are candidates (equi-join on the band key — the whole point of
    * LSH at scale); each candidate pair is then verified against the real
    * shingle-set Jaccard and kept if >= threshold.
    *
    * `bucketCap > 0` drops every (band_idx, band_key) bucket wider than
    * the cap from candidate generation — the hot-bucket guard. Without it
    * a cluster of m exact-duplicate or boilerplate documents emits m²
    * candidates per band before distinct(), making the self-join quadratic
    * in shuffle volume under skew; with the cap, per-band candidate volume
    * is bounded by N·cap/2 REGARDLESS of the key distribution. Recall loss
    * is confined to the dropped buckets, whose members collide on a
    * non-selective signature anyway (and any pair that ALSO agrees on a
    * cold band still surfaces through that band). Unlike the cosine twin
    * (Similarity.candidatePairs, whose key space is bands·2^bits and thus
    * broadcastable), MinHash band keys are md5 values with O(N·bands)
    * cardinality — so the width filter rides a window over the SAME
    * (band_idx, band_key) hash partitioning the self-join needs: one
    * exchange, no broadcast, no driver-side state.
    */
  def lshDedupPairs(docs: DataFrame, threshold: Double = 0.3,
      bucketCap: Int = 0): DataFrame =
    pairCache(docs.sparkSession, (PlanKeys.fingerprint(docs), threshold, bucketCap)) {
      lshDedupPairsUncached(docs, threshold, bucketCap).cache()
    }

  /** The LSH band index: one (doc_id, band_idx, band_key) row per band
    * per document — the shape a production pipeline PERSISTS (partitioned
    * by band_key prefix) so tomorrow's delta batch can probe yesterday's
    * corpus without re-signaturing it. Pure per-document function of the
    * signature, so the persisted index is maintained by plain append of
    * the new batch's rows; [[incrementalLshDedup]] consumes it.
    */
  def bandIndex(docs: DataFrame): DataFrame = {
    val sigs = minhashSignatures(docs)
    val bandCols = (0 until NumBands).map(b => col(s"band$b"))
    sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_key")))
  }

  /** Banded LSH candidate pairs BEFORE exact verification — (doc_a, doc_b)
    * with doc_a < doc_b, distinct. Shared by the dedup path and the
    * blocking-quality evaluation (x162), which needs the raw candidate set
    * the verifier never sees. */
  /** The hot-bucket guard, ONE definition (the x213/x188 multi-site
    * drift lesson): drop every (band_idx, band_key) bucket wider than
    * the cap. The width window rides the same hash partitioning the
    * downstream band join needs. */
  private def capBuckets(bandRows: DataFrame, bucketCap: Int): DataFrame =
    if (bucketCap <= 0) bandRows
    else bandRows
      .withColumn("_bucket_width",
        count(lit(1)).over(Window.partitionBy("band_idx", "band_key")))
      .filter(col("_bucket_width") <= bucketCap)
      .drop("_bucket_width")

  private[graft] def bandedCandidates(docs: DataFrame,
      bucketCap: Int = 0): DataFrame = {
    // No proxy-repartition here, deliberately (round-18): unlike the
    // cosine side's 2^bandBits-bounded key space (see
    // Similarity.candidatePairs), MinHash band keys are md5 values with
    // O(N·bands) cardinality, so bucket widths — and the self-join's
    // fan-out — stay near 1 except for true near-dup clusters, and a
    // pinned pre-join exchange measurably cost more than it saved.
    val kept = capBuckets(bandIndex(docs), bucketCap)
    val a = kept.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_key"))
    val b = kept.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Per-doc distinct shingle SET frame (doc_id, sh ARRAY) — the exact-
    * Jaccard verify side, memoized per (session, source plan) like the
    * shingle rows themselves. ONE definition shared by the dedup verify
    * paths and the calibration (x114). */
  private def shingleSets(docs: DataFrame): DataFrame =
    setCache(docs.sparkSession, PlanKeys.fingerprint(docs)) {
      shingles(docs).groupBy("doc_id").agg(collect_set(col("shingle")).as("sh")).cache()
    }

  private def lshDedupPairsUncached(docs: DataFrame, threshold: Double,
      bucketCap: Int): DataFrame = {
    // The exact-Jaccard verify below is the HEAVY per-row stage (a
    // ~shingle-count set intersection per candidate), and its joins are
    // broadcast-side — so it runs in the candidate table's partitioning.
    // Spread the candidates at the configured shuffle parallelism first
    // (round-18): with AQE re-optimizing cached plans, the candidate
    // cache's bytes coalesce to one/few partitions and the verify ran
    // serial (measured: x66's verify stage 1 task, 1.65 s). The
    // repartition is one linear shuffle of (doc_a, doc_b) pairs — cheap
    // at any scale next to the verify it parallelizes.
    val candidates = bandedCandidates(docs, bucketCap)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_a"))

    val sets = shingleSets(docs)
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The incremental candidate probe, uncached (PlanSpec pins THIS plan —
    * the cache in [[incrementalLshDedup]] would hide it inside an
    * InMemoryRelation): union the sided band rows, apply the hot-bucket
    * cap over the UNION's widths (same semantics as the full recompute),
    * and equi-join the delta-filtered probe side against the whole index
    * — corpus-corpus collisions never form. */
  private[graft] def incrementalCandidates(ci: DataFrame, di: DataFrame,
      bucketCap: Int): DataFrame = {
    val kept = capBuckets(ci.unionByName(di), bucketCap)
    val probe = kept.filter(col("is_delta"))
      .select(col("doc_id").as("delta_id"), col("band_idx"), col("band_key"))
    val index = kept.select(col("doc_id").as("match_id"), col("band_idx"),
      col("band_key"), col("is_delta").as("m_is_delta"))
    probe.join(index, Seq("band_idx", "band_key"))
      .filter(!col("m_is_delta") || col("match_id") < col("delta_id"))
      .select(col("delta_id"), col("match_id"),
        (!col("m_is_delta")).as("is_corpus"))
      .distinct()
  }

  /** Incremental LSH dedup: verdict a DELTA batch against an existing
    * CORPUS without ever pairing the corpus with itself — the production
    * daily-ingest shape. At 100 TB a full-corpus re-dedup per batch is
    * O(corpus) signature work plus an O(corpus)-wide self-join every day;
    * this operator is O(delta) signature work plus an index probe whose
    * candidate volume is bounded by |delta bands| x bucketCap.
    *
    * Scale shape, stage by stage:
    *   1. The corpus participates ONLY through its band index
    *      ([[bandIndex]] rows — pass the PERSISTED table as `corpusIndex`;
    *      at the gate it is derived, one corpus pass, and that derivation
    *      is exactly the index-build a production pipeline amortizes).
    *   2. Delta docs are signatured and banded (delta-sized work), then
    *      equi-join the index on (band_idx, band_key). The hot-bucket cap
    *      is computed over the UNION's bucket widths — same semantics as
    *      [[lshDedupPairs]] over corpus ∪ delta, so the incremental run
    *      is provably equal to the full recompute (law in Batch17Spec) —
    *      and the width window rides the same hash partitioning the probe
    *      join needs. Corpus-corpus collisions never form: the probe side
    *      is filtered to delta rows BEFORE the join.
    *   3. Exact-Jaccard verification re-reads corpus TEXT only for the
    *      matched candidate ids (broadcast left-semi; bounded by
    *      |delta| x cap), never the whole corpus.
    *   4. Verdict per delta doc: `dup_corpus` if any verified corpus
    *      match (corpus canon always wins, however weak, over a
    *      same-batch match — the corpus is the canonical set), else
    *      `dup_delta` if a verified match with a LOWER-id delta doc
    *      (first-occurrence-wins within the batch; deliberately pair-
    *      level, not transitive — a doc matching only a rejected earlier
    *      doc is still dropped, the conservative hygiene choice), else
    *      `kept`. best_match_id/best_jaccard name the winning match
    *      (ties: higher jaccard, then lower id); n_matches audits the
    *      verified fan-in. Kept docs then extend the persisted index by
    *      appending their [[bandIndex]] rows — plain append, step 1.
    *
    * Precondition: delta doc_ids are disjoint from corpus doc_ids (new
    * ingest gets new ids). Violations raise in-plan via a broadcast
    * overlap count — an id on both sides would silently alias two
    * different documents in the verdict join.
    */
  /** Verified delta-involving near-dup pairs — the shared kernel behind
    * [[incrementalLshDedup]]'s verdicts and [[incrementalClusters]]'s
    * label maintenance (one definition: a verdict and the cluster it
    * implies can never disagree about which pairs exist). Returns
    * (delta_id, match_id, is_corpus, jaccard). The CANDIDATE table is
    * what's memoized, per (index, delta, cap) — threshold is
    * deliberately NOT in the key because it applies downstream of the
    * cache; nothing threshold-dependent may move inside the cached
    * builder. Precondition (delta ids disjoint from corpus ids) is
    * raised in-plan by BOTH public entry points, not here. */
  private[graft] def incrementalVerifiedPairs(corpus: DataFrame,
      delta: DataFrame, threshold: Double, bucketCap: Int,
      corpusIndex: Option[DataFrame]): DataFrame = {
    val ci = corpusIndex.getOrElse(bandIndex(corpus))
      .withColumn("is_delta", lit(false))
    val di = bandIndex(delta).withColumn("is_delta", lit(true))
    // Two consumers (the corpus-id semi filter and the verify join) —
    // cached so the band probe runs ONCE (5.93 → 5.50 s isolated at
    // sf0.1 together with the single-window verdict below; the
    // remaining cost over x66 is stage latency, not asymptotics —
    // production amortizes the index build away entirely). The cache
    // hides the probe join inside an InMemoryRelation, so PlanSpec
    // pins the split-out [[incrementalCandidates]] builder directly.
    // Eager fill (see [[graft.ops.Ckpt.filled]]): the candidate probe is
    // referenced from three plan branches below, and AQE's concurrent
    // query stages raced to fill the lazy cache — the stage probe measured
    // x251's Σtask dropping 10.0 → 3.1 s with the fill (the probe join
    // ran once instead of three times). The chain caches above
    // (shingles/signatures/pairs/sets) were measured too and deliberately
    // stay LAZY: no Σtask win there, and each fill serialized an extra
    // job that cost more wall than the (overlapping) duplicates did.
    val cand = candCache(corpus.sparkSession,
        (PlanKeys.fingerprint(ci), PlanKeys.fingerprint(di), bucketCap)) {
      graft.ops.Ckpt.filled(incrementalCandidates(ci, di, bucketCap).cache())
    }

    // Corpus text re-enters ONLY for matched candidates: the candidate
    // corpus-id set (delta-bounded) broadcasts as a left-semi filter.
    // Which side of the filter the shingle explode runs on depends on
    // whether the index was DERIVED here (round-18): at the gate
    // (corpusIndex = None) the signature pass above has already shingled
    // and cached the WHOLE corpus, so re-tokenizing the matched docs
    // would pay the explode twice — filter the cached shingle rows
    // instead (identical rows: shingles() is per-doc distinct either
    // way). In production (corpusIndex passed) no corpus-wide shingle
    // frame exists, and tokenizing ONLY the matched text is exactly the
    // operator's O(|delta|·cap) contract.
    val candCorpusIds = cand.filter(col("is_corpus"))
      .select(col("match_id").as("doc_id")).distinct()
    val corpusShingleRows = corpusIndex match {
      case None => shingles(corpus)
        .join(broadcast(candCorpusIds), Seq("doc_id"), "left_semi")
      case Some(_) => shingles(
        corpus.join(broadcast(candCorpusIds), Seq("doc_id"), "left_semi"))
    }
    val corpusSets = corpusShingleRows
      .groupBy("doc_id").agg(collect_set(col("shingle")).as("sh"))
    // The delta SET frame feeds two joins below (sh_d and the matchSets
    // union) — read it through the memoized set cache so the
    // collect_set aggregate runs once, not once per consumer.
    val deltaSets = shingleSets(delta)
    // Delta ids are disjoint from corpus ids (raised in-plan by both
    // public entry points), so the match side resolves by a plain
    // union of the two set tables.
    val matchSets = corpusSets.unionByName(deltaSets)

    cand
      // Verify-parallelism spread (the lshDedupPairsUncached argument):
      // the intersect below is the heavy per-row stage and must not
      // inherit the byte-coalesced candidate cache's partitioning.
      .repartition(corpus.sparkSession.sessionState.conf.numShufflePartitions,
        col("delta_id"))
      .join(deltaSets.select(col("doc_id").as("delta_id"),
        col("sh").as("sh_d")), Seq("delta_id"))
      .join(matchSets.select(col("doc_id").as("match_id"),
        col("sh").as("sh_m")), Seq("match_id"))
      .withColumn("inter", size(array_intersect(col("sh_d"), col("sh_m"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_d")) + size(col("sh_m")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("delta_id", "match_id", "is_corpus", "jaccard")
  }

  def incrementalLshDedup(corpus: DataFrame, delta: DataFrame,
      threshold: Double = 0.3, bucketCap: Int = 0,
      corpusIndex: Option[DataFrame] = None): DataFrame = {
    val ci = corpusIndex.getOrElse(bandIndex(corpus))
      .withColumn("is_delta", lit(false))
    val verified = incrementalVerifiedPairs(corpus, delta, threshold,
      bucketCap, corpusIndex)

    // One window pass yields both the top-1 match and the match count —
    // same partitioning, so best and the n_matches audit never fork
    // `verified` into two subtrees.
    val w = Window.partitionBy("delta_id")
      .orderBy(col("is_corpus").desc, col("jaccard").desc, col("match_id"))
    val best = verified
      .withColumn("rn", row_number().over(w))
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy("delta_id")))
      .filter(col("rn") === 1)
      .select(col("delta_id").as("doc_id"), col("is_corpus"),
        col("match_id").as("best_match_id"),
        col("jaccard").as("best_jaccard"), col("n_matches"))

    // No distinct on the index side: the guard only tests === 0, and a
    // colliding id matches whether it appears once or NumBands times.
    val overlap = ci.select("doc_id")
      .join(broadcast(delta.select("doc_id").distinct()),
        Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("_n_overlap"))

    delta.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .crossJoin(broadcast(overlap))
      .filter(assert_true(col("_n_overlap") === 0L,
        lit("incrementalLshDedup: delta doc_ids collide with corpus " +
          "doc_ids — new ingest must mint fresh ids")).isNull)
      .select(col("doc_id"),
        when(col("is_corpus"), lit("dup_corpus"))
          .when(col("is_corpus").isNotNull, lit("dup_delta"))
          .otherwise(lit("kept")).as("verdict"),
        col("best_match_id"), col("best_jaccard"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
  }

  /** Incremental duplicate-cluster maintenance: fold a DELTA batch into
    * an existing cluster-label table WITHOUT re-running connected
    * components over the corpus — the companion to [[incrementalLshDedup]]
    * for pipelines that keep cluster ids (x22's shape) rather than
    * verdicts. At 100 TB the corpus-wide label-propagation loop is the
    * single most expensive dedup step; this operator re-runs it only on
    * a CONTRACTED graph whose nodes are the delta docs plus the touched
    * clusters' representative labels — bounded by |delta| x matches,
    * never by the corpus.
    *
    * Mechanics: delta-involving verified pairs come from the shared
    * [[incrementalVerifiedPairs]] kernel; each corpus endpoint contracts
    * to its cluster label (x22's invariant — the label IS the component's
    * min doc_id — is what makes the contracted min equal the true union
    * min); [[componentsFromEdges]] then resolves the tiny contracted
    * graph. Output is the label CHANGELOG a downstream writer applies to
    * the persisted table: every delta doc with its final label (an
    * unmatched doc labels itself — the INSERT rows), plus every corpus
    * doc whose label changed because a delta doc bridged its cluster
    * into another (the UPDATE rows, reached via a broadcast of the
    * relabeled representatives onto the label table — untouched
    * clusters are never read). Columns: (doc_id, side 'delta'|'corpus',
    * cluster, old_cluster NULL on the delta side, is_canonical).
    *
    * `corpusLabels` is the PERSISTED (doc_id, cluster) table in
    * production (pass it); at the gate it derives from
    * [[duplicateClusters]] on the corpus. A corpus match with no label
    * row raises in-plan — a stale label table would otherwise silently
    * mis-root the contracted component. Like the verdict operator, the
    * hot-bucket cap for DELTA candidates is computed over the union's
    * widths, while the corpus-side pairs baked into `corpusLabels` were
    * capped at index-build time over corpus-only widths — the
    * production reality (yesterday's cap decisions are immutable); with
    * `bucketCap = 0` the composition is provably equal to
    * duplicateClusters(corpus ∪ delta) (law in Batch17Spec).
    */
  def incrementalClusters(corpus: DataFrame, delta: DataFrame,
      threshold: Double = 0.3, bucketCap: Int = 0,
      corpusLabels: Option[DataFrame] = None,
      corpusIndex: Option[DataFrame] = None): DataFrame = {
    val labels = corpusLabels.getOrElse(
      duplicateClusters(corpus, threshold, bucketCap = bucketCap))
      .select(col("doc_id"), col("cluster"))
    val pairs = incrementalVerifiedPairs(corpus, delta, threshold,
      bucketCap, corpusIndex)

    // Contract corpus endpoints to their cluster representative. A
    // corpus match missing from the label table raises: the contracted
    // component would root at the wrong min.
    val edges = pairs
      .join(labels.select(col("doc_id").as("match_id"),
        col("cluster").as("m_cluster")), Seq("match_id"), "left")
      .filter(assert_true(!col("is_corpus") || col("m_cluster").isNotNull,
        lit("incrementalClusters: corpus match without a label row — " +
          "corpusLabels is stale or incomplete")).isNull)
      .select(col("delta_id").as("doc_a"),
        when(col("is_corpus"), col("m_cluster"))
          .otherwise(col("match_id")).as("doc_b"))

    val touched = edges.select(col("doc_b").as("doc_id"))
      .join(labels.select(col("cluster").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi").distinct()
    val nodes = delta.select(col("doc_id")).unionByName(touched)
    val (contracted, _) = componentsFromEdges(edges, nodes)

    // Delta side: every delta doc, final label (self-labeled = INSERT
    // of a new singleton cluster).
    val deltaIds = delta.select(col("doc_id"))
    val deltaSide = contracted
      .join(deltaIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit("delta").as("side"), col("cluster"),
        lit(null).cast("long").as("old_cluster"),
        (col("doc_id") === col("cluster")).as("is_canonical"))

    // Corpus side: representatives whose component min moved broadcast
    // onto the label table — every member of a merged cluster
    // relabels; untouched clusters never appear.
    val moved = contracted
      .join(touched, Seq("doc_id"), "left_semi")
      .filter(col("cluster") =!= col("doc_id"))
      .select(col("doc_id").as("old_cluster"), col("cluster").as("new_cluster"))
    val corpusSide = labels
      .join(broadcast(moved), labels("cluster") === moved("old_cluster"))
      .select(col("doc_id"), lit("corpus").as("side"),
        col("new_cluster").as("cluster"), col("old_cluster"),
        (col("doc_id") === col("new_cluster")).as("is_canonical"))

    // The same id-collision raise as the verdict operator — a delta id
    // already present in the corpus would alias two documents through
    // the matchSets union and silently mis-root the contracted
    // component. Index-rows scan + broadcast, like the sibling guard.
    val overlap = corpusIndex.getOrElse(bandIndex(corpus)).select("doc_id")
      .join(broadcast(delta.select("doc_id").distinct()),
        Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("_n_overlap"))

    deltaSide.unionByName(corpusSide)
      .crossJoin(broadcast(overlap))
      .filter(assert_true(col("_n_overlap") === 0L,
        lit("incrementalClusters: delta doc_ids collide with corpus " +
          "doc_ids — new ingest must mint fresh ids")).isNull)
      .drop("_n_overlap")
  }

  /** Number of 4-bit SimHash blocking bands (16 bits / 4 bands). By the
    * pigeonhole principle, a pair within Hamming distance d <= NumSimBands-1
    * (= 3) differs in at most 3 bands, so at least one band matches — the
    * banding has FULL recall for the default maxHamming=3 contract.
    */
  val NumSimBands = 4

  /** 16-bit SimHash over tokens (with multiplicity): bit b of a token's
    * MD5 votes ±1; the document bit is the sign of the vote sum. Documents
    * within small Hamming distance are near-duplicates; block0..block3 are
    * the four 4-bit blocking keys (any pair within Hamming distance 3 of
    * 16 bits shares at least one block — pigeonhole over 4 bands).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val h = md5(col("tok").cast("binary"))
    val contribs = (0 until 16).map { bit =>
      val d = bit / 4 + 1          // hex char index (1-based)
      val k = bit % 4              // bit within the hex digit
      val hv = conv(substring(h, d, 1), 16, 10).cast("int")
      sum(shiftright(hv, k).bitwiseAND(lit(1)) * 2 - 1).as(s"s$bit")
    }
    val sums = tok.groupBy("doc_id").agg(contribs.head, contribs.tail: _*)
    val sim = (0 until 16).map { bit =>
      when(col(s"s$bit") > 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ + _)
    (0 until NumSimBands).foldLeft(sums.select(col("doc_id"), sim.as("simhash"))) {
      (d, b) => d.withColumn(s"block$b",
        shiftright(col("simhash"), 4 * b).bitwiseAND(lit(15L)))
    }
  }

  /** SimHash near-duplicate pairs: candidates share at least one of the
    * four 4-bit blocks (pigeonhole: d<=3 differing bits can dirty at most
    * 3 of 4 bands, so recall is complete for the default contract),
    * verified by exact Hamming distance over the 16-bit hashes.
    *
    * The candidate join is a true equi-join on (band_idx, band_key) over
    * the band-exploded table — an OR of block equalities would compile to
    * a nested-loop cross join, which is exactly what blocking exists to
    * avoid. Shared-multiple-bands pairs are de-duplicated before verify.
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= NumSimBands - 1,
      s"banding guarantees recall only for hamming <= ${NumSimBands - 1}")
    val sh = simhash(docs)
    val bands = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until NumSimBands).map(b => col(s"block$b")): _*))
        .as(Seq("band_idx", "band_key")))
    val a = bands.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"),
      col("band_idx"), col("band_key"))
    val b = bands.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"),
      col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "sim_a", "doc_b", "sim_b").distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact n-gram Jaccard similar pairs via inverted-index self-join on
    * shingles — intersection counts come from the join, never a cross
    * join. At 100 TB the candidate set comes from lshDedupPairs instead,
    * and high-document-frequency shingles (stop-shingles) get dropped
    * before the join to cap the join fan-out; see shingleDfCapped.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.3): DataFrame = {
    val sh = shingles(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard", col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Distinct tokens, per-doc token counts, and the lossless df-ranked
    * threshold prefix — ONE definition for the PPJoin-style prefix
    * filters: the integer ceil bound `n - ceil(t*n) + 1` (spelled
    * `($tNum*n + tDen-1) DIV tDen`) is correctness-critical for the
    * lossless-prefix proofs both consumers cite and must never fork. */
  private def dfRankedPrefix(docs: DataFrame, tNum: Int, tDen: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val tok = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .distinct()
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val df = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("tok").asc)
    val prefix = tok.join(df, Seq("tok"))
      .withColumn("rnk", row_number().over(w))
      .join(sizes, Seq("doc_id"))
      .filter(col("rnk") <= col("n") - expr(s"($tNum * n + ${tDen - 1}) DIV $tDen") + 1)
      .select(col("doc_id"), col("tok"))
    (tok, sizes, prefix)
  }

  /** EXACT token-set similarity self-join with PPJoin-style prefix
    * filtering (Chaudhuri et al. ICDE 2006; Xiao et al. WWW 2008) — the
    * exact-at-scale complement to the LSH family: where banding trades
    * recall for candidate volume, prefix filtering is LOSSLESS. Order
    * each document's distinct tokens by global rarity (df asc, token
    * asc); two documents with Jaccard ≥ tNum/tDen MUST share a token in
    * their first n − ceil(t·n) + 1 rarest tokens, so candidate pairs
    * come from an equi-join on prefix tokens only — the common tokens
    * that explode an unfiltered inverted-index join never enter a
    * prefix (a token in many prefixes is by definition rare).
    *
    * The threshold is a RATIONAL tNum/tDen and every pruning decision is
    * integer arithmetic — prefix length via ceil(t·n) = (tNum·n + tDen−1)
    * DIV tDen, the final test via tDen·inter ≥ tNum·(n_a + n_b − inter) —
    * so no float rounding can shift a boundary pair in either engine (an
    * IEEE ceil(0.6·n) can overshoot an exact multiple and silently
    * shorten the prefix below the correctness bound). The jaccard column
    * itself is the one double, computed by the identical division both
    * sides.
    *
    * Scale shape: token df is one aggregate; the per-doc rarity rank is
    * a window keyed by doc; candidates join on the prefix token and
    * dedupe; verification is one inverted-index intersection count over
    * candidate pairs only. Skew-safe by construction — high-df tokens
    * never generate candidates.
    */
  def prefixJaccardPairs(docs: DataFrame, tNum: Int = 3, tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")
    val (tok, sizes, prefix) = dfRankedPrefix(docs, tNum, tDen)
    val cand = prefix.select(col("doc_id").as("doc_a"), col("tok"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("tok")), Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val interCount = cand
      .join(tok.select(col("doc_id").as("doc_a"), col("tok")), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    interCount
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .filter(lit(tDen) * col("inter") >= lit(tNum) * (col("n_a") + col("n_b") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("inter"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
          .as("jaccard"))
  }

  /** Asymmetric CONTAINMENT near-dup pairs: (doc_a, doc_b) where at
    * least tNum/tDen of doc_a's distinct tokens also occur in doc_b —
    * containment |A∩B| / |A|, the quote/excerpt/boilerplate-wrap
    * detector symmetric Jaccard ([[prefixJaccardPairs]]) is blind to: a
    * paragraph quoted inside a 100× larger page has Jaccard ≈ 0.01 but
    * containment ≈ 1.0. Ordered pairs, doc_a the contained side.
    *
    * Prefix filtering adapts to the asymmetry: only the CONTAINED side
    * can be prefix-pruned. If |A∩B| ≥ ceil(t·|A|), then A's rarest
    * |A| − ceil(t·|A|) + 1 tokens (global df asc, token asc) must hit B
    * — were they all missing, the overlap could be at most
    * ceil(t·|A|) − 1. So candidates come from A-prefix tokens joined
    * against B's FULL token set, and the verification count runs over
    * candidates only. Same integer-exact threshold discipline as
    * [[prefixJaccardPairs]]: prefix length and the final test
    * (tDen·inter ≥ tNum·n_a) are pure integer arithmetic; the
    * containment column is the one double, the identical division in
    * both engines.
    *
    * Scale: the candidate join is still rarity-bounded on the contained
    * side (a token in many prefixes is globally rare), but the container
    * side contributes its full posting list — on corpora with huge
    * common-token posting lists, shrink tDen−tNum (raise the threshold)
    * or pre-drop ubiquitous tokens; df is already computed for the
    * ranking, so a df cap is one extra filter.
    */
  def containmentPairs(docs: DataFrame, tNum: Int = 9, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")
    val (tok, sizes, prefix) = dfRankedPrefix(docs, tNum, tDen)
    val cand = prefix.select(col("doc_id").as("doc_a"), col("tok"))
      .join(tok.select(col("doc_id").as("doc_b"), col("tok")), Seq("tok"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val interCount = cand
      .join(tok.select(col("doc_id").as("doc_a"), col("tok")), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    interCount
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .filter(lit(tDen) * col("inter") >= lit(tNum) * col("n_a"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("inter"),
        (col("inter").cast("double") / col("n_a").cast("double")).as("containment"))
  }

  /** IDF-WEIGHTED set-similarity join: weighted Jaccard with each token
    * weighted by rarity — w(tok) = 10⁹ DIV df(tok) — so two documents
    * sharing "spark catalyst codegen" are near-dups while two sharing
    * "the and of" are not; the TF-IDF-weighted near-dup criterion used
    * where unweighted Jaccard is swamped by boilerplate vocabulary.
    * EXACT like [[prefixJaccardPairs]], via the weighted prefix filter
    * (Chaudhuri et al. 2006's generalization): tokens sort by one global
    * order (weight desc, token asc); a document's prefix is the minimal
    * head whose remaining tail weighs < t·W_doc. For a qualifying pair,
    * the globally-first SHARED token provably lies in BOTH prefixes (all
    * shared tokens sort at-or-after it, so if it sat in either tail that
    * tail would weigh ≥ t·W ≥ the required overlap) — so a
    * prefix×prefix equi-join is lossless.
    *
    * Everything that decides membership is integer arithmetic: weights
    * are integer quanta, prefix membership is tDen·tail ≥ tNum·W on
    * BIGINT cumulative sums, the final test is
    * tDen·inter_w ≥ tNum·(W_a + W_b − inter_w). The `wjaccard` column is
    * the one double — the identical division in both engines.
    *
    * Scale: prefix tokens are the globally rare ones (heavy weight), so
    * hot posting lists never generate candidates — the same skew-safety
    * argument as the unweighted prefix filter, strengthened because
    * common tokens carry negligible weight and fall out of prefixes
    * even faster.
    */
  def weightedJaccardPairs(docs: DataFrame, tNum: Int = 7, tDen: Int = 10,
      quantum: Long = 1000000000L): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")
    val tok = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .distinct()
    val df = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val wtok = tok.join(df, Seq("tok"))
      .select(col("doc_id"), col("tok"), expr(s"${quantum}L DIV df").as("w"))
    val totals = wtok.groupBy("doc_id").agg(sum(col("w")).as("wtot"))
    // Inclusive running weight in the global (w desc, tok asc) order;
    // a token stays in the prefix while the tail INCLUDING it weighs
    // >= t * W (the first token past that line is the last one a
    // qualifying pair can be forced to share).
    val cumW = Window.partitionBy(col("doc_id"))
      .orderBy(col("w").desc, col("tok").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefix = wtok
      .withColumn("cum", sum(col("w")).over(cumW))
      .join(totals, Seq("doc_id"))
      .filter(lit(tDen) * (col("wtot") - col("cum") + col("w")) >= lit(tNum) * col("wtot"))
      .select(col("doc_id"), col("tok"))
    val cand = prefix.select(col("doc_id").as("doc_a"), col("tok"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("tok")), Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val interW = cand
      .join(wtok.select(col("doc_id").as("doc_a"), col("tok")), Seq("doc_a"))
      .join(wtok.select(col("doc_id").as("doc_b"), col("tok"), col("w")),
        Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b").agg(sum(col("w")).as("inter_w"))
    interW
      .join(totals.select(col("doc_id").as("doc_a"), col("wtot").as("w_a")), Seq("doc_a"))
      .join(totals.select(col("doc_id").as("doc_b"), col("wtot").as("w_b")), Seq("doc_b"))
      .filter(lit(tDen) * col("inter_w") >= lit(tNum) * (col("w_a") + col("w_b") - col("inter_w")))
      .select(col("doc_a"), col("doc_b"), col("w_a"), col("w_b"), col("inter_w"),
        (col("inter_w").cast("double")
          / (col("w_a") + col("w_b") - col("inter_w")).cast("double")).as("wjaccard"))
  }

  /** Dedup RETENTION POLICY: for every near-dup cluster keep the
    * highest-quality document, not the lowest id — [[duplicateClusters]]
    * answers "what is duplicated", this answers the question a training
    * pipeline actually acts on: "which copy survives". Quality is
    * [[TextAnalysis.qualityScoreExpr]] (the x02-gated expression, so the
    * ordering is cross-engine deterministic bit-for-bit), ties break to
    * the smaller doc_id; singleton clusters keep themselves. Returns
    * every document with its cluster, score, and `kept` flag, so the
    * drop set and the survivor set are both one filter away.
    *
    * Scale shape: clustering is the bounded star-contraction loop; the
    * score is one projection; the winner is one per-cluster window over
    * the labeled corpus — no join back to pair-space.
    */
  def keepBestPerCluster(docs: DataFrame, threshold: Double = 0.3): DataFrame = {
    val scored = docs.withColumn("quality_score", TextAnalysis.qualityScoreExpr)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    duplicateClusters(docs, threshold).select(col("doc_id"), col("cluster"))
      .join(scored, Seq("doc_id"))
      .withColumn("kept", row_number().over(w) === 1)
      .select("doc_id", "cluster", "quality_score", "kept")
  }

  /** Effective (dedup-discounted) token mass per source — the honest
    * dataset-size KPI (Lee et al. 2022's motivation quantified): each
    * document's tokens count 1/cluster_size, so a template replicated
    * 40× contributes one copy's worth of signal, not 40. raw_tokens vs
    * effective_tokens is the number a data buyer actually cares about.
    * Per-doc discount rides a 1e-6 integer grid (n_tokens·10^6 DIV
    * cluster_size) so the per-source sums are exact and order-free.
    */
  def effectiveTokens(docs: DataFrame, threshold: Double = 0.3): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val clusters = duplicateClusters(docs, threshold).select("doc_id", "cluster")
    val csize = clusters.groupBy("cluster").agg(count(lit(1)).as("csz"))
    toks.join(clusters, Seq("doc_id"))
      .join(csize, Seq("cluster"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(expr("n_tokens * 1000000 DIV csz")).as("eff_tokens_fp"))
      .select(col("source"), col("n_docs"), col("raw_tokens"), col("eff_tokens_fp"),
        (col("eff_tokens_fp").cast("double") / lit(1e6)).as("effective_tokens"))
  }

  /** MinHash calibration curve — the sketch-quality evaluation the x89
    * ANN-recall gate performs for hyperplane LSH, done for MinHash: for
    * every banded candidate pair, the estimated Jaccard (matching
    * positions out of [[MinHashK]]) is bucketed against the EXACT
    * shingle-set Jaccard, yielding mean-exact-per-estimate — the curve
    * that tells an operator whether k=16 signatures are enough for
    * their corpus before they trust the sketch at 100 TB. Exact values
    * ride a 1e-9 fixed-point BIGINT grid so the per-bucket sum is
    * order-free and a serial oracle replays the distributed aggregation
    * bit-for-bit.
    *
    * Shape: the signature pass and banded candidate join are the
    * lshDedupPairs plan; the calibration adds one posting-list
    * intersection and one small aggregate keyed on the 17 possible
    * match counts. At production scale pass the hot-bucket cap through
    * exactly as x66 does; uncapped here so the curve sees every
    * candidate the sketch generates.
    */
  def minhashCalibration(docs: DataFrame): DataFrame = {
    // The signature math and the banded candidate join are the SHARED
    // kernels (rawSignatures / bandedCandidates through the signature
    // cache) — the calibration measures the exact sketch it would
    // otherwise silently drift from, and the candidate join reuses the
    // cached band frame instead of a third signature pass.
    val sigs = rawSignatures(docs)
    val cand = bandedCandidates(docs)

    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (0 until MinHashK).map(j => col(s"mh$j").as(s"a$j")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (0 until MinHashK).map(j => col(s"mh$j").as(s"b$j")): _*)
    val est = (0 until MinHashK)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)

    // Exact Jaccard per candidate via the SAME per-doc shingle-set frame
    // the lshDedupPairs verify path reads (setCache — one memoized
    // collect_set shared with the dedup family). Round-18: the previous
    // calibration-private inverted index exploded every candidate pair by
    // its shingle count (a candidates×shingles shuffle + re-aggregate)
    // and then joined per-doc sizes back on BOTH sides; the set frame
    // carries its size as size(sh) and array_intersect counts the same
    // distinct common shingles, so jaccard_fp is bit-identical with four
    // fewer corpus-grain joins and no pair×shingle intermediate.
    val sets = shingleSets(docs)

    cand
      // Same verify-parallelism spread as lshDedupPairsUncached (the
      // broadcast-joined intersect runs in cand's partitioning, which
      // cached-plan AQE coalesces by bytes).
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_a"))
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .select(est.as("est_matches"),
        expr("(1000000000L * i) div (size(sh_a) + size(sh_b) - i)").as("jaccard_fp"))
      .groupBy(col("est_matches"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("jaccard_fp")).as("sum_jaccard_fp"))
      .withColumn("mean_jaccard",
        col("sum_jaccard_fp").cast("double") / col("n_pairs").cast("double") / lit(1.0e9))
  }

  /** Exact >= tNum/tDen-Jaccard ground-truth pairs over a corpus's
    * distinct shingles — ONE definition shared by the exact and sampled
    * blocking evaluators: the SketchGovernanceSpec law pins the sampled
    * estimator against the exact one, which is only meaningful while
    * both compute the IDENTICAL truth predicate. Cost is the uncapped
    * common-shingle self-join — gate/evaluation only, never a
    * production path. */
  private def trueJaccardPairs(corpus: DataFrame, tNum: Int,
      tDen: Int): DataFrame = {
    val sh = shingles(corpus)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(col("inter") * tDen >= (col("na") + col("nb") - col("inter")) * tNum)
      .select("doc_a", "doc_b")
  }

  /** Blocking-quality evaluation of the MinHash LSH band scheme
    * (Christen 2012's record-linkage metrics): against ground truth =
    * every pair with exact shingle Jaccard ≥ tNum/tDen,
    *
    *  - pairs completeness (recall of the blocking): what fraction of
    *    true pairs the banded candidate set surfaces at all — the bound
    *    on any downstream dedup's recall;
    *  - reduction ratio: what fraction of the n·(n−1)/2 comparison space
    *    the blocking never generates — the whole reason LSH exists.
    *
    * The complement of [[minhashCalibration]]: that curve judges the
    * ESTIMATOR on surfaced candidates; this judges the CANDIDATE SET
    * against what it never surfaced. Ground truth comes from the
    * common-shingle join (exact for any threshold > 0, since a true pair
    * shares a shingle by definition) — the same exact-verify machinery
    * the x86/x98/x102 family runs, not an n² cross join. Counts are
    * exact BIGINTs; the two ratios are single double expressions.
    * Threshold is a rational (integer cross-multiply), never a float
    * compare.
    */
  def blockingQuality(docs: DataFrame, tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"need 0 < tNum <= tDen, got $tNum/$tDen")
    val truePairs = trueJaccardPairs(docs, tNum, tDen)
    val cand = bandedCandidates(docs)
    val caught = truePairs.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      .crossJoin(truePairs.agg(count(lit(1)).as("n_true")))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
      .select(col("n_docs"), col("n_true"), col("n_cand"), col("n_caught"),
        when(col("n_true") > 0,
          col("n_caught").cast("double") / col("n_true").cast("double"))
          .as("pairs_completeness"),
        when(col("n_docs") > 1,
          lit(1.0) - (col("n_cand").cast("double") * lit(2.0))
            / (col("n_docs").cast("double") * (col("n_docs") - 1).cast("double")))
          .as("reduction_ratio"))
  }

  /** Sampled-truth blocking-quality estimate — the BOUNDED-cost sibling
    * of [[blockingQuality]] (round-10 directive). The exact evaluator's
    * cost IS its uncapped common-shingle ground truth, which makes it
    * the single most contention-sensitive query in the bench; this
    * variant estimates the same pairs-completeness metric from a
    * deterministic md5 document sample with a FIXED BUDGET:
    *
    *  - the sample is the `perSourceCap` documents per source with the
    *    smallest (hash32("bqs_" ‖ doc_id), doc_id) rank — engine-
    *    portable, seedless, stratified across sources, and (the scale
    *    property) of BOUNDED SIZE no matter how large the corpus: a
    *    fixed-RATE sample (the first cut, 1/4 of docs by hash mod)
    *    still inherits the exact evaluator's quadratic growth under
    *    duplication — its own scale probe measured exponent 1.22 at
    *    10×, because posting lists inside the sample keep growing with
    *    the corpus. A fixed-SIZE sample pins the evaluation budget:
    *    the probe re-measured ~0 afterwards. The rank window is
    *    partitioned per source (bounded grain, never global);
    *  - when the budget covers the corpus (≤ cap docs/source), the
    *    sample IS the corpus and the estimator degenerates to the exact
    *    evaluator — pinned as a law in SketchGovernanceSpec;
    *  - EVERYTHING downstream runs on the sample: exact ground truth
    *    (common-shingle join + Jaccard ≥ tNum/tDen) among sampled
    *    documents — pair volume and posting lists bounded by the fixed
    *    budget — AND the banded candidate set over
    *    the sampled docs. Candidate membership of a sampled pair is a
    *    pure function of the two docs' OWN MinHash signatures (no
    *    corpus dependence), so caught/missed for sampled true pairs is
    *    bit-identical to what the full evaluator would decide — only
    *    the POPULATION of judged pairs is sampled, not the judgment.
    *    (A first cut kept the full-corpus candidate side for an exact
    *    reduction ratio; measurement showed that uncapped full-corpus
    *    candidate join WAS the dominant cost, so it defeated the point.)
    *  - completeness_est = caught-in-sample / true-in-sample, with a
    *    95% WILSON SCORE interval (Wilson 1927) quantifying what the
    *    sampling bought away. Wilson, not the Wald normal
    *    approximation (round-12 fix): Wald degenerates to a zero-width
    *    interval claiming certainty exactly where the estimate is
    *    weakest — p̂ ∈ {0, 1} or tiny n_true_s — while Wilson stays
    *    non-degenerate (at p̂ = 1 its upper bound is exactly 1 and the
    *    lower bound is 1/(1+z²/n) < 1). Both bounds are single
    *    sqrt/div/mul IEEE chains over exact BIGINTs, so both engines
    *    agree bit-for-bit. Since md5 is uncorrelated with the band
    *    scheme's md5 keys (different prefixes), sampled true pairs are
    *    an unbiased draw of true pairs for the caught/missed property.
    *    Coverage caveat (round-12, on advice): the sampling unit is
    *    the DOCUMENT, not the pair — true pairs sharing a sampled doc
    *    are correlated draws (cluster sampling), so the nominal 95% is
    *    exact only under pair-independence; with clustered duplicates
    *    the interval can undercover. The point estimate stays unbiased
    *    either way; treat the CI as a calibrated-under-independence
    *    error band, not a guarantee (a doc-level jackknife would price
    *    the clustering at ~2× the aggregate passes — not worth it for
    *    a diagnostic whose law contract is CI-contains-exact, which
    *    SketchGovernanceSpec pins empirically).
    *  - reduction_ratio_est is the reduction ratio measured on the
    *    sampled pair space (1 − 2·n_cand_s/(n_s·(n_s−1))) — a consistent
    *    estimator of the full ratio (both numerator and denominator
    *    scale by the same pair-sampling rate in expectation).
    *
    * All counts are exact BIGINTs; the estimate and CI are single
    * IEEE expressions over them (sqrt is correctly rounded, so both
    * engines agree bit-for-bit). The exact evaluator remains the
    * oracle-gated ground-truth diagnostic (bench=false, timed in
    * bench_diag.json); SketchGovernanceSpec's contract test pins the
    * exact completeness inside this estimator's CI — and the estimated
    * reduction ratio against the exact one — on the sf0.001 corpus.
    */
  def blockingQualitySampled(docs: DataFrame, perSourceCap: Int = 64,
      tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(perSourceCap >= 1, s"perSourceCap must be >= 1, got $perSourceCap")
    require(tNum > 0 && tDen >= tNum, s"need 0 < tNum <= tDen, got $tNum/$tDen")
    val sampleKey =
      conv(substring(md5(concat(lit("bqs_"), col("doc_id").cast("string"))
        .cast("binary")), 1, 8), 16, 10).cast("long")
    // NOT checkpointed, deliberately (round-18): the three consumers do
    // re-run this cheap corpus scan + sample window, but an eager
    // checkpoint would erase the window from the returned plan — and the
    // per-source partitioning of THIS window is exactly what PlanSpec
    // pins against the single-task global-rank funnel.
    val sampled = docs
      .withColumn("_srn", row_number().over(
        Window.partitionBy("source").orderBy(sampleKey, col("doc_id"))))
      .filter(col("_srn") <= perSourceCap)
      .drop("_srn")
    val truePairs = trueJaccardPairs(sampled, tNum, tDen)
    // The candidate pair set feeds two consumers (its count and the
    // caught left join) on different shapes; it is tiny (sampled-pair
    // candidates), so eager-materialize it once instead of re-running
    // the band self-join per consumer. Truth is consumed ONCE: the
    // caught flag rides a left join so n_true_s and n_caught_s come
    // from the same aggregate (this query is latency-bound at bench
    // scale — fewer distinct subtrees is the optimization).
    val cand = bandedCandidates(sampled).localCheckpoint()
    val truthStats = truePairs
      .join(cand.withColumn("_c", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_true_s"),
        coalesce(sum(col("_c")), lit(0L)).as("n_caught_s"))
    // Wilson score bounds, z = 1.96 (z² carried as the shared decimal
    // literal 3.8416 so both engines round the same constant): center
    // (p̂ + z²/2n)/(1 + z²/n), half-width z·√(p̂(1−p̂)/n + z²/4n²)/(1 +
    // z²/n). Left-associative mul/div chains mirror the oracle SQL
    // token-for-token — the IEEE-identical-chain contract. The bounds
    // clamp to CONTAIN p̂ (Wilson guarantees p̂ ∈ [lo, hi] in exact
    // arithmetic, but at p̂ = 1 the FP sum center + hw rounds to
    // 1 − 1ulp, excluding the point estimate — measured) and then to
    // [0, 1].
    val n = col("n_true_s").cast("double")
    val p = col("n_caught_s").cast("double") / n
    val z2 = lit(3.8416)
    val denom = lit(1.0) + z2 / n
    val center = (p + z2 / (lit(2.0) * n)) / denom
    val hw = lit(1.96) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n)) / denom
    docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      .crossJoin(sampled.agg(countDistinct(col("doc_id")).as("n_docs_sampled")))
      .crossJoin(truthStats)
      .crossJoin(cand.agg(count(lit(1)).as("n_cand_s")))
      .select(col("n_docs"), col("n_docs_sampled"), col("n_true_s"),
        col("n_cand_s"), col("n_caught_s"),
        when(col("n_true_s") > 0, p).as("completeness_est"),
        when(col("n_true_s") > 0, greatest(least(center - hw, p), lit(0.0)))
          .as("ci95_low"),
        when(col("n_true_s") > 0, least(greatest(center + hw, p), lit(1.0)))
          .as("ci95_high"),
        when(col("n_docs_sampled") > 1,
          lit(1.0) - (col("n_cand_s").cast("double") * lit(2.0))
            / (col("n_docs_sampled").cast("double")
              * (col("n_docs_sampled") - 1).cast("double")))
          .as("reduction_ratio_est"))
  }

  /** Exact-substring removal (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — the ExactSubstr dedup): every
    * occurrence of a duplicated `gramLen`-token span, EXCEPT the
    * globally first one, is removed from its document. x72 measures
    * this duplication; this operator performs the edit. Semantics:
    *
    *   1. gram occurrences: (doc, pos) for every word `gramLen`-gram;
    *   2. global first occurrence per gram = the (min doc_id, then min
    *      pos within that doc) pair — ONE `min(struct(doc_id, pos))`
    *      aggregate (lexicographic struct min = lowest doc, then its
    *      lowest pos; round 18). The struct min also sidesteps the
    *      BIGINT-overflow trap of a packed doc·2²⁰+pos key for large
    *      doc ids (the 2⁴⁰-stride scale-probe replicas found exactly
    *      that overflow in an earlier spelling);
    *   3. every NON-first occurrence of a gram seen ≥ 2 times marks its
    *      token span [pos, pos+gramLen−1] for removal;
    *   4. overlapping marked spans merge per doc (gaps-and-islands over
    *      a per-doc window);
    *   5. surviving tokens = those not covered by any merged span,
    *      found by a sweep line: span boundaries (+1 at start, −1 at
    *      end+1) union token rows, one per-doc running sum, keep tokens
    *      at coverage 0. The sweep replaces a token×span containment
    *      join, which would go quadratic on a heavily-duplicated doc
    *      (n tokens × n/2L merged spans); the sweep is linear.
    *
    * Output per document: token counts before/kept/removed, merged span
    * count, md5 of the space-joined surviving tokens (the cleaned
    * text's fingerprint — both engines rebuild it in position order),
    * and a `skipped` flag. A fully-duplicated document cleans to zero
    * tokens (NULL hash); the first document containing a span always
    * keeps it.
    *
    * Per-document accounting contract: EVERY input document appears in
    * the output exactly once. Documents of `maxDocTokens` tokens or
    * more are not edited — the per-document windows (island merge,
    * sweep line) funnel a document's full token stream through one
    * task, so an unbounded document would be an unbounded task — and
    * instead PASS THROUGH unedited with `skipped = true`, n_kept =
    * n_tokens, n_removed = 0, n_spans = 0, and a NULL cleaned_hash
    * (fingerprinting the untouched text would itself be the unbounded
    * per-doc task the cap exists to avoid; skipped=true disambiguates
    * from the fully-removed NULL). Their content still COUNTS as
    * duplication evidence — grams are scanned from every document, so
    * a span shared between a giant doc and a normal one is removed
    * from the normal one (the gram scan is per-doc linear streaming
    * work; only the sort-window edit needs the cap). Before round 12
    * such documents were silently DROPPED — the same
    * silent-disappearance class the x210 sub-frame fix closed. A
    * caller who must edit giant documents shards them upstream (Lee et
    * al. operate on a concatenated corpus string, where document
    * boundaries are free to re-draw).
    *
    * Scale shape: gram explode (linear scan) → one keyed min/count
    * aggregate on the gram → one join back on the gram (hot grams give
    * row-LINEAR marked output, never pairs — this operator has no
    * quadratic path at all, unlike pair-based dedup) → per-doc windows
    * bounded by `maxDocTokens`.
    */
  def exactSubstringRemoval(docs: DataFrame, gramLen: Int = 8,
      maxDocTokens: Int = 1 << 20): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    require(maxDocTokens > gramLen, s"maxDocTokens must exceed gramLen, got $maxDocTokens")
    // One tokenize scan and one gram explode+md5 scan for the whole
    // operator: the checkpointed token table feeds the gram scan, the
    // sweep, AND the giant-doc branch (previously three independent
    // lineages each re-tokenized the corpus — round-12 review), and the
    // checkpointed gram table feeds its three consumers (ownership agg,
    // first-position agg, mark join) without re-exploding per consumer
    // (measured: x213 median 4.4 -> 3.5 s at sf0.1). Both are the same
    // corpus-scale-materialization trade a shuffle write already makes;
    // a cluster deployment would use reliable checkpoint() instead. No
    // eager release point exists (the returned lazy frame reads these
    // blocks), so they free via GC like the memo caches.
    val tl0 = tokenLengths(docs).localCheckpoint()
    val tl = tl0.filter(col("n") < maxDocTokens)
    // Evidence comes from ALL docs (tl0), including giants: a boilerplate
    // span whose only other copy lives in a 2M-token log dump is still a
    // duplicate, and Lee et al.'s semantics remove the normal doc's copy.
    // (Before round 12 grams came from tl, so giant docs' content
    // silently stopped counting as duplication evidence.) The gram scan
    // is per-doc LINEAR streaming work — explode + md5, no sort, no
    // buffering — so a giant doc costs one long-running task, not an
    // unbounded-memory one; only the EDIT below (per-doc sort windows)
    // is restricted to sub-cap docs.
    val grams = gramOccurrences(tl0, gramLen).localCheckpoint()
    // ONE aggregate yields the first owner AND its first position:
    // min(struct(doc_id, pos)) is the lexicographic minimum — the lowest
    // doc_id, then the lowest pos within that doc — exactly the
    // (fdoc, fpos) pair the former two-step (owner agg, then a
    // grams⋈owner join + second agg) computed, at the cost of one gram-
    // table pass instead of two plus a join (round-18; the gram table is
    // the corpus-scale frame here).
    val owner = grams.groupBy("g").agg(
      min(struct(col("doc_id"), col("pos"))).as("f"), count(lit(1)).as("occ"))
      .select(col("g"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"),
        col("occ"))
    val marked = grams.join(owner, Seq("g"))
      .filter(col("occ") >= 2 && col("n") < maxDocTokens &&
        !(col("doc_id") === col("fdoc") && col("pos") === col("fpos")))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + (gramLen - 1)).as("e"))
    applySpanRemoval(tl, marked)
      .withColumn("skipped", lit(false))
      .unionByName(tl0.filter(col("n") >= maxDocTokens)
        .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          col("n").cast("long").as("n_kept"), lit(0L).as("n_removed"),
          lit(0L).as("n_spans"), lit(null).cast("string").as("cleaned_hash"),
          lit(true).as("skipped")))
  }

  /** (doc_id, ts, n): tokenized documents with token counts — the shared
    * head of the ExactSubstr operators (batch x213 and the streaming
    * ingest screen). */
  private[graft] def tokenLengths(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).as("n"))

  /** (doc_id, pos, g, n): every word `gramLen`-gram occurrence, keyed by
    * the md5 of the space-joined gram, carrying the source doc's token
    * count `n` (one long per row — lets the edit step filter giant docs
    * without a join back) — [[exactSubstringRemoval]]'s scan, shared
    * with the streaming gram index. */
  private[graft] def gramOccurrences(tl: DataFrame, gramLen: Int): DataFrame =
    tl.filter(col("n") >= gramLen)
      .select(col("doc_id"),
        explode(sequence(lit(1), col("n") - (gramLen - 1))).as("pos"),
        col("ts"), col("n"))
      .select(col("doc_id"), col("pos"),
        md5(array_join(slice(col("ts"), col("pos"), lit(gramLen)), " ")
          .cast("binary")).as("g"), col("n"))

  /** Steps 4–5 of [[exactSubstringRemoval]] — merge the marked spans
    * (doc_id, s, e) per doc and sweep out covered tokens of `tl`
    * (doc_id, ts, n) — shared verbatim by the streaming twin so the
    * batch-equivalence anchor compares the SAME edit machinery under
    * two ownership sources. Returns one row per `tl` doc:
    * (doc_id, n_tokens, n_kept, n_removed, n_spans, cleaned_hash). */
  private[graft] def applySpanRemoval(tl: DataFrame, marked: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("s", "e")
    val islands = marked
      .withColumn("maxe",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("maxe").isNull || col("s") > col("maxe"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val bounds = islands
      .select(col("doc_id"), col("s").as("pos"), lit(0).as("typ"),
        lit(1L).as("delta"), lit(null).cast("string").as("tok"))
      .unionByName(islands.select(col("doc_id"), (col("e") + 1).as("pos"),
        lit(0).as("typ"), lit(-1L).as("delta"), lit(null).cast("string").as("tok")))
    val tokRows = tl
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), lit(1).as("typ"),
        lit(0L).as("delta"), col("tok"))
    val sw = Window.partitionBy("doc_id").orderBy("pos", "typ")
    val kept = bounds.unionByName(tokRows)
      .withColumn("cov",
        sum(col("delta")).over(sw.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("typ") === 1 && col("cov") === 0L)
    val keptAgg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      md5(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").cast("binary")).as("cleaned_hash"))
    val spanAgg = islands.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    tl.select(col("doc_id"), col("n").cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .join(spanAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        col("cleaned_hash"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
    * algorithm): over each document's word `gramLen`-gram hash sequence,
    * every `window` consecutive grams elect their minimum hash (ties →
    * rightmost position, the paper's rule), and the distinct elected
    * hashes are the document's fingerprints. The guarantee that makes
    * this the robust upgrade of x04's single-min fingerprint: any shared
    * substring of at least `window + gramLen − 1` tokens elects at least
    * one COMMON fingerprint in both documents, while expected density
    * stays ~2/(window+1) — position-local, insertion-tolerant, and far
    * smaller than the full shingle set.
    *
    * Cross-engine trick: (min hash, rightmost tie) is ONE integer
    * `min()` over the encoded key h·2²⁰ + (2²⁰−1−pos) — no struct
    * ordering semantics to align between engines, just BIGINT min over a
    * sliding window frame, which both execute identically. Docs with
    * fewer than `window` grams have no full window and drop out (the
    * paper's domain).
    *
    * Giant-doc contract (round 12): the key encoding bounds positions
    * to < 2²⁰, so a document's fingerprints are elected from its FIRST
    * `maxGrams` grams (default and ceiling 2²⁰−1) — a prefix cap, not
    * a drop. A ≥2²⁰-gram document (book, log dump) still emits prefix
    * fingerprints and still pairs in [[winnowedPairs]]; before round
    * 12 it silently produced NO fingerprints and so silently escaped
    * winnowing dedup entirely (the x213/x210 silent-disappearance
    * class). The prefix is the honest bounded approximation: winnowing
    * is a SAMPLED fingerprint scheme by design, and a 1M-token prefix
    * is ample pairing evidence. The prefix LAW (pinned in
    * SketchGovernanceSpec at a tiny cap): capped fingerprints of a doc
    * equal the fingerprints of the doc truncated to its first
    * `maxGrams + gramLen − 1` tokens.
    *
    * Scale shape: one explode (the gram scan), one windowed min
    * partitioned by doc (no global sort), one distinct — then pair
    * generation is a posting-list equi-join on the fingerprint hash, the
    * same banded-candidate discipline as MinHash (never all-pairs).
    */
  def winnowedFingerprints(docs: DataFrame, gramLen: Int = 5,
      window: Int = 4, maxGrams: Int = 1048575): DataFrame = {
    require(gramLen >= 2 && window >= 2, s"need gramLen>=2, window>=2; got $gramLen, $window")
    require(maxGrams >= window && maxGrams <= 1048575,
      s"maxGrams must be in [window, 2^20-1], got $maxGrams")
    val grams = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"),
        least(size(col("ts")) - (gramLen - 1), lit(maxGrams)).as("g"))
      .filter(col("g") >= window)
      .select(col("doc_id"), col("g"),
        explode(sequence(lit(1), col("g"))).as("pos"), col("ts"))
      .select(col("doc_id"), col("g"), col("pos"),
        conv(substring(md5(array_join(slice(col("ts"), col("pos"), lit(gramLen)), " ")
          .cast("binary")), 1, 8), 16, 10).cast("long").as("h"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, window - 1)
    grams
      .select(col("doc_id"), col("g"), col("pos"),
        (col("h") * lit(1048576L) + (lit(1048575L) - col("pos"))).as("k"))
      .withColumn("sel", min(col("k")).over(w))
      .filter(col("pos") <= col("g") - (window - 1))
      .select(col("doc_id"), expr("sel div 1048576").as("h"),
        (lit(1048575L) - expr("sel % 1048576")).as("fp_pos"))
      .distinct()
  }

  /** Near-dup candidate pairs from shared winnowed fingerprints: document
    * pairs electing at least `minShared` common fingerprints, with the
    * shared count as evidence weight. */
  def winnowedPairs(docs: DataFrame, minShared: Long = 2,
      postingCap: Int = 0): DataFrame = {
    val raw = winnowedFingerprints(docs).select("doc_id", "h").distinct()
    // Hot-key guard, the bandedCandidates bucketCap discipline: a
    // boilerplate span shared by m documents elects the same
    // fingerprint in all of them and the posting-list self-join emits
    // m²/2 rows. postingCap drops fingerprints wider than the cap
    // (losing a hot fingerprint's pairs only loses boilerplate
    // evidence, never corrupts a verdict) — the switch a 100 TB run
    // flips; 0 = uncapped, the gate's exact-oracle setting.
    val fp =
      if (postingCap <= 0) raw
      else raw
        .withColumn("_w", count(lit(1)).over(Window.partitionBy("h")))
        .filter(col("_w") <= postingCap)
        .drop("_w")
    fp.select(col("doc_id").as("doc_a"), col("h"))
      .join(fp.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Edit-distance self-join over a fixed-length document key (here the
    * first `keyLen` chars of the text): all pairs within Levenshtein
    * distance ≤ `maxDist`, found WITHOUT the O(n²) cross join via the
    * pigeonhole segment scheme of PassJoin (Li, Deng, Jiang, Feng 2011,
    * "PASS-JOIN: A Partition-based Method for Similarity Joins"):
    * partition each key into `maxDist`+1 contiguous segments — any pair
    * within distance d shares at least one segment VERBATIM (≤ d edits
    * cannot touch all d+1 segments), and an untouched segment can only
    * shift by the net indel balance of the edits before it, i.e. by at
    * most ±d positions. So the index side emits its d+1 segments and
    * the probe side emits, per segment slot, the substrings at the
    * slot's start ± d — at most (d+1)(2d+1) bounded keys per row — and
    * candidates are one equi-join on (slot, substring). Levenshtein on
    * the candidate set verifies exactly; the filter is lossless by the
    * pigeonhole argument, so the result equals the brute-force join the
    * serial oracle runs.
    *
    * Scale shape: per-row fan-out is a small constant (3 + 15 rows at
    * d=2), the join is a hash equi-join on short strings, and the
    * verify set is |candidates|, not n² — the edit-distance analog of
    * the banded-Jaccard shape used everywhere else in this module.
    */
  def editDistancePairs(docs: DataFrame, keyLen: Int = 24,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val segs = maxDist + 1
    require(keyLen % segs == 0, s"keyLen=$keyLen must divide into ${segs} segments")
    val segLen = keyLen / segs
    val keyed = docs
      .filter(length(col("text")) >= keyLen)
      .select(col("doc_id"), substring(col("text"), 1, keyLen).as("k"))

    val segCols = array((0 until segs).map(i =>
      substring(col("k"), i * segLen + 1, segLen)): _*)
    val idx = keyed.select(col("doc_id").as("a"),
      posexplode(segCols).as(Seq("slot", "sub")))

    val probeCols = for {
      i <- 0 until segs
      d <- -maxDist to maxDist
      start = i * segLen + 1 + d
      if start >= 1 && start + segLen - 1 <= keyLen
    } yield struct(lit(i).as("slot"), substring(col("k"), start, segLen).as("sub"))
    val probe = keyed.select(col("doc_id").as("b"), explode(array(probeCols: _*)).as("p"))
      .select(col("b"), col("p.slot").as("slot"), col("p.sub").as("sub"))

    val cand = idx.join(probe, Seq("slot", "sub"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"))
      .distinct()

    cand
      .join(keyed.select(col("doc_id").as("doc_a"), col("k").as("k_a")), Seq("doc_a"))
      .join(keyed.select(col("doc_id").as("doc_b"), col("k").as("k_b")), Seq("doc_b"))
      // Thresholded levenshtein runs the banded O(d·len) recurrence and
      // returns -1 past the bound — the verify step stays cheap however
      // long the key grows.
      .withColumn("dist", levenshtein(col("k_a"), col("k_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** Blocked sorted-neighborhood near-dup candidates (Hernández &
    * Stolfo 1995's merge/purge, in its scale-safe blocked form): within
    * each (lang, source) block, documents are ordered by (n_chars,
    * doc_id) and each is paired with its next `w` neighbors in that
    * order; candidates are then verified with EXACT distinct-token
    * Jaccard. Complementary blocking geometry to hash banding: banding
    * catches near-dups that agree on a shingle band, sorted-neighborhood
    * catches near-dups that are CLOSE IN AN ORDERING (here: same corpus
    * slice, near-identical length) — the classic cheap pre-filter when
    * a meaningful sort key exists.
    *
    * Scale shape: the window is PARTITIONED by block — no global
    * single-partition sort — and emits ≤ w candidates per row; verify
    * is an aggregate over the candidates' token posting lists only. At
    * cluster scale the block sort is a range-partitioned shuffle per
    * block, and w bounds candidate volume at w·n regardless of skew.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, w: Int = 3,
      tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(w >= 1 && tDen > 0 && tNum >= 0, s"bad parameters w=$w t=$tNum/$tDen")
    val win = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    val base = docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    // ONE window pass computing all w lead columns, then an explode —
    // the per-j union of the first cut re-scanned the projection and
    // re-ran the per-block sort w times for identical output.
    val cand = base
      .select(col("doc_id") +:
        (1 to w).map(j => lead(col("doc_id"), j).over(win).as(s"nbr$j")): _*)
      .select(col("doc_id"),
        explode(array((1 to w).map(j => col(s"nbr$j")): _*)).as("nbr"))
      .filter(col("nbr").isNotNull)
      .select(least(col("doc_id"), col("nbr")).as("doc_a"),
        greatest(col("doc_id"), col("nbr")).as("doc_b"))
      .distinct()

    val tok = docs
      .select(col("doc_id"), explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(tok.select(col("doc_id").as("doc_a"), col("tok")), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      // tNum/tDen ≤ |A∩B| / |A∪B|, integer cross-multiplied: exact, no FP.
      .filter(col("inter") * lit(tDen.toLong) >=
        (col("n_a") + col("n_b") - col("inter")) * lit(tNum.toLong))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("inter"))
  }

  /** Duplicate clusters: connected components over the near-duplicate
    * pair graph — the actionable output of a dedup pipeline ("keep the
    * min-id document of every cluster"). Two-phase star contraction
    * (alternating large-star / small-star, the textbook MapReduce CC
    * algorithm — Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): each round rewires every node toward its neighborhood
    * minimum, contracting components into stars in O(log diameter)
    * rounds versus min-label propagation's O(diameter). Each phase is
    * one per-key window over the (small) edge set; the only driver
    * action per round is the symmetric-difference count for the
    * convergence check.
    *
    * Deterministic: the final label of a component is its minimum doc_id,
    * independent of execution order — which is what lets a recursive-CTE
    * SQL oracle reproduce it.
    */
  def duplicateClusters(docs: DataFrame, threshold: Double = 0.3,
      maxIterations: Int = 20, bucketCap: Int = 0): DataFrame =
    duplicateClustersWithRounds(docs, threshold, maxIterations, bucketCap)._1

  /** [[duplicateClusters]] plus the number of large+small rounds the loop
    * ran — the loop's convergence diagnostic. `bucketCap`
    * passes through to the pair stage (a 100 TB clustering run wants the
    * hot-bucket guard as much as the pair query does; losing a hot
    * bucket's pairs only coarsens components, never corrupts them).
    */
  def duplicateClustersWithRounds(docs: DataFrame, threshold: Double = 0.3,
      maxIterations: Int = 20, bucketCap: Int = 0): (DataFrame, Int) =
    // Memoized like every cheaper intermediate below it (shingles,
    // signatures, pairs): the star-contraction loop runs EAGER Spark
    // jobs per round, so a session running keep-best plus two
    // effective-token queries on one corpus would otherwise execute the
    // whole loop three times. The result frame reads the final round's
    // checkpoint blocks (which stay — the same lifetime the uncached
    // path had); eviction drops the entry (its unpersist is a no-op).
    clusterCache(docs.sparkSession,
        (PlanKeys.fingerprint(docs), threshold, maxIterations, bucketCap)) {
      componentsFromEdges(
        lshDedupPairs(docs, threshold, bucketCap).select("doc_a", "doc_b"),
        docs.select(col("doc_id")), maxIterations)
    }

  private val clusterCache = new graft.ops.Ckpt.Memo[(Long, Double, Int, Int),
    (DataFrame, Int)]("Dedup.clusterCache", _._1)

  /** Generic two-phase large-star/small-star connected components over an
    * undirected edge list (`doc_a`/`doc_b` columns) — the loop behind
    * [[duplicateClusters]], reusable for ANY similarity-pair source
    * (n-gram LSH here, embedding ANN in Similarity.annClusters).
    * `nodes` (one `doc_id` column) supplies the isolated vertices, which
    * label themselves. Returns (doc_id, cluster, is_canonical) and the
    * round count.
    */
  def componentsFromEdges(pairs: DataFrame, nodes: DataFrame,
      maxIterations: Int = 20): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // Invariant orientation: (u, v) with u > v ("point to the smaller").
    // Lineage is truncated each round via localCheckpoint: `sym` embeds
    // the edge plan twice, so chained lazy plans double per round and an
    // O(log n)-round run would OOM the driver on plan strings alone long
    // before data is the problem. (A cluster deployment with a
    // checkpoint dir would use reliable checkpoint() instead.)
    def rows(p: Map[String, Any]): Long = p(graft.ops.Ckpt.Rows).asInstanceOf[Long]
    // The rounds shuffle only the edge set — orders of magnitude smaller
    // than the corpus. Size the loop's shuffle width to the measured edge
    // count (~100k edges per partition, capped at the session width):
    // caching/checkpointing pins plans pre-AQE, so adaptive coalescing
    // never sees these stages, and at toy scale a session-wide shuffle
    // per phase makes the loop scheduling-bound. The width is applied via
    // explicit repartition(width, u) — hash(u) satisfies every downstream
    // per-u window and (u,v) aggregate, so each phase plans exactly one
    // exchange at the chosen width and the session conf is never touched
    // (a conf set/restore would leak to concurrent queries). The count is
    // the one the initial checkpoint's own job returns; round 1 reads it.
    var loopWidth = 1
    val r = graft.ops.Ckpt.iterate(pairs.select(
          greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v")).distinct(),
        Nil, maxIterations,
        // Converged when the edge multiset is unchanged (symmetric
        // difference empty) — one count job via a parity aggregate.
        settled = (edges, smallCk) => smallCk.unionAll(edges)
          .repartition(loopWidth, col("u"))
          .groupBy("u", "v").count()
          .filter(col("count") === 1).count() == 0) { (edges, p, round) =>
      if (round == 1) loopWidth = math.max(1, math.min(
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
        (rows(p) / 100000L + 1L).toInt))
      if (rows(p) == 0) edges // no edges: every node labels itself
      else {
        // Large-star: every node's strictly-larger neighbors attach to the
        // minimum of its neighborhood (including itself).
        val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
          .repartition(loopWidth, col("u"))
        val large = sym
          .withColumn("m", least(col("u"), min(col("v")).over(Window.partitionBy("u"))))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .repartition(loopWidth, col("u"))
          .distinct()
        // Small-star: every node's smaller neighbors (and the node itself)
        // attach to the minimum of that smaller-neighborhood.
        val withMin = large
          .withColumn("m", min(col("v")).over(Window.partitionBy("u")))
        withMin.select(col("v").as("u"), col("m").as("v"))
          .union(withMin.select(col("u"), col("m").as("v")))
          .filter(col("u") =!= col("v"))
          .repartition(loopWidth, col("u"))
          .distinct()
      }
    }
    // At convergence edges are stars (node -> component min); the min-agg
    // also yields the best-known label if maxIterations cut the loop.
    val stars = r.state.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("cluster"))
    val labels = nodes
      .join(stars, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
    (labels, r.rounds)
  }

  /** Release every cached intermediate this module holds for a session —
    * call when a document corpus is done (long-lived drivers would
    * otherwise pin shingle/signature/pair blocks indefinitely).
    */
  def clearCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.ops.Ckpt.clearModule(spark, "Dedup")

  /** Scale guard for the inverted-index join: drop shingles present in
    * more than `maxDocFrac` of documents (stop-shingles dominate join
    * fan-out and carry no dedup signal). Not oracle-bound — it changes
    * semantics — but it is the switch a 100 TB run flips.
    */
  def shingleDfCapped(docs: DataFrame, maxDocFrac: Double): DataFrame = {
    val sh = shingles(docs)
    // The doc-count threshold rides as a broadcast scalar so plan
    // COMPOSITION stays lazy (every other operator here composes
    // without running a job; the first cut ran an eager corpus count
    // per call).
    val nDocs = docs.agg(
      approx_count_distinct("doc_id").cast("double").as("_nd"))
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df").cast("double") > lit(maxDocFrac) * col("_nd"))
      .select("shingle")
    sh.join(broadcast(hot), Seq("shingle"), "left_anti")
  }
}
