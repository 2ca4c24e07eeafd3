package graft

import org.apache.spark.sql.functions._

/** Scale-probe diagnostic: times the corpus-heavy gated queries at 1×
  * and at a synthetic N× duplication of the same corpus (each replica
  * re-keyed, text byte-identical — the worst case for dedup candidate
  * generation, since every shingle/gram/bucket gets N× hotter), then
  * reports the measured scaling exponent log(t_Nx / t_1x) / log(N).
  * Turns the "survives 100× because the plan is banded/capped/bounded"
  * argument from plan-shape reasoning into a measured point: exponent
  * ≈ 1 means linear scaling, ≈ 2 means a quadratic candidate path.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [multiplier] [onlyPrefixes]
  * (onlyPrefixes: comma-separated query-name prefixes to restrict the
  * probe set — the SPARK_GRAFT_BENCH_ONLY convention, for targeted
  * before/after measurements.)
  */
object ScaleProbe {

  /** Corpus-only probe queries (documents.parquet), shared with
    * RegistrySpec so the test guards THIS list, not a stale copy. */
  val probeNames: Seq[String] = Seq("x66_lsh_dedup_pairs_capped",
    "x72_dup_gram_coverage", "x69_curation_pipeline",
    "x107_edit_distance_pairs", "x117_source_dedup_matrix",
    "x126_bpe_merges", "x134_count_min_sketch", "x158_bloom_screen",
    "x160_hll_source_cardinality", "x167_winnowing_pairs",
    "x168_shard_resize_audit", "x172_dsir_weights", "x173_token_entropy",
    "x175_minhash_merge_audit", "x179_ks_drift",
    // x211: the benched blocking-quality path — sampled exact truth
    // (quarter-sample: posting lists 10x hotter within the sample) plus
    // the sampled banded candidate join; must stay far below the exact
    // x162 evaluator's quadratic-truth growth.
    "x211_blocking_quality_sampled",
    // x213: exact-substring removal — under 10x byte-identical
    // duplication EVERY replica's grams are non-first, so the marked-
    // span volume is maximal (full-document coverage); the operator
    // must stay row-linear (keyed gram aggregates + per-doc sweep
    // lines, no pair join anywhere).
    "x213_exact_substring_removal",
    // x212: decode+hash scan scales linearly; the Hamming band join runs
    // over DISTINCT hashes, and the duplication replicas (stride 2^40 is
    // divisible by the 64-group and 32-offset periods) render byte-
    // identical images — so the distinct-hash grain must NOT grow and
    // the measured exponent isolates the scan.
    "x212_perceptual_near_dedup",
    // x214: KMV overlap — replicas are byte-identical, so distinct
    // (source, shingle) and every sketch are CONSTANT under the probe;
    // only the occurrence scan into the k-bounded aggregator grows.
    // The measured exponent isolates that linear scan.
    "x214_kmv_source_overlap",
    // x216: one corpus aggregate over (source, token-count); the
    // pooled-rank map is over distinct lengths (constant under
    // duplication), so this must probe as a pure linear scan.
    "x216_mann_whitney_sources",
    // x221: the (source, token) count table is CONSTANT under
    // byte-identical duplication (only counts grow), so the pair join
    // and per-pair sums cost the same — only the token scan grows.
    "x221_js_divergence_matrix",
    // Round-14 probe-discipline additions (r13 verdict stretch #7):
    // x219: distinct shingle hashes are constant under duplication, so
    // every sketch (per-shard and direct) and the exact countDistinct
    // audit stay constant-size — only the occurrence scan into the
    // k-bounded aggregator grows.
    "x219_kmv_merge_audit",
    // x222/x223: one mapPartitions decode pass, rows:images 1:1, no
    // shuffle — must probe as pure linear scans (the container parse
    // and per-image decode cost is per-row constant).
    "x222_image_resize_stats", "x223_frame_sample_stats",
    // x224/x226: the token count table is Heaps-bounded (constant under
    // byte-identical duplication — only counts grow), so the 96-way
    // sign projection and the 96/nShards*96 reduce rows cost the same;
    // only the token scan grows. x226 additionally shards by doc_id,
    // and the (shard x vocab) table grows with the REPLICA count's
    // shard spread — still bounded by nShards x vocab.
    "x224_ams_f2_sketch", "x226_ams_merge_audit",
    // x225: per-source and corpus head tables are vocab-bounded and
    // constant; the head extraction is TakeOrderedAndProject over the
    // vocab table; only the token scan grows.
    "x225_rbo_head_vocab",
    // x228: both counter grids are depth×width-bounded (constant) and
    // the (shard × vocab) table is nShards×vocab-bounded; only the
    // token scan grows — a pure linear probe like x134/x226.
    "x228_cms_merge_audit",
    // x230: every word grid is m/32-bounded (128 rows, constant) and
    // the probe set is a fixed 2048 rows; replicas are byte-identical,
    // so even the distinct md5 membership set is constant — only the
    // k·N position explode and the hash scan grow.
    "x230_bloom_merge_audit",
    // x231: bin grids are bins-bounded (constant); the bounds pass and
    // the (shard, bin) count pass are the only corpus scans. The exact
    // `percentile` audit is the one corpus-mass aggregate that grows —
    // gate-only cost, same convention as the KMV exact audit.
    "x231_histogram_merge_audit",
    // x232: one scoring projection + one 10-bin aggregate — bounded bin
    // table, must probe as a pure linear scan.
    "x232_langid_calibration",
    // x233: (doc, tok) then (tok) keyed aggregates; replicas multiply
    // cf/df/df2 counts but the vocabulary (output grain) is constant.
    "x233_token_burstiness",
    // x234: one projection + one 64-group aggregate — THE bounded-state
    // shape; only the row-hash scan grows.
    "x234_table_checksum",
    // x235: one vocab aggregate, then width-sweep passes over the
    // vocab-bounded count table — duplication grows only the token scan.
    "x235_cms_calibration",
    // x237: one projection + one (source x 16)-group fold — the x234
    // shape keyed by source; only the row-hash scan grows.
    "x237_source_checksum",
    // x238: one groupBy(source) distinct-count; replicas multiply n_docs
    // but n_distinct stays constant, so the probe isolates the scan.
    "x238_dup_rate_wilson",
    // x239: two x234-shaped scans + a 64-row full-outer compare — only
    // the row-hash scans grow.
    "x239_checksum_diff",
    // x240 (round 15): two fingerprint scans plus the bucket-filtered
    // row regroup. Duplication re-keys doc_id, so the corrupted-row
    // population grows ~N× and the mismatched bucket set SATURATES to
    // all nBuckets — the semi-join prunes nothing and the probe times
    // the drill-down's worst case: a full per-row regroup of both
    // sides. Must stay a linear keyed-aggregate scan even then.
    "x240_row_diff",
    // x241 (round 15): two (source × 16)-bounded grouped fingerprint
    // scans + a bounded verdict join — only the row-hash scans grow.
    "x241_checksum_diff_by_group",
    // x242 (round 15): two bucket-bounded fingerprint aggregations +
    // a 2×nBuckets-row fold — only the row-hash scans grow.
    "x242_checksum_incremental",
    // x243 (round 15): the (shard × vocab) count table is constant
    // under byte-identical duplication (only counts grow), so the rank
    // window, compress, merge, and every audit join cost the same —
    // only the token scan grows.
    "x243_mg_merge_audit",
    // x244 (round 15): the full repair roundtrip — like x240 the
    // mismatched bucket set saturates under duplication, so the diff,
    // the broadcast repair plan, the renumber window (plan-bounded
    // groups), and both re-fingerprints see their worst case; the
    // pass-through anti-join and every scan must stay row-linear.
    "x244_repair_roundtrip",
    // x246 (round 16): keyed changelog classification — replicas re-key
    // doc_id, so the divergent (every-97th) population grows ~N× and
    // the bad-bucket set saturates like x240; the dup-guard window and
    // the key-pairing full-outer join then run over the N×-grown
    // surplus (its worst case). Must stay linear: every per-row step is
    // keyed aggregation/join over the surplus, never a pair blow-up.
    "x246_row_diff_by_key",
    // x248 (round 17): the changelog roundtrip — the x246 worst case
    // (saturated bad buckets, N×-grown surplus through the guard window
    // and key pairing) plus the apply: the N×-grown changelog broadcast
    // anti-joins the divergent side's single scan and re-fingerprints.
    // Every step is keyed aggregation/broadcast join over surplus or
    // corpus-linear rows; must probe linear like x244.
    "x248_changelog_roundtrip",
    // x251 (round 17): incremental LSH dedup — replicas re-key doc_id,
    // so the salted split re-deals every replica (~25% of the N×
    // corpus lands in delta) and byte-identical replicas collide on
    // every band: each original bucket's width grows N×, crossing the
    // cap (w·N > 16 for w ≥ 2 at 10×, for ALL w at 30×). The cap is
    // the point: the N²-candidate blow-up the hot buckets would cause
    // collapses to zero instead, so the probe isolates the linear
    // signature scans plus the (band_idx, band_key)-partitioned width
    // window — the same saturating worst case x66 pins for the full
    // recompute, here with the probe-side split riding on top.
    "x251_incremental_lsh_dedup")

  /** Embedding-family probes (embeddings.parquet). */
  val embProbeNames: Seq[String] = Seq("x174_semantic_dedup",
    "x178_embedding_outliers", "x196_label_noise_screen",
    // x227: the triangle explode is d(d+1)/2 terms PER ROW (constant
    // width), the moment tables are groups×2,080 rows regardless of
    // corpus size, and all pair algebra runs on them — the probe must
    // isolate the linear moment scan. x229 is the same kernel split
    // base/append: two moment scans instead of one, identical shape.
    "x227_mmd_matrix", "x229_mmd_incremental",
    // x253 (round 17): embedding replicas land in the SAME LSH cell, so
    // each original cell's width grows N× and the within-cell
    // delta-vs-(corpus ∪ lower-delta) join grows ~N² per cell — the
    // x174 worst case with the probe split riding on top — until the
    // union-width cellCap (256) trips and the cell drops to 'overcap'
    // verdicts. The cap bounds per-cell work at 256² regardless of
    // replica count; the probe times the pre-saturation regime.
    "x253_incremental_semantic_dedup")

  /** Event-family probes (events.parquet) — the window-heavy temporal
    * shapes (round-10 directive): sessionization's per-user gap windows,
    * the rolling-WAU range frame, and both as-of join directions. Under
    * 10× duplication every USER's event stream gets 10× longer (replicas
    * keep the user_id and only re-key event_id), so per-user windows and
    * the as-of range probe see their worst case — these must scale like
    * n·log n at worst, never quadratically. */
  val eventProbeNames: Seq[String] = Seq("x15_sessionization",
    "x64_rolling_wau", "x31_asof_attribution", "x141_asof_forward")

  /** Fact-table probes (lineitem/orders) — round-15 directive: x236
    * reads the FACT tables, so the documents-duplication matrix never
    * exercised it and its scale statement was a cost-shape note only.
    * Replicas re-key BOTH sides' orderkey by the same stride, so each
    * replica joins within itself: the distinct-key domain grows N× —
    * the worst case for the per-key md5 sign projection and for the
    * gate-only exact Σ cnt_L·cnt_R audit join — while the 96-counter
    * sketch state and the 96-row estimate algebra stay constant. */
  val factProbeNames: Seq[String] = Seq("x236_ams_join_estimate",
    // x245 (round 16): the fixed-point double canonicalization + x234
    // fingerprint over lineitem — one codegen'd projection into a
    // 64-group bounded aggregate, THE linear-scan shape; duplication
    // grows only the row-hash scan (re-keyed orderkeys spread the
    // same mass over the same 64 buckets).
    "x245_fixed_point_checksum",
    // x247 (round 16): the epoch-micros timestamp canonicalization +
    // x234 fingerprint — identical shape to x245 (projection into the
    // 64-group fold); only the row-hash scan grows.
    "x247_timestamp_checksum")

  /** Graph-family probes (round-10 directive: the heaviest standing
    * family — PageRank trio / k-core / modularity / BFS, ~25 s of the
    * bench — had no committed cost-curve evidence). All five build their
    * edge set from the banded ANN candidate graph over embeddings, so
    * the duplicated-embeddings corpus IS the edge-duplication worst
    * case: every replica of a vector is cosine-1.0 to the original's
    * neighbors, so each node's candidate bucket — and therefore its
    * degree — gets ~N× hotter while the node count also grows N×. The
    * banded bucket caps plus the iteration-bound BIGINT rounds are what
    * must keep these sub-quadratic. */
  val graphProbeNames: Seq[String] = Seq("x73_pagerank",
    "x77_pagerank_conserving", "x91_pagerank_weighted", "x110_kcore",
    "x100_mutual_knn", "x123_community_modularity", "x137_bfs_distances")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    // Corpus-only queries (they read documents.parquet and nothing else),
    // covering the dedup cost shapes: banded+capped LSH pairs,
    // inverted-index gram coverage, the windowed curation capstone, the
    // PassJoin segment equi-join, and the capped-pair source rollup.
    // x126/x134 extend the probe beyond dedup: BPE learning (vocab-bounded
    // rounds — duplication should NOT multiply round cost, only the one
    // corpus scan) and the count-min sketch (fixed d*w state — exactly
    // the linear-scan cost shape a sketch exists to guarantee).
    // Round-9 additions: the Bloom screen (bounded-model probe — linear
    // scan by construction), the deterministic HLL (fixed 64-register
    // state per group), winnowing pairs (posting-list join whose hot keys
    // get N× hotter under duplication — the interesting one), and the
    // HRW resize audit (pure per-key projection + window).
    // Curation-batch additions: DSIR scoring (bounded 64-ratio model —
    // must stay a linear scan), token entropy (keyed aggregates), the
    // MinHash shard-merge audit (per-source DISTINCT trigram sets get N×
    // duplicate pressure — the dedup-shaped one), and the KS drift test
    // (its grid is sources × DISTINCT values, which duplication does not
    // grow — the window cost must not multiply).
    // Embedding-family probes under the same duplicate pressure: exact
    // duplicate vectors land in the SAME cell/band bucket, so every
    // within-cell/bucket join sees its worst case — the caps (x174
    // cellCap, x196's SparseBucketCap) are what keep these exponents
    // bounded; x178 is pure keyed aggregates and must stay linear.
    // The prefix filter applies to table DUPLICATION too (round-12, on
    // advice): a targeted before/after probe of one family must not pay
    // the multi-minute corpus rewrite for tables it never reads. Each
    // table is written only when the filtered probe set contains a
    // query from a family that reads it.
    val only = args.lift(2).map(_.split(','))
    def selected(family: Seq[String]): Seq[String] =
      family.filter(q => only.forall(_.exists(q.startsWith)))
    val probes = selected(probeNames)
    val embProbes = selected(embProbeNames)
    val eventProbes = selected(eventProbeNames)
    val graphProbes = selected(graphProbeNames)
    val factProbes = selected(factProbeNames)
    val all = probes ++ embProbes ++ eventProbes ++ graphProbes ++ factProbes
    require(all.nonEmpty, s"no probe query matches ${only.get.mkString(",")}")
    val spark = Session()

    // Replica re-key stride: 1L<<40 puts every replica's id range far
    // above any real id (the generator's ids are dense from 0), so
    // replica ranges can never collide with base rows or each other —
    // a fixed 10M stride would silently deflate the duplication pressure
    // if a base corpus ever carried ids >= 10M (round-10 advice).
    val stride = 1L << 40
    // The dup dir is keyed by (multiplier, base-corpus path) and any
    // table NOT rewritten by this (possibly filtered) run is deleted
    // up front: a dir keyed by multiplier alone could carry a stale
    // table from an earlier run against different base data, and a
    // later filtered probe would silently measure against it. With the
    // delete, a probe that reads a table its family gate didn't rewrite
    // fails loudly instead.
    val baseKey = java.security.MessageDigest.getInstance("MD5")
      .digest(base.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val dupDir =
      s"${System.getProperty("java.io.tmpdir")}/graft-scaleprobe-x$mult-$baseKey"
    val localFs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // (table, the id column each replica re-keys, the probes reading it).
    // Events replicas keep user_id (and ts), so the duplication pressure
    // lands on the per-user windows and as-of range probes; both fact
    // tables shift orderkey by the same stride, so each replica joins
    // within itself — the key domain grows N×, per-key counts stay
    // constant.
    Seq(
      ("documents", "doc_id", probes),
      ("embeddings", "vec_id", embProbes ++ graphProbes),
      ("events", "event_id", eventProbes),
      ("lineitem", "l_orderkey", factProbes),
      ("orders", "o_orderkey", factProbes)
    ).foreach { case (table, id, readers) =>
      val out = s"$dupDir/$table.parquet"
      if (readers.isEmpty) localFs.delete(new org.apache.hadoop.fs.Path(out), true)
      else {
        val rows = io.Tables.read(spark, s"$base/$table.parquet")
        (0 until mult)
          .map(i => rows.withColumn(id, col(id) + lit(i.toLong * stride)))
          .reduce(_ unionByName _)
          .repartition(32)
          .write.mode("overwrite").parquet(out)
      }
    }

    // Median of 3 after one discarded warm-up rep: at these corpus sizes a
    // single cold rep is dominated by codegen/JIT warm-up, which would
    // understate the 1x time and bias the exponent toward zero.
    def medQ(name: String, dir: String): Double = {
      Probe.run(spark, name, dir)
      Seq.fill(3)(Probe.run(spark, name, dir).seconds).sorted.apply(1)
    }
    all.foreach { q =>
      val t1 = medQ(q, base)
      val tN = medQ(q, dupDir)
      val exp = math.log(tN / t1) / math.log(mult.toDouble)
      println(f"[scaleprobe] $q: 1x=$t1%.2f s, ${mult}x=$tN%.2f s, exponent=$exp%.2f")
    }
    spark.stop()
  }
}
