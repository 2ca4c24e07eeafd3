package graft.ext

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Exact heavy-hitter mining over unbounded key domains, two-phase:
  * a per-partition Misra–Gries summary proposes candidates, an exact
  * recount restricted to those candidates applies the threshold.
  *
  * Scale rationale: the naive plan shuffles EVERY distinct token to its
  * reducer — at 100 TB the token domain is billions of keys and the
  * shuffle is the corpus. Misra–Gries with k counters per partition
  * guarantees (pigeonhole over the summed local streams) that every
  * token with global count > N/(k+1) survives in at least one
  * partition's summary, so the union of P summaries — at most P·k
  * tokens, a few MB — is a provable superset of the heavy hitters.
  * The recount then shuffles only rows matching a candidate (hashed
  * semi-join against the tiny candidate set), and the final counts are
  * exact, not estimates: the sketch only prunes, never answers.
  *
  * Mirrors the reference's top-rented-categories reporting shape
  * (queries_shan.sql revenue-by-category rollups) generalized to an
  * open key domain. Misra & Gries 1982; the merge-guarantee form is
  * Berinde et al. 2010.
  */
object Frequent {

  /** Tokens whose corpus frequency strictly exceeds total/denom, with
    * their EXACT counts. `denom` doubles as the Misra–Gries counter
    * budget (k = denom ≥ denom guarantees the superset property for
    * the > N/denom threshold, since N/denom > N/(denom+1)).
    */
  def frequentTokens(docs: DataFrame, denom: Int = 200): DataFrame = {
    require(denom >= 2, s"denom must be >= 2, got $denom")
    val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("tok"))

    // Phase 1: per-partition Misra–Gries. Genuine per-partition
    // imperative state (k counters with decrement-all eviction) — the
    // one shape mapPartitions exists for. Amortized O(1) per token:
    // each decrement is paid for by a prior increment.
    val k = denom
    val candidates = toks
      .select(col("tok"))
      .as[String](Encoders.STRING)
      .mapPartitions { it =>
        val counters = new java.util.HashMap[String, Long](k * 2)
        it.foreach { t =>
          if (counters.containsKey(t)) counters.put(t, counters.get(t) + 1L)
          else if (counters.size < k) counters.put(t, 1L)
          else {
            val e = counters.entrySet().iterator()
            while (e.hasNext) {
              val en = e.next()
              if (en.getValue == 1L) e.remove() else en.setValue(en.getValue - 1L)
            }
          }
        }
        scala.jdk.CollectionConverters.SetHasAsScala(counters.keySet()).asScala.iterator
      }(Encoders.STRING)
      .toDF("tok")
      .distinct()

    // Phase 2: exact recount of candidate tokens only. The candidate
    // set is ≤ partitions·k rows — broadcast it so the probe never
    // shuffles non-candidates; the total is one scalar broadcast.
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks
      .join(broadcast(candidates), Seq("tok"), "left_semi")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * lit(denom.toLong) > col("n_total"))
      .select(col("tok"), col("cnt"), col("n_total"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** AMS/tug-of-war F₂ sketch (Alon, Matias & Szegedy 1996) — the
    * second frequency moment Σc² of the token stream from d = 96
    * ±1-projection counters instead of a full frequency table. F₂ IS
    * the self-join size of the stream keyed on the token, which makes
    * this the classical sketch behind join-size/skew estimation: x135
    * computes Σ cnt_l·cnt_r exactly from key histograms; this answers
    * the same class of question in d counters of mergeable state —
    * each S_j = Σ_t sign_j(t)·c_t is a plain distributed SUM, so
    * partitions sketch independently and merge by addition, and
    * E[S²] = F₂ with variance tamed by median-of-means (3 groups × 32 —
    * relative spread √(2/32) ≈ 25% per group mean; the exact-F₂ audit
    * column prices the realized draw).
    *
    * Cross-engine exactness: sign_j(t) is the parity of the first hex
    * digit of md5(t·'|ams|'·j) (the family hash convention), so every
    * S_j is an exact BIGINT; squares and the 32-estimator group sums
    * stay BIGINT; the 3-way median is the branch-free
    * greatest(least(a,b), least(greatest(a,b), c)) — one shared integer
    * expression tree, then ONE division by 32 into a double. The exact
    * F₂ and relative error ride along gate-only (the audit cost the
    * sketch exists to avoid — at 100 TB you keep the 96 counters, not
    * the frequency table).
    *
    * Scale shape: one token aggregate to the Heaps-bounded count table,
    * one 96-way projection over it, a 96-row reduce. (Direct streaming
    * form — skip the count table, update counters per token — is the
    * same SUM; the count-table route shares the scan with the exact
    * audit here.)
    */
  def amsF2(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val est = amsEstimate(amsCounters(counts))
    val exact = counts.agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      sum(col("c") * col("c")).as("f2_exact"))
    exact.crossJoin(broadcast(est))
      .select(col("n_tokens"), col("n_distinct"), lit(AmsD).as("d"),
        col("f2_exact"), round(col("f2_est"), 6).as("f2_est"),
        when(col("f2_exact") > 0,
          round(abs(round(col("f2_est"), 6) - col("f2_exact").cast("double"))
            / col("f2_exact").cast("double"), 6)).as("rel_error"))
  }

  /** AMS counter width (3 median groups × 32 mean estimators). */
  private val AmsD = 96

  /** The d ±1-projection counters S_j = Σ sign_j(tok)·c over a token
    * count table carrying extra grouping columns — shared by the
    * corpus sketch ([[amsF2]]) and the per-shard sketches of
    * [[amsF2MergeAudit]]. Input columns: `groupCols ++ (tok, c)`;
    * output: `groupCols ++ (j, s)`. */
  private def amsCounters(counts: DataFrame, groupCols: String*): DataFrame = {
    val keep = groupCols.map(col)
    counts
      .select(keep ++ Seq(col("tok"), col("c"),
        explode(array((0 until AmsD).map(lit): _*)).as("j")): _*)
      .select(keep ++ Seq(col("j"), col("c"),
        (conv(substring(md5(concat(col("tok"), lit("|ams|"), col("j"))), 1, 1),
          16, 10).cast("long") % 2L * 2L - 1L).as("sign")): _*)
      .groupBy(keep :+ col("j"): _*)
      .agg(sum(col("sign") * col("c")).as("s"))
  }

  /** Median-of-means over a (j, s) counter frame → one-row `f2_est`
    * (unrounded double): 3 groups of 32 squared counters, branch-free
    * 3-way median, one division by 32. */
  private def amsEstimate(ctr: DataFrame): DataFrame =
    ctr
      .groupBy((col("j") / lit(32)).cast("int").as("g"))
      .agg(sum(col("s") * col("s")).as("grp_fp"))
      .agg(max(when(col("g") === 0, col("grp_fp"))).as("g0"),
        max(when(col("g") === 1, col("grp_fp"))).as("g1"),
        max(when(col("g") === 2, col("grp_fp"))).as("g2"))
      .select((greatest(least(col("g0"), col("g1")),
        least(greatest(col("g0"), col("g1")), col("g2")))
        .cast("double") / lit(32.0)).as("f2_est"))

  /** AMS join-size estimate (Alon, Matias, Szegedy & Gibbons 1999 —
    * the TWO-stream application of the tug-of-war sketch): |L ⋈ R| =
    * Σ_k cnt_L(k)·cnt_R(k) estimated by the inner product of the two
    * sides' sign-counters, E[S_L·S_R] = join size, median-of-means
    * over the same 3×32 estimator layout as [[amsF2]] (F₂ IS the
    * self-join special case, so the kernels are shared by
    * construction). This answers x135's join-planning question —
    * "how big is this join, and is it skew-dangerous?" — from d = 96
    * longs PER SIDE instead of two key histograms: each side sketches
    * independently (different tables, different days, different
    * clusters), sketches are mergeable by addition, and the planner
    * dots two 96-vectors. The exact Σ cnt_L·cnt_R audit (the x135
    * computation) rides along gate-only.
    *
    * Numeric envelope: |S| ≤ side row count, so the per-estimator
    * product reaches N_L·N_R — past BIGINT at ~3×10⁹×3×10⁹; the
    * product/group sums therefore run in DECIMAL(38,0) (DuckDB
    * HUGEINT — identical values, the x218 convention) and only the
    * final ÷32 is a double. The estimator is signed: a draw can come
    * out negative near zero — reported as-is, not clamped (the
    * unbiasedness contract, priced by rel_error).
    *
    * Scale shape: one count aggregate per side (map-side combinable),
    * one d-way projection over each Heaps/key-bounded count table, a
    * d-row join of the two counter vectors.
    */
  def amsJoinEstimate(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame = {
    def keyCounts(df: DataFrame, k: String): DataFrame =
      df.select(col(k).cast("string").as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
    val lc = keyCounts(left, leftKey)
    val rc = keyCounts(right, rightKey)
    // Sign kernel: ONE md5 per key, sign_j = bit j of the 128-bit digest
    // (hex digit j/4, bit j%4) — NOT the x224/x226 salted-per-j hash.
    // Deliberate departure, measured: join keys are ID-domain (150k+
    // distinct at sf0.1 vs the Heaps-bounded vocab of the F2 queries),
    // and 96 salted md5s per key over an exploded (key × j) stream
    // first-cut benched 8.3 s — 16× the exact audit it exists to avoid.
    // One digest sliced into 96 bits, folded as 96 parallel SUMs in a
    // single codegen'd pass (no explode, no shuffle of key×j rows),
    // runs the same question in well under a second. Independence
    // across keys — the property the tug-of-war guarantee needs — is
    // the digest's, same as the salted spelling.
    def counters(counts: DataFrame, out: String): DataFrame = {
      // The 24 hex digits are hoisted to ONE projection (round-18): each
      // digit feeds four of the 96 sign-sums, and aggregate expressions
      // get no common-subexpression elimination — the inline spelling
      // parsed the same hex digit four times per key (96 conv+substring
      // per row instead of 24; measured ~2× on the counter pass at
      // 150K keys). Same digits, same signs, bit-identical sums.
      val digits = (0 until AmsD / 4).map(d =>
        conv(substring(col("h"), d + 1, 1), 16, 10).cast("int").as(s"d$d"))
      val sums = (0 until AmsD).map { j =>
        val sign = (shiftright(col(s"d${j / 4}"), j % 4).bitwiseAND(lit(1)) * lit(2)
          - lit(1)).cast("long")
        sum(sign * col("c")).as(s"s_$j")
      }
      counts.withColumn("h", md5(col("tok")))
        .select(col("c") +: digits: _*)
        .agg(sums.head, sums.tail: _*)
        .selectExpr(s"stack($AmsD, ${(0 until AmsD)
          .map(j => s"$j, s_$j").mkString(", ")}) as (j, $out)")
    }
    val sl = counters(lc, "s_l")
    val sr = counters(rc, "s_r")
    val est = sl.join(sr, Seq("j"))
      .select(col("j"),
        (col("s_l").cast("decimal(38,0)") * col("s_r")).as("p"))
      .groupBy((col("j") / lit(32)).cast("int").as("g"))
      .agg(sum(col("p")).as("grp_fp"))
      .agg(max(when(col("g") === 0, col("grp_fp"))).as("g0"),
        max(when(col("g") === 1, col("grp_fp"))).as("g1"),
        max(when(col("g") === 2, col("grp_fp"))).as("g2"))
      .select((greatest(least(col("g0"), col("g1")),
        least(greatest(col("g0"), col("g1")), col("g2")))
        .cast("double") / lit(32.0)).as("join_est"))
    // Side row counts from the BASE tables (Σc = row count by
    // construction): a plain count, not a third recompute of the
    // grouped count tables.
    val nl = left.agg(count(lit(1)).as("n_left"))
    val nr = right.agg(count(lit(1)).as("n_right"))
    val exact = lc.withColumnRenamed("c", "cl")
      .join(rc.withColumnRenamed("c", "cr"), Seq("tok"))
      .agg(coalesce(sum(col("cl").cast("decimal(38,0)") * col("cr")),
        lit(0L).cast("decimal(38,0)")).as("jx"))
    nl.crossJoin(broadcast(nr)).crossJoin(broadcast(exact))
      .crossJoin(broadcast(est))
      .select(col("n_left"), col("n_right"), lit(AmsD).as("d"),
        col("jx").cast("long").as("join_exact"),
        round(col("join_est"), 6).as("join_est"),
        when(col("jx") > 0,
          round(abs(round(col("join_est"), 6) - col("jx").cast("double"))
            / col("jx").cast("double"), 6)).as("rel_error"))
  }

  /** AMS shard-merge audit — the tug-of-war member of the
    * mergeable-sketch audit family (x175 MinHash min-merge, x191/x201
    * HLL max-merge, x219 KMV bottom-k-of-union): each shard sketches
    * its own token stream into d counters, shards merge by plain
    * ADDITION (S_j is a sum, so Σ_shard S_{shard,j} must equal the
    * direct corpus counter bit-for-bit — every term is an exact
    * BIGINT), and `n_mismatch` counts the j where they disagree
    * (contract: 0). The merged estimate's median-of-means F₂ and its
    * rel_error against exact F₂ ride along, priced gate-only like
    * x224's audit columns.
    *
    * This is the property that makes the sketch a 100 TB primitive:
    * 1000 executors each keep 96 longs, the driver adds 96-vectors —
    * no frequency table ever exists off-shard.
    *
    * Scale shape: one (shard × vocab) count aggregate (shard =
    * doc_id mod nShards), one d-way projection over it, nShards·d
    * reduce rows; the direct comparand reuses the corpus count table
    * summed out of the same aggregate.
    */
  def amsF2MergeAudit(docs: DataFrame, nShards: Int = 8): DataFrame = {
    require(nShards >= 2, s"nShards must be >= 2, got $nShards")
    val shardCounts = docs
      .select(pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("shard", "tok").agg(count(lit(1)).as("c"))
    val merged = amsCounters(shardCounts, "shard")
      .groupBy("j").agg(sum(col("s")).as("s_merged"))
    val corpusCounts = shardCounts.groupBy("tok").agg(sum(col("c")).as("c"))
    val direct = amsCounters(corpusCounts)
    val mm = graft.ops.Sharding.mergeMismatches(merged, direct, Seq("j"), "s_merged", "s")
    val est = amsEstimate(merged.select(col("j"), col("s_merged").as("s")))
    val exact = corpusCounts.agg(sum(col("c") * col("c")).as("f2_exact"))
    exact.crossJoin(broadcast(mm)).crossJoin(broadcast(est))
      .select(lit(nShards.toLong).as("n_shards"), lit(AmsD).as("d"),
        col("n_mismatch"), col("f2_exact"),
        round(col("f2_est"), 6).as("f2_est"),
        when(col("f2_exact") > 0,
          round(abs(round(col("f2_est"), 6) - col("f2_exact").cast("double"))
            / col("f2_exact").cast("double"), 6)).as("rel_error"))
  }

  /** Misra–Gries shard-merge audit — the mergeable-summary family's
    * APPROXIMATE member (Agarwal et al. 2013, "Mergeable Summaries"):
    * unlike the exactness audits (MinHash/HLL/KMV/AMS/CMS/Bloom/
    * histogram, all n_mismatch = 0), a merged MG summary is NOT equal
    * to the direct one — its contract is a provable ERROR BOUND, and
    * that bound is what this audit verifies, term for term.
    *
    * Per shard (doc_id mod nShards): exact in-shard counts, then the
    * deterministic offline k-counter compress — subtract the
    * (k+1)-largest count s_{k+1} from every count and keep the ≤ k
    * strictly-positive survivors. The compress introduces ≤ s_{k+1}
    * underestimate per key, and the MG pigeonhole gives (k+1)·s_{k+1}
    * ≤ N_shard. Merged summary = per-key SUM of shard summaries (≤
    * nShards·k rows). Three theorems become contract columns:
    * m_est ≤ exact always (n_bound_violations counts m_est > exact OR
    * underestimate > Σ s_{k+1} — must be 0); any key with exact count
    * > Σ s_{k+1} MUST survive the merge (n_missed_heavy = 0); and
    * Σ s_{k+1} ≤ N/(k+1) (eps_within_bound — the merged summary's
    * error budget obeys the single-stream bound). Ranking ties break
    * on the token itself, so both engines compress identically.
    *
    * Scale shape: one (shard × vocab) count aggregate, a per-shard
    * rank window over that Heaps-bounded table (never over rows), the
    * nShards-row s_{k+1} table broadcast back, and a ≤ nShards·k-row
    * merge; the exact corpus recount is the gate-only audit (the cost
    * the summary exists to avoid — at 100 TB each shard ships k
    * counters and the coordinator adds them).
    */
  def mgMergeAudit(docs: DataFrame, nShards: Int = 8,
      k: Int = 64): DataFrame = {
    require(nShards >= 2, s"nShards must be >= 2, got $nShards")
    require(k >= 1 && k <= 65536, s"unreasonable counter budget $k")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
      pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val shardCounts = toks.groupBy("shard", "tok").agg(count(lit(1)).as("c"))
    val ranked = shardCounts.withColumn("rnk", row_number().over(
      Window.partitionBy("shard").orderBy(col("c").desc, col("tok").asc)))
    val sk1 = ranked.groupBy("shard")
      .agg(coalesce(max(when(col("rnk") === k + 1, col("c"))), lit(0L))
        .as("sk1"))
    val summary = ranked.join(broadcast(sk1), Seq("shard"))
      .filter(col("rnk") <= k && col("c") - col("sk1") > 0L)
      .select(col("tok"), (col("c") - col("sk1")).as("s"))
    val merged = summary.groupBy("tok").agg(sum(col("s")).as("m_est"))
    val eps = sk1.agg(sum(col("sk1")).as("eps_budget"))
    val total = shardCounts.agg(sum(col("c")).as("n_tokens"))
    val exact = shardCounts.groupBy("tok").agg(sum(col("c")).as("c_exact"))
    // ONE audit pass: the vocab-sized exact table streams once past the
    // BROADCAST merged summary (left outer, BuildRight) — membership,
    // bound, and missed-heavy checks fold into a single aggregation,
    // with eps_budget riding through it so no branch re-expands the
    // window subtree a second time.
    val audit = exact.join(broadcast(merged), Seq("tok"), "left")
      .crossJoin(broadcast(eps))
      .agg(
        coalesce(sum(when(col("m_est").isNotNull, lit(1L))
          .otherwise(lit(0L))), lit(0L)).as("n_summary"),
        max(col("eps_budget")).as("eps_budget"),
        coalesce(max(when(col("m_est").isNotNull,
          col("c_exact") - col("m_est"))), lit(0L)).as("max_underestimate"),
        coalesce(sum(when(col("m_est").isNotNull &&
          (col("m_est") > col("c_exact") ||
            col("c_exact") - col("m_est") > col("eps_budget")), lit(1L))
          .otherwise(lit(0L))), lit(0L)).as("n_bound_violations"),
        coalesce(sum(when(col("m_est").isNull &&
          col("c_exact") > col("eps_budget"), lit(1L))
          .otherwise(lit(0L))), lit(0L)).as("n_missed_heavy"))
    total.crossJoin(broadcast(audit))
      .select(lit(nShards.toLong).as("n_shards"), lit(k.toLong).as("k"),
        col("n_tokens"), col("n_summary"), col("eps_budget"),
        (col("eps_budget") * lit((k + 1).toLong) <= col("n_tokens"))
          .as("eps_within_bound"),
        col("max_underestimate"), col("n_bound_violations"),
        col("n_missed_heavy"))
  }
}
