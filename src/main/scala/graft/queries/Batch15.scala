package graft.queries

import graft.io.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Round-15 batch: completing the cross-engine reconciliation family
  * opened in round 14 (x234 fingerprint, x237 per-source fingerprint,
  * x239 bucket diff) with the two drill-down steps a user actually
  * takes after a mismatch verdict — x240 row-level drill-down
  * (Reconcile.rowDiff: the mismatched bucket set broadcasts back over
  * both tables and ONLY those buckets' rows are re-grouped, so the
  * expensive step touches ~1/nBuckets of the data) and x241 the
  * feed-grain diff (Reconcile.checksumDiffByGroup: verdicts keyed by
  * (source, bucket), localizing divergence to WHICH feed before any
  * row is touched). Both gates replay x239's deterministically
  * corrupted copy (every 97th document's text suffixed) so the three
  * operators' verdicts corroborate one another on the same scenario.
  * x242 proves the fingerprint's incremental-maintenance claim (the
  * base+delta fold hash-matches the full recompute's oracle verbatim —
  * the x132/x139/x229 convention, and the batch proof of the streaming
  * checksumSink), x243 adds the mergeable-summary family's
  * APPROXIMATE member (the Misra–Gries shard-merge whose contract is
  * the Agarwal-et-al error bound rather than bit equality), and x244
  * CLOSES the loop: the rowDiff plan applied as an executable repair,
  * re-fingerprinted to an all-buckets-green verdict.
  */
object Batch15 {

  /** The reconciliation family's shared corruption scenario — x239's
    * every-97th-document text suffix, one definition for every gate
    * that replays it (Batch16's keyed classification included). */
  private[queries] def corrupted(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(97L)) === 0L,
        concat(col("text"), lit(" CORRUPTED"))).otherwise(col("text")))

  private[queries] val CorruptedSql =
    """(SELECT doc_id, source, lang, n_chars,
      |        CASE WHEN doc_id % 97 = 0 THEN text || ' CORRUPTED'
      |             ELSE text END AS text
      |      FROM documents)""".stripMargin

  private[queries] val DiffCols =
    Seq("doc_id", "source", "lang", "n_chars", "text")

  lazy val defs: Seq[QueryDef] = Seq(

    // Row-level reconciliation drill-down (Reconcile.rowDiff): the step
    // after x239's bucket_match=false — semi-join both sides on the
    // broadcast mismatched-bucket set, re-group only those buckets'
    // rows by canonical hash, and emit every row whose multiplicity
    // differs. At the gate the output is exactly the every-97th
    // documents, twice each: side 'a' holding the original text, side
    // 'b' the corrupted text.
    QueryDef(
      "x240_row_diff",
      (s, dir) => {
        val d = Tables(s, dir).documents
        graft.ops.Reconcile.rowDiff(d, corrupted(d), DiffCols)
      },
      Some(graft.ops.Reconcile.rowDiffOracleSql(
        "documents", CorruptedSql, DiffCols))),

    // Feed-grain checksum diff (Reconcile.checksumDiffByGroup): x237's
    // per-source fingerprints compared side-by-side — one 3VL-safe
    // verdict per (source, bucket), so divergence localizes to WHICH
    // feed before any row-level work. Same corrupted-copy scenario as
    // x239/x240: the three verdicts corroborate.
    QueryDef(
      "x241_checksum_diff_by_group",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val cols = Seq("doc_id", "lang", "n_chars", "text")
        graft.ops.Reconcile.checksumDiffByGroup(
          graft.ops.Reconcile.tableChecksumByGroup(d, "source", cols),
          graft.ops.Reconcile.tableChecksumByGroup(corrupted(d), "source", cols),
          "source")
      },
      Some(graft.ops.Reconcile.groupedDiffOracleSql(
        "documents", CorruptedSql,
        "source", Seq("doc_id", "lang", "n_chars", "text")))),

    // Incremental checksum maintenance (Reconcile.checksumIncremental):
    // the x132/x139/x229 convention applied to the reconciliation
    // family — the fingerprint of base ∪ delta computed by FOLDING the
    // two fingerprints (counts/modular sums add, XORs xor) must
    // hash-match the full recompute's oracle VERBATIM. This is the
    // batch proof of the streaming checksumSink's convergence claim,
    // and what lets a warehouse maintain its parity fingerprint by
    // pricing only the day's delta partition.
    QueryDef(
      "x242_checksum_incremental",
      (s, dir) => {
        val d = Tables(s, dir).documents
        graft.ops.Reconcile.checksumIncremental(
          d.filter(pmod(col("doc_id"), lit(5L)) =!= 0L),
          d.filter(pmod(col("doc_id"), lit(5L)) === 0L),
          DiffCols)
      },
      // The FULL-recompute oracle, verbatim x234 shape over the whole
      // table — equality proves the fold associative cross-engine.
      Some(graft.ops.Reconcile.oracleSql("documents", DiffCols)
        + "\nORDER BY 1")),

    // Repair roundtrip (Reconcile.applyRepair): the reconciliation
    // loop CLOSED — fingerprint the corrupted copy, drill to the
    // differing rows, apply the repair plan (surplus copies dropped,
    // missing copies replicated from the diff's carried rows), and
    // re-fingerprint: every bucket must verdict green against the
    // reference. If any upstream step were wrong — a missed bucket, a
    // wrong multiplicity, a mangled carried row — the final verdicts
    // would not all match, so the single output row gates the whole
    // chain. A production pipeline materializes diff and repaired
    // tables between steps; the gate composes them in one plan so the
    // oracle can replay it.
    QueryDef(
      "x244_repair_roundtrip",
      (s, dir) => {
        val d = Tables(s, dir).documents.select(DiffCols.map(col): _*)
        val corr = corrupted(Tables(s, dir).documents)
          .select(DiffCols.map(col): _*)
        val diff = graft.ops.Reconcile.rowDiff(d, corr, DiffCols)
        val repaired = graft.ops.Reconcile.applyRepair(corr, diff, DiffCols)
        val verdict = graft.ops.Reconcile.checksumDiff(
          graft.ops.Reconcile.tableChecksum(d, DiffCols),
          graft.ops.Reconcile.tableChecksum(repaired, DiffCols))
        val acts = diff.agg(
          coalesce(sum(when(col("n_a") > col("n_b"),
            col("n_a") - col("n_b"))), lit(0L)).as("n_inserts"),
          coalesce(sum(when(col("n_b") > col("n_a"),
            col("n_b") - col("n_a"))), lit(0L)).as("n_deletes"))
        val agg = verdict.agg(count(lit(1)).as("n_buckets"),
          coalesce(sum(when(col("bucket_match"), lit(1L)).otherwise(lit(0L))),
            lit(0L)).as("n_matched"))
        acts.crossJoin(broadcast(agg))
          .select(col("n_inserts"), col("n_deletes"), col("n_buckets"),
            col("n_matched"),
            (col("n_buckets") === col("n_matched")).as("repaired_ok"))
      },
      Some(graft.ops.Reconcile.repairRoundtripOracleSql(
        "documents", CorruptedSql, DiffCols))),

    // Misra–Gries shard-merge audit (Frequent.mgMergeAudit): the
    // mergeable-summary family's APPROXIMATE member — merged shard
    // summaries are NOT bit-equal to the direct one; the contract is
    // the Agarwal-et-al error bound, verified term for term
    // (n_bound_violations = 0, n_missed_heavy = 0, eps_within_bound).
    QueryDef(
      "x243_mg_merge_audit",
      (s, dir) => graft.ext.Frequent.mgMergeAudit(
        Tables(s, dir).documents, nShards = 8, k = 8),
      Some(
        raw"""WITH tk AS (
             |  SELECT doc_id % 8 AS shard,
             |         unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents
             |), sc AS (
             |  SELECT shard, tok, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM tk GROUP BY 1, 2
             |), rk AS (
             |  SELECT shard, tok, c,
             |         row_number() OVER (PARTITION BY shard
             |                            ORDER BY c DESC, tok) AS rnk
             |  FROM sc
             |), s1 AS (
             |  SELECT shard,
             |         CAST(COALESCE(MAX(CASE WHEN rnk = 9 THEN c END), 0)
             |              AS BIGINT) AS sk1
             |  FROM rk GROUP BY 1
             |), summ AS (
             |  SELECT r.tok, r.c - s.sk1 AS s
             |  FROM rk r JOIN s1 s USING (shard)
             |  WHERE r.rnk <= 8 AND r.c - s.sk1 > 0
             |), mg AS (
             |  SELECT tok, CAST(SUM(s) AS BIGINT) AS m_est
             |  FROM summ GROUP BY 1
             |), eps AS (
             |  SELECT CAST(SUM(sk1) AS BIGINT) AS eps_budget FROM s1
             |), tot AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tk
             |), ex AS (
             |  SELECT tok, CAST(SUM(c) AS BIGINT) AS c_exact
             |  FROM sc GROUP BY 1
             |), est AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_summary,
             |         CAST(COALESCE(MAX(e.c_exact - m.m_est), 0) AS BIGINT)
             |           AS max_underestimate,
             |         CAST(COALESCE(SUM(CASE WHEN m.m_est > e.c_exact
             |                OR e.c_exact - m.m_est > p.eps_budget
             |                THEN 1 ELSE 0 END), 0) AS BIGINT)
             |           AS n_bound_violations
             |  FROM ex e JOIN mg m USING (tok) CROSS JOIN eps p
             |), msd AS (
             |  SELECT CAST(COALESCE(SUM(CASE WHEN e.c_exact > p.eps_budget
             |                THEN 1 ELSE 0 END), 0) AS BIGINT)
             |           AS n_missed_heavy
             |  FROM (SELECT e.tok, e.c_exact FROM ex e
             |        ANTI JOIN mg m USING (tok)) e
             |  CROSS JOIN eps p
             |)
             |SELECT CAST(8 AS BIGINT) AS n_shards, CAST(8 AS BIGINT) AS k,
             |       t.n_tokens, est.n_summary, p.eps_budget,
             |       (p.eps_budget * 9 <= t.n_tokens) AS eps_within_bound,
             |       est.max_underestimate, est.n_bound_violations,
             |       msd.n_missed_heavy
             |FROM tot t CROSS JOIN eps p CROSS JOIN est CROSS JOIN msd""".stripMargin))
  )
}
