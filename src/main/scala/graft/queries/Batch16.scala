package graft.queries

import graft.io.Tables
import org.apache.spark.sql.functions._

/** Round-16 batch: the reconciliation family's last two usability gaps
  * (round-15 verdict residuals #2 and #3) closed as first-class gated
  * operators. x245 brings FLOATING-POINT columns into the cross-engine
  * fingerprint contract: `Reconcile.fixedPoint` snaps a DOUBLE to the
  * 10^-scale grid (the x221 convention, one definition + DuckDB twin),
  * so a warehouse whose prices/scores live as doubles reconciles
  * without hand-rolling the grid — and the raw-double path now FAILS
  * FAST at every fingerprint entry point instead of silently producing
  * engine-dependent hashes. x246 turns x240's multiset drill-down into
  * the changelog a warehouse team actually applies:
  * `Reconcile.rowDiffByKey` pairs a-surplus and b-surplus rows on a
  * primary key and classifies each divergent key as insert/delete/
  * update with the changed column list — at the gate, x239's corrupted
  * copy keyed on doc_id classifies as exactly the every-97th documents,
  * every one an UPDATE with changed_columns = "text".
  */
object Batch16 {

  private val PriceCols = Seq("l_orderkey", "l_linenumber", "price_fp")

  lazy val defs: Seq[QueryDef] = Seq(

    // Fixed-point fingerprint of a DOUBLE column (Reconcile.fixedPoint
    // + tableChecksum): lineitem's l_extendedprice IS a double in this
    // warehouse, so fingerprinting it raw would hash each engine's own
    // float rendering — the entry points reject that loudly (pinned in
    // ReconcilePropertySpec). The canonicalizer snaps to the cent grid
    // (scale 2) as exact BIGINT, which both engines render identically;
    // the gate hash-matches DuckDB computing the SAME grid from the
    // same doubles, proving the snap deterministic cross-engine.
    QueryDef(
      "x245_fixed_point_checksum",
      (s, dir) => {
        val l = Tables(s, dir).lineitem
          .select(col("l_orderkey"), col("l_linenumber"),
            graft.ops.Reconcile.fixedPoint(col("l_extendedprice"), 2)
              .as("price_fp"))
        graft.ops.Reconcile.tableChecksum(l, PriceCols).orderBy("bucket")
      },
      Some(graft.ops.Reconcile.oracleSql(
        s"""(SELECT l_orderkey, l_linenumber,
           |        ${graft.ops.Reconcile.fixedPointSql("l_extendedprice", 2)}
           |          AS price_fp
           |      FROM lineitem)""".stripMargin,
        PriceCols) + "\nORDER BY 1")),

    // Timestamp fingerprint canonicalization (Reconcile.epochMicros +
    // tableChecksum): timestamps enter the cross-engine contract as
    // BIGINT epoch microseconds — immune to session-timezone rendering,
    // fractional-trimming differences, and naive-vs-instant parquet
    // semantics (the scaladoc's three exposure modes). The gate
    // fingerprints lineitem's shipdate against DuckDB's epoch_us over
    // the same parquet; a hash match proves the instant integers
    // identical, which a string-rendered fingerprint could not promise
    // across sessions.
    QueryDef(
      "x247_timestamp_checksum",
      (s, dir) => {
        val l = Tables(s, dir).lineitem
          .select(col("l_orderkey"), col("l_linenumber"),
            graft.ops.Reconcile.epochMicros(col("l_shipdate")).as("ship_us"))
        graft.ops.Reconcile.tableChecksum(l,
          Seq("l_orderkey", "l_linenumber", "ship_us")).orderBy("bucket")
      },
      Some(graft.ops.Reconcile.oracleSql(
        s"""(SELECT l_orderkey, l_linenumber,
           |        ${graft.ops.Reconcile.epochMicrosSql("l_shipdate")}
           |          AS ship_us
           |      FROM lineitem)""".stripMargin,
        Seq("l_orderkey", "l_linenumber", "ship_us")) + "\nORDER BY 1")),

    // Keyed update classification (Reconcile.rowDiffByKey): the x239/
    // x240 corrupted-copy scenario keyed on doc_id — the multiset diff's
    // paired surplus rows collapse to one verdict per divergent key.
    // Every 97th document (with non-null text) must classify as an
    // UPDATE whose changed_columns is exactly "text"; no inserts or
    // deletes exist in this scenario (the spec covers those paths on
    // constructed fixtures). Composes with applyRepair: the classified
    // keys are the rows the repair plan touches.
    QueryDef(
      "x246_row_diff_by_key",
      (s, dir) => {
        val d = Tables(s, dir).documents
        graft.ops.Reconcile.rowDiffByKey(d, Batch15.corrupted(d),
          Seq("doc_id"), Seq("source", "lang", "n_chars", "text"))
      },
      Some(graft.ops.Reconcile.rowDiffByKeyOracleSql(
        "documents", Batch15.CorruptedSql,
        Seq("doc_id"), Seq("source", "lang", "n_chars", "text"))))
  )
}
