package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-bin histogram quantile sketch — the quantile counterpart of the
  * count-min sketch (TextAnalysis.countMinSketch): `bins` BIGINT counters
  * are BOUNDED, MERGEABLE state (shard histograms add), so quantiles of a
  * 100 TB column cost one map-side-combinable aggregation instead of a
  * global sort, at a quantified price: the bin-midpoint estimate can miss
  * the true quantile by at most one bin width. That bound is not claimed
  * but MEASURED — the output carries the exact quantile (Spark
  * `percentile` ↔ DuckDB `quantile_cont`, the x20-proven pair), the
  * absolute error, and the within-one-bin-width verdict per row.
  *
  * Everything is engine-identical: bin indices and midpoints are the
  * same IEEE expression tree over the same doubles; ranks are exact
  * BIGINTs; the 256-row cumulative window is bounded model state, not
  * data (the corpus never enters a window).
  */
object HistogramSketch {

  /** Shared bin index — ONE definition for the batch sketches
    * ([[quantiles]], [[quantilesByGroup]], [[mergeAudit]]) and the
    * streaming twin ([[graft.streaming.Streams.histogramStream]]): a
    * bin-boundary tweak applied to one and not the others would
    * silently desynchronize state that is supposed to merge. Degenerate
    * hi == lo maps everything to bin 0 (the NaN-cast guard). */
  private[graft] def binIndex(v: Column, lo: Column, hi: Column,
      bins: Int): Column =
    when(hi === lo, lit(0)).otherwise(
      least(lit(bins - 1),
        floor((v - lo) * lit(bins.toDouble) / (hi - lo)).cast("int")))

  def quantiles(df: DataFrame, valueCol: String, bins: Int = 256,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.9, 0.99)): DataFrame = {
    require(bins >= 2 && bins <= 65536, s"unreasonable bin count $bins")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1), "quantiles must be in (0,1)")
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val qArray = qs.mkString(", ")
    // NULL values are excluded up front: least() skips NULLs, so an
    // unfiltered NULL would land in the TOP bin while count(*) counted
    // it into n and percentile() skipped it — phantom top-bin mass and
    // an inflated target_rank for every quantile.
    val rows = df.filter(col(valueCol).isNotNull)
    val bounds = rows.agg(
      min(v).as("lo"), max(v).as("hi"), count(lit(1)).as("n"),
      expr(s"percentile($valueCol, array($qArray))").as("exacts"))
    // Degenerate hi == lo guard lives in the shared binIndex: a constant
    // column makes the bin expression 0/0 = NaN — Spark's NaN→int cast
    // happens to yield bin 0, but the DuckDB twin errors on
    // CAST(FLOOR(NaN) AS INT), so without the guard the pair diverges
    // (one answers, one crashes) on exactly the degenerate input.
    val binCol = binIndex(v, col("lo"), col("hi"), bins)
    val hist = rows.crossJoin(broadcast(bounds.select("lo", "hi")))
      .select(binCol.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("bin_count"))
    // Bounded window: `bins` rows, never the data.
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin")).rowsBetween(Long.MinValue, 0)
    val cum = hist.withColumn("cum", sum(col("bin_count")).over(wc))
    val targets = qs.zipWithIndex.map { case (q, i) => (i, q) }.toDF("qi", "q")
      .crossJoin(broadcast(bounds))
      .select(col("qi"), col("q"), col("lo"), col("hi"), col("n"),
        ceil(col("q") * col("n").cast("double")).cast("long").as("target_rank"),
        element_at(col("exacts"), col("qi") + 1).as("exact"))
    targets
      .join(cum, col("cum") >= col("target_rank"))
      .groupBy("qi", "q", "lo", "hi", "n", "target_rank", "exact")
      .agg(min(col("bin")).as("est_bin"))
      .select(col("q"), col("n"),
        (col("lo") + (col("est_bin").cast("double") + lit(0.5))
          * (col("hi") - col("lo")) / lit(bins.toDouble)).as("estimate"),
        col("exact"),
        ((col("hi") - col("lo")) / lit(bins.toDouble)).as("bin_width"))
      .select(col("q"), col("n"), col("estimate"), col("exact"), col("bin_width"),
        abs(col("estimate") - col("exact")).as("abs_err"),
        (abs(col("estimate") - col("exact")) <= col("bin_width")).as("within_one_bin"))
  }

  /** [[quantiles]] per group — the production shape (one histogram per
    * event type / source / tenant): state is |groups|·bins counters,
    * every window is partitioned by the group, and each group gets its
    * own bounds, exact quantiles, and error audit. Degenerate groups
    * (all values equal, hi == lo) estimate the midpoint of bin 0 = the
    * value itself, so the audit still passes. */
  def quantilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
      bins: Int = 64, qs: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    require(bins >= 2 && bins <= 65536, s"unreasonable bin count $bins")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1), "quantiles must be in (0,1)")
    val spark = df.sparkSession
    import spark.implicits._
    val g = col(groupCol)
    val v = col(valueCol).cast("double")
    val qArray = qs.mkString(", ")
    // NULL-value filter: see [[quantiles]]. NULL-SAFE group joins (the
    // Hll.cardinalityByGroup convention): plain equality would silently
    // drop a NULL group from the output.
    val rows = df.filter(col(valueCol).isNotNull)
    val bounds = rows.groupBy(g.as("g")).agg(
      min(v).as("lo"), max(v).as("hi"), count(lit(1)).as("n"),
      expr(s"percentile($valueCol, array($qArray))").as("exacts"))
    val binCol = binIndex(col("v"), col("lo"), col("hi"), bins)
    val data = rows.select(g.as("gd"), v.as("v"))
    val hist = data
      .join(broadcast(bounds.select(col("g"), col("lo"), col("hi"))),
        col("gd") <=> col("g"))
      .select(col("g"), binCol.as("bin"))
      .groupBy("g", "bin").agg(count(lit(1)).as("bin_count"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("bin")).rowsBetween(Long.MinValue, 0)
    val cum = hist.withColumn("cum", sum(col("bin_count")).over(wc))
      .select(col("g").as("gc"), col("bin"), col("cum"))
    val targets = qs.zipWithIndex.map { case (q, i) => (i, q) }.toDF("qi", "q")
      .crossJoin(broadcast(bounds))
      .select(col("g"), col("qi"), col("q"), col("lo"), col("hi"), col("n"),
        ceil(col("q") * col("n").cast("double")).cast("long").as("target_rank"),
        element_at(col("exacts"), col("qi") + 1).as("exact"))
    targets
      .join(cum, (col("gc") <=> col("g")) && col("cum") >= col("target_rank"))
      .groupBy(col("g").as("grp"), col("qi"), col("q"), col("lo"), col("hi"),
        col("n"), col("target_rank"), col("exact"))
      .agg(min(col("bin")).as("est_bin"))
      .select(col("grp").as(groupCol), col("q"), col("n"),
        (col("lo") + (col("est_bin").cast("double") + lit(0.5))
          * (col("hi") - col("lo")) / lit(bins.toDouble)).as("estimate"),
        col("exact"),
        ((col("hi") - col("lo")) / lit(bins.toDouble)).as("bin_width"))
      .select(col(groupCol), col("q"), col("n"), col("estimate"), col("exact"),
        col("bin_width"),
        abs(col("estimate") - col("exact")).as("abs_err"),
        (abs(col("estimate") - col("exact")) <= col("bin_width")).as("within_one_bin"))
  }

  /** The DuckDB twin of [[quantilesByGroup]]. */
  def groupedOracleSql(from: String, groupCol: String, valueCol: String,
      bins: Int = 64, qs: Seq[Double] = Seq(0.5, 0.9)): String = {
    val exSelects = qs.zipWithIndex.map { case (q, i) =>
      s"SELECT g, $i AS qi, CAST($q AS DOUBLE) AS q, quantile_cont(v, $q) AS exact FROM src GROUP BY g"
    }.mkString("\n  UNION ALL ")
    s"""WITH src AS (
       |  SELECT $groupCol AS g, CAST($valueCol AS DOUBLE) AS v FROM $from
       |), b AS (
       |  SELECT g, MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM src GROUP BY g
       |), ex AS (
       |  $exSelects
       |), hist AS (
       |  SELECT s.g,
       |         CASE WHEN b.hi = b.lo THEN 0
       |              ELSE least($bins - 1,
       |                CAST(FLOOR((s.v - b.lo) * ${bins}.0 / (b.hi - b.lo)) AS INT)) END AS bin,
       |         CAST(COUNT(*) AS BIGINT) AS bin_count
       |  FROM src s JOIN b ON b.g = s.g GROUP BY 1, 2
       |), cum AS (
       |  SELECT g, bin, CAST(SUM(bin_count) OVER (PARTITION BY g ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM hist
       |), t AS (
       |  SELECT e.g, e.qi, e.q, e.exact, b.lo, b.hi, b.n,
       |         CAST(CEIL(e.q * CAST(b.n AS DOUBLE)) AS BIGINT) AS target_rank
       |  FROM ex e JOIN b ON b.g = e.g
       |), est AS (
       |  SELECT t.g, t.qi, t.q, t.exact, t.lo, t.hi, t.n, MIN(c.bin) AS est_bin
       |  FROM t JOIN cum c ON c.g = t.g AND c.cum >= t.target_rank
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7
       |)
       |SELECT g AS $groupCol, q, n,
       |       lo + (CAST(est_bin AS DOUBLE) + 0.5) * (hi - lo) / ${bins}.0 AS estimate,
       |       exact,
       |       (hi - lo) / ${bins}.0 AS bin_width,
       |       ABS(lo + (CAST(est_bin AS DOUBLE) + 0.5) * (hi - lo) / ${bins}.0 - exact) AS abs_err,
       |       ABS(lo + (CAST(est_bin AS DOUBLE) + 0.5) * (hi - lo) / ${bins}.0 - exact)
       |         <= (hi - lo) / ${bins}.0 AS within_one_bin
       |FROM est ORDER BY 1, 2""".stripMargin
  }

  /** The DuckDB twin of [[quantiles]], over relation `from` (column
    * `valueCol`), with the same bins and quantile list. */
  def oracleSql(from: String, valueCol: String, bins: Int = 256,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.9, 0.99)): String = {
    val exSelects = qs.zipWithIndex.map { case (q, i) =>
      s"SELECT $i AS qi, CAST($q AS DOUBLE) AS q, quantile_cont(v, $q) AS exact FROM src"
    }.mkString("\n  UNION ALL ")
    s"""WITH src AS (
       |  SELECT CAST($valueCol AS DOUBLE) AS v FROM $from
       |), b AS (
       |  SELECT MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS n FROM src
       |), ex AS (
       |  $exSelects
       |), hist AS (
       |  SELECT CASE WHEN b.hi = b.lo THEN 0
       |              ELSE least($bins - 1,
       |                CAST(FLOOR((s.v - b.lo) * ${bins}.0 / (b.hi - b.lo)) AS INT)) END AS bin,
       |         CAST(COUNT(*) AS BIGINT) AS bin_count
       |  FROM src s, b GROUP BY 1
       |), cum AS (
       |  SELECT bin, CAST(SUM(bin_count) OVER (ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM hist
       |), t AS (
       |  SELECT e.qi, e.q, e.exact, b.lo, b.hi, b.n,
       |         CAST(CEIL(e.q * CAST(b.n AS DOUBLE)) AS BIGINT) AS target_rank
       |  FROM ex e, b
       |), est AS (
       |  SELECT t.qi, t.q, t.exact, t.lo, t.hi, t.n, MIN(c.bin) AS est_bin
       |  FROM t JOIN cum c ON c.cum >= t.target_rank
       |  GROUP BY 1, 2, 3, 4, 5, 6
       |)
       |SELECT q, n,
       |       lo + (CAST(est_bin AS DOUBLE) + 0.5) * (hi - lo) / ${bins}.0 AS estimate,
       |       exact,
       |       (hi - lo) / ${bins}.0 AS bin_width,
       |       ABS(lo + (CAST(est_bin AS DOUBLE) + 0.5) * (hi - lo) / ${bins}.0 - exact) AS abs_err,
       |       ABS(lo + (CAST(est_bin AS DOUBLE) + 0.5) * (hi - lo) / ${bins}.0 - exact)
       |         <= (hi - lo) / ${bins}.0 AS within_one_bin
       |FROM est ORDER BY q""".stripMargin
  }

  /** Histogram shard-merge audit — the quantile sketch's membership
    * proof in the mergeable-sketch audit family (x175 MinHash, x191
    * HLL, x219 KMV, x226 AMS, x228 CMS, x230 Bloom): per-shard bin
    * counters built against SHARED bounds and merged by plain ADDITION
    * must equal the histogram built directly over the whole corpus,
    * bin for bin (`n_mismatch` contract 0 — every counter an exact
    * BIGINT occurrence sum), and the merged histogram must conserve
    * total mass (Σ bins = n — `mass_mismatch` 0, the invariant a
    * dropped or double-counted shard breaks first). The merged sketch
    * is then USED: each requested quantile is estimated from the
    * merged cumulative counts and audited against the exact quantile
    * with the family's within-one-bin-width verdict per row.
    *
    * The bounds are computed once over the corpus and BROADCAST to the
    * shard builds — the audit's stand-in for the production contract
    * that shard histograms only merge when built against the same
    * agreed (lo, hi, bins) config; per-shard bounds would make the bin
    * spaces incomparable and addition meaningless.
    *
    * Scale shape: one bounds aggregate and one (shard, bin) count
    * aggregate over the data; every later step runs on ≤ nShards·bins
    * counter rows or the bins-bounded cumulative window. At 100 TB
    * each shard ships `bins` longs and the coordinator adds them — the
    * property an exact global sort for quantiles loses first.
    */
  def mergeAudit(df: DataFrame, idCol: String, valueCol: String,
      nShards: Int = 8, bins: Int = 256,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.9, 0.99)): DataFrame = {
    require(nShards >= 2, s"nShards must be >= 2, got $nShards")
    require(bins >= 2 && bins <= 65536, s"unreasonable bin count $bins")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1), "quantiles must be in (0,1)")
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val qArray = qs.mkString(", ")
    // NULL-value filter: see [[quantiles]].
    val src = df.filter(col(valueCol).isNotNull)
      .select(pmod(col(idCol), lit(nShards.toLong)).as("shard"), v.as("v"))
    val bounds = src.agg(
      min(col("v")).as("lo"), max(col("v")).as("hi"),
      count(lit(1)).as("n"),
      expr(s"percentile(v, array($qArray))").as("exacts"))
    // Same hi == lo degenerate guard as the quantile entry points.
    val binCol = binIndex(col("v"), col("lo"), col("hi"), bins)
    val binned = src.crossJoin(broadcast(bounds.select("lo", "hi")))
      .select(col("shard"), binCol.as("bin"))
    val shardHist = binned.groupBy("shard", "bin")
      .agg(count(lit(1)).as("bin_count"))
    // The merge under audit: per-shard counters folded by plain addition.
    val merged = shardHist.groupBy("bin")
      .agg(sum(col("bin_count")).as("c_merged"))
    val direct = binned.groupBy("bin").agg(count(lit(1)).as("c_direct"))
    val mm = Sharding.mergeMismatches(merged, direct, Seq("bin"), "c_merged", "c_direct")
    val mass = merged.agg(coalesce(sum(col("c_merged")), lit(0L)).as("m"))
      .crossJoin(broadcast(bounds.select(col("n"))))
      .select(when(col("m") =!= col("n"), lit(1L)).otherwise(lit(0L))
        .as("mass_mismatch"))
    // Bounded window: `bins` rows, never the data.
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin")).rowsBetween(Long.MinValue, 0)
    val cum = merged.withColumn("cum", sum(col("c_merged")).over(wc))
    val targets = qs.zipWithIndex.map { case (q, i) => (i, q) }.toDF("qi", "q")
      .crossJoin(broadcast(bounds))
      .select(col("qi"), col("q"), col("lo"), col("hi"), col("n"),
        ceil(col("q") * col("n").cast("double")).cast("long").as("target_rank"),
        element_at(col("exacts"), col("qi") + 1).as("exact"))
    targets
      .join(cum, col("cum") >= col("target_rank"))
      .groupBy("qi", "q", "lo", "hi", "n", "target_rank", "exact")
      .agg(min(col("bin")).as("est_bin"))
      .crossJoin(broadcast(mm)).crossJoin(broadcast(mass))
      .select(col("q"), lit(nShards.toLong).as("n_shards"),
        col("n_mismatch"), col("mass_mismatch"), col("n"),
        (col("lo") + (col("est_bin").cast("double") + lit(0.5))
          * (col("hi") - col("lo")) / lit(bins.toDouble)).as("estimate"),
        col("exact"),
        ((col("hi") - col("lo")) / lit(bins.toDouble)).as("bin_width"))
      .select(col("q"), col("n_shards"), col("n_mismatch"),
        col("mass_mismatch"), col("n"), col("estimate"), col("exact"),
        col("bin_width"),
        abs(col("estimate") - col("exact")).as("abs_err"),
        (abs(col("estimate") - col("exact")) <= col("bin_width"))
          .as("within_one_bin"))
      .orderBy("q")
  }

  /** The DuckDB twin of [[mergeAudit]], over relation/subquery `from`
    * (columns `idCol`, `valueCol`). */
  def mergeAuditOracleSql(from: String, idCol: String, valueCol: String,
      nShards: Int = 8, bins: Int = 256,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.9, 0.99)): String = {
    val exSelects = qs.zipWithIndex.map { case (q, i) =>
      s"SELECT $i AS qi, CAST($q AS DOUBLE) AS q, quantile_cont(v, $q) AS exact FROM src"
    }.mkString("\n  UNION ALL ")
    s"""WITH src AS (
       |  SELECT $idCol % $nShards AS shard, CAST($valueCol AS DOUBLE) AS v
       |  FROM $from
       |), b AS (
       |  SELECT MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS n FROM src
       |), ex AS (
       |  $exSelects
       |), binned AS (
       |  SELECT s.shard,
       |         CASE WHEN b.hi = b.lo THEN 0
       |              ELSE least($bins - 1,
       |                CAST(FLOOR((s.v - b.lo) * ${bins}.0 / (b.hi - b.lo)) AS INT)) END AS bin
       |  FROM src s, b
       |), sh AS (
       |  SELECT shard, bin, CAST(COUNT(*) AS BIGINT) AS bin_count
       |  FROM binned GROUP BY 1, 2
       |), mgd AS (
       |  SELECT bin, CAST(SUM(bin_count) AS BIGINT) AS c_merged FROM sh GROUP BY 1
       |), dg AS (
       |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS c_direct FROM binned GROUP BY 1
       |), mm AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN m.c_merged IS NULL OR d.c_direct IS NULL
       |                                 OR m.c_merged <> d.c_direct
       |                            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_mismatch
       |  FROM mgd m FULL OUTER JOIN dg d ON d.bin = m.bin
       |), ms AS (
       |  SELECT CAST(CASE WHEN (SELECT CAST(COALESCE(SUM(c_merged), 0) AS BIGINT) FROM mgd)
       |                   <> b.n THEN 1 ELSE 0 END AS BIGINT) AS mass_mismatch
       |  FROM b
       |), cum AS (
       |  SELECT bin, CAST(SUM(c_merged) OVER (ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM mgd
       |), t AS (
       |  SELECT e.qi, e.q, e.exact, b.lo, b.hi, b.n,
       |         CAST(CEIL(e.q * CAST(b.n AS DOUBLE)) AS BIGINT) AS target_rank
       |  FROM ex e, b
       |), est AS (
       |  SELECT t.qi, t.q, t.exact, t.lo, t.hi, t.n, MIN(c.bin) AS est_bin
       |  FROM t JOIN cum c ON c.cum >= t.target_rank
       |  GROUP BY 1, 2, 3, 4, 5, 6
       |)
       |SELECT q, CAST($nShards AS BIGINT) AS n_shards, mm.n_mismatch,
       |       ms.mass_mismatch, n,
       |       lo + (CAST(est_bin AS DOUBLE) + 0.5) * (hi - lo) / ${bins}.0 AS estimate,
       |       exact,
       |       (hi - lo) / ${bins}.0 AS bin_width,
       |       ABS(lo + (CAST(est_bin AS DOUBLE) + 0.5) * (hi - lo) / ${bins}.0 - exact) AS abs_err,
       |       ABS(lo + (CAST(est_bin AS DOUBLE) + 0.5) * (hi - lo) / ${bins}.0 - exact)
       |         <= (hi - lo) / ${bins}.0 AS within_one_bin
       |FROM est CROSS JOIN mm CROSS JOIN ms ORDER BY q""".stripMargin
  }
}
