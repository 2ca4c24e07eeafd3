package graft

import graft.obs.JobStats
import graft.queries.Registry
import graft.warehouse.View

/** Benchmark main (driver contract): times the headline query set at
  * SPARK_GRAFT_SF_DIR, writes the full metric JSON to bench.json, and
  * prints it plus a SHORT headline line
  * {"metric":"total","value":N,"unit":"sec","sf":...} as the FINAL
  * stdout line — the driver's tail capture truncates long lines from the
  * front, so the headline stays parseable even when the per-query map
  * does not (three rounds of BENCH "parsed": null were exactly this).
  *
  * Methodology:
  *   - queries run in sorted-name order (stable across JVMs; Map order
  *     would charge warmup noise to an arbitrary query)
  *   - a warmup pass first materializes the cached revenue-summary view
  *     and exercises codegen, so per-query numbers measure the query,
  *     not JVM/session warmup (the warmup cost is reported separately
  *     inside the JSON as "_warmup" and included in the total, since a
  *     cold engine is part of end-to-end wall-clock)
  *   - "queries"/"value" record each query's FIRST (cold) run — the
  *     series comparable to earlier rounds. The cold series measures an
  *     END-TO-END SESSION replaying the whole set in slot order: the
  *     library's memo caches (trained models, banded candidates, the
  *     annPairs verified-pair set) stay WARM across sibling queries
  *     within the cold sweep, so a graph query whose sibling already
  *     built the shared pair set records the incremental cost — the
  *     production shape, where a session computes the pair index once.
  *     The per-query steady-state series is the MEDIAN below, whose
  *     reruns clear those caches (round-12 clarification, on advice).
  *   - EVERY successful query then reruns — twice for most (3-sample
  *     median), four times when cold beat [[FiveRunThresholdSec]]
  *     (5-sample) — and "queries_median"/"median_total" carry that
  *     median — the noise-robust series (this host shows ±4s VM noise;
  *     r3's x10/x12/q04/r01 "regressions" were it, and r9's
  *     single-sample 47 s x182 was the same failure mode on the
  *     formerly rerun-exempt >=15 s tier). Every library memo cache
  *     (each `ops.Ckpt.Memo`: trained k-means, minhash bands, ANN
  *     candidates, Report's monthly rollup …) is CLEARED before every
  *     rerun by `Ckpt.clearAll`: a median that hits the kmCache
  *     measures a TrieMap lookup, not the work (r6: x57 median 0.096 s
  *     vs cold 10.18 s was exactly that; r02 read 0.08 s against a
  *     2.2 s cold before the rollup was cleared too). The ONE
  *     deliberate exception is View.dw, which is not a memo: derived-
  *     view REUSE is the S3 operator itself (the reference recomputes
  *     its view per query; we materialize once per session by design),
  *     so the q/r-family reruns read the warm view and the view's build
  *     cost is the q-family cold. A model-training query's median can
  *     therefore exceed its cold run when the cold freeloaded on a
  *     sibling's cache (x58 after x57).
  *   - reruns are scheduled as TWO FULL SWEEPS over the query set AFTER
  *     the cold sweep, not back-to-back per query (round-12 directive:
  *     round 11's x28–x38 block showed one ~90 s host-contention window
  *     poisoning cold AND all reruns of ten adjacent slots — temporally
  *     adjacent samples made even the medians unusable as exoneration
  *     evidence). Each query's samples now come from THREE disjoint
  *     wall-clock windows (cold sweep, sweep 1, sweep 2, each minutes
  *     apart), so any single contention window can poison at most one
  *     sweep's sample(s) per query — a minority of every 3- or 5-sample
  *     median.
  *   - every rerun is counted by a [[JobStats]] collector, and bench.json
  *     (file only) carries each query's "structure": one
  *     [jobs, stages, tasks, task_s] entry per rerun, in rerun order, and
  *     the "regime" its reruns ran in (queries.Regime: "small", "large",
  *     or "large/small" when they differ).
  *     Wall-clock on a shared host cannot tell contention from a
  *     regression; a changed structure is a changed program, so
  *     tools/bench_table.py --movers routes each mover by it.
  *   - results are materialized through the noop sink: count() lets
  *     Catalyst drop sorts/projections, under-measuring ORDER BY queries;
  *     noop forces the full physical plan
  *   - O(n²) diagnostic queries are excluded via QueryDef.bench from the
  *     headline, but timed once at bounded scale (the sibling sf0.01
  *     dir) into bench_diag.json, so the "diagnostic, not scale path"
  *     claim carries wall-clock numbers
  *   - a failed query records the sentinel -1 and lands in "failed", so a
  *     broken query can never silently improve the headline total
  *   - a physical-layout demo runs after the query set: the orderkey
  *     fact⋈fact aggregate is timed twice — plain parquet (shuffles both
  *     sides) vs Layout.writeBucketed tables (bucket join, no Exchange —
  *     plan proven in LayoutSpec, wall-clock shown here). Reported as
  *     "_fact_join_shuffled" / "_bucket_write" / "_fact_join_bucketed";
  *     layout prep is a one-time cost, so these do NOT enter the total
  */
object Bench {

  /** Queries colder than this get a 5-sample median instead of 3: the
    * host's ±1s VM noise is the same order as a sub-2s query's cost, so
    * 3-sample medians still flapped round-over-round (r3's x10/x12, r4's
    * x21/s06); 5 samples of a fast query are cheap by definition. */
  val FiveRunThresholdSec = 2.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // A query that throws records the -1 sentinel (and its name in
    // "failed") instead of its near-zero elapsed time — a broken query
    // must never make the headline number look better.
    def materialize(name: String, dir: String): Double = {
      var ok = true
      val t = timed {
        try Registry.queryMap(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          ok = false
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
      if (ok) t else -1.0
    }

    // Rerun timing for the median series: a rerun failure must NOT mark a
    // cold-successful query as failed in the headline (nor enter it twice),
    // so reruns record nothing — they only contribute a sample or don't.
    // Each rerun also records the regime its frame ran in (file-only).
    val regimes = scala.collection.mutable.Map.empty[String, Seq[String]]
    def timeQuiet(name: String): Double =
      try {
        val r = Probe.run(spark, name, sfDir)
        regimes(name) = regimes.getOrElse(name, Nil) ++ r.regime.map(_.name)
        r.seconds
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name rerun failed (median falls back): ${e.getMessage}")
        -1.0
      }

    // Warmup: build + cache the view (counts as engine cost, reported).
    val warmup = timed { View.dw(spark, sfDir).count() }

    // Local-iteration filter (the driver never sets it): restrict the
    // headline set to comma-separated name prefixes, e.g.
    // SPARK_GRAFT_BENCH_ONLY=x21,s06 for a targeted noise check.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(','))
    val names = Registry.benchSet.map(_.name)
      .filter(n => only.forall(_.exists(n.startsWith))).sorted

    // Sweep 0: every query's cold run, in slot order.
    val colds = names.map(n => n -> materialize(n, sfDir))

    // Sweeps 1 and 2: one rerun per slow query, two per fast query,
    // again in slot order over the WHOLE set — so the sweeps land in
    // disjoint wall-clock windows minutes apart (see the methodology
    // scaladoc: a single contention window can then poison at most a
    // minority of any query's samples). Sub-[[FiveRunThresholdSec]]
    // colds end up with a 5-sample median, everything else 3-sample —
    // NO query gets a single sample (round-9 directive). If any rerun
    // fails, the median falls back to cold (an even-sample "median"
    // would just pick an arbitrary one).
    val stats = new JobStats(spark.sparkContext)
    def rerunSweep(): Map[String, Seq[(Double, JobStats.Counts)]] =
      colds.collect { case (n, c) if c >= 0 =>
        val perSweep = if (c < FiveRunThresholdSec) 2 else 1
        n -> Seq.fill(perSweep)((stats.measure(n)(timeQuiet(n)), stats.counts(n)))
      }.toMap
    val sweep1 = rerunSweep()
    val sweep2 = rerunSweep()
    stats.close()

    // Per query, its reruns' (seconds, structure) in rerun order.
    val reruns = colds.map { case (n, _) =>
      n -> (sweep1.getOrElse(n, Nil) ++ sweep2.getOrElse(n, Nil))
    }
    val medians = colds.zip(reruns).map { case ((n, cold), (_, rs)) =>
      if (cold < 0 || rs.exists(_._1 < 0)) n -> cold
      else { val all = (cold +: rs.map(_._1)).sorted; n -> all(all.size / 2) }
    }
    val total = warmup + colds.collect { case (_, t) if t >= 0 => t }.sum
    val medianTotal = warmup + medians.collect { case (_, t) if t >= 0 => t }.sum

    // Layout demo (excluded from total — see scaladoc). A stale managed-
    // table location from a previous run (fresh session, same /tmp
    // warehouse) would fail saveAsTable, so the warehouse is wiped first;
    // and the demo is fenced so its failure can never cost the round its
    // bench.json.
    val layoutTimes =
      try {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.functions._
        import scala.reflect.io.Directory
        val warehouse = java.net.URI.create(
          spark.conf.get("spark.sql.warehouse.dir")).getPath
        new Directory(new java.io.File(warehouse)).deleteRecursively()
        spark.sql("DROP TABLE IF EXISTS bench_orders_bkt")
        spark.sql("DROP TABLE IF EXISTS bench_lineitem_bkt")
        val t = graft.io.Tables(spark, sfDir)
        def factAgg(l: DataFrame, o: DataFrame): DataFrame =
          l.join(o, col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n_items"),
              sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        def run(df: DataFrame): Double =
          timed(df.write.format("noop").mode("overwrite").save())
        val shuffled = run(factAgg(t.lineitem, t.orders))
        val prep = timed {
          graft.io.Layout.writeBucketed(t.orders, "bench_orders_bkt", "o_orderkey")
          graft.io.Layout.writeBucketed(t.lineitem, "bench_lineitem_bkt", "l_orderkey")
        }
        val bucketed = run(factAgg(spark.table("bench_lineitem_bkt"), spark.table("bench_orders_bkt")))
        // Zone-map skipping demo (x63's reader half): the same selective
        // key-range aggregate against unclustered vs zone-clustered
        // layouts of the orders table. 1 MB row groups stand in for the
        // many-files/many-groups geometry of a real deployment; LayoutSpec
        // proves the skip from scan metrics, this pair wall-clocks it.
        // Fenced separately: a zone-demo failure must not discard the
        // bucket-demo numbers already measured above.
        val zoneTimes =
          try {
            val zoneDir = "/tmp/graft-bench-zone"
            val plainDir = "/tmp/graft-bench-zone-plain"
            val maxKey = t.orders.agg(max(col("o_orderkey"))).first().getLong(0)
            val zonePrep = timed {
              t.orders.write.mode("overwrite")
                .option("parquet.block.size", 1024L * 1024).parquet(plainDir)
              graft.io.Layout.writeZoneClustered(t.orders, zoneDir, "o_orderkey",
                rowGroupBytes = 1024L * 1024)
            }
            def zoneScan(path: String): Double = run {
              spark.read.parquet(path)
                .filter(col("o_orderkey") <= maxKey / 100)
                .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s"))
            }
            val zonePlain = zoneScan(plainDir)
            val zoneClustered = zoneScan(zoneDir)
            Seq("_zone_write" -> zonePrep, "_zone_scan_plain" -> zonePlain,
              "_zone_scan_clustered" -> zoneClustered)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] zone demo failed: ${e.getMessage}")
            failed += "_zone_demo"
            Seq.empty
          }
        Seq("_fact_join_shuffled" -> shuffled, "_bucket_write" -> prep,
          "_fact_join_bucketed" -> bucketed) ++ zoneTimes
      } catch { case e: Throwable =>
        System.err.println(s"[bench] layout demo failed: ${e.getMessage}")
        failed += "_layout_demo"
        Seq.empty
      }

    // Locale.ROOT formatting for EVERYTHING machine-parsed: the f
    // interpolator uses the JVM default locale, so a de/fr host would
    // render "1,234" and silently break bench.json's parser.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def timesJson(ts: Seq[(String, Double)]): String =
      ts.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")

    // Snapshot before the diag pass: a diag-only failure shows up as a -1
    // in bench_diag.json, not in the headline's "failed" list.
    val headlineFailed = failed.toList

    // Bounded-scale timing of the declared-diagnostic (bench=false)
    // queries — the O(n²) diagnostics carry a wall-clock number at the
    // sibling sf0.01 instead of silently never being measured. Fenced so
    // a diag failure cannot cost the round its bench.json.
    val diagJson =
      try {
        val diagDir = sys.env.getOrElse("SPARK_GRAFT_DIAG_DIR",
          java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString)
        if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(diagDir))) None
        else {
          // Honor the SPARK_GRAFT_BENCH_ONLY filter here too: a targeted
          // local noise check must not pay minutes of unrelated O(n²)
          // diagnostics (or overwrite bench_diag.json with them).
          val diagNames = Registry.all.filterNot(_.bench).map(_.name)
            .filter(n => only.forall(_.exists(n.startsWith))).sorted
          // A filter that matches no diagnostics writes NOTHING: an
          // empty bench_diag.json would silently clobber the committed
          // full-run artifact on every targeted local iteration.
          if (diagNames.isEmpty) None
          else {
            val diag = diagNames.map(n => n -> materialize(n, diagDir))
            val diagTotal = diag.collect { case (_, t) if t >= 0 => t }.sum
            Some(
              s"""{"metric":"diag_total","value":${num(diagTotal)},"unit":"sec","queries":${timesJson(diag)},"sf":"$diagDir"}""")
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] diag pass failed: ${e.getMessage}")
        None
      }
    diagJson.foreach(j => java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_diag.json"), j + "\n"))

    val failedJson = headlineFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The run's core count and per-rerun [jobs, stages, tasks, task_s] —
    // file-only (bench.json is the canonical machine-readable artifact;
    // stdout stays short for the driver's tail capture).
    val structureJson = reruns.filter(_._2.nonEmpty).map { case (n, rs) =>
      "\"" + n + "\":" + rs.map { case (_, c) =>
        s"[${c.jobs},${c.stages},${c.tasks},${num(c.taskMs / 1e3)}]"
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":${timesJson(("_warmup" -> warmup) +: (colds ++ layoutTimes))},"median_total":${num(medianTotal)},"queries_median":${timesJson(medians)},"failed":$failedJson,"sf":"$sfDir"}"""
    // A row whose reruns ran in different regimes reads "large/small".
    val regimeJson = colds.flatMap { case (n, _) =>
      regimes.get(n).map(rs => s"\"$n\":\"${rs.distinct.sorted.mkString("/")}\"")
    }.mkString("{", ",", "}")
    val fileJson = json.dropRight(1) +
      s""","cores":${spark.sparkContext.defaultParallelism},"structure":$structureJson,"regime":$regimeJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), fileJson + "\n")
    spark.stop()
    // Printed after spark.stop() so no executor/log line can interleave.
    // The full JSON first, then the SHORT headline as the very last line:
    // the driver's tail capture truncates long lines from the front, so
    // only a line this small is guaranteed to reach its parser intact;
    // bench.json above is the canonical machine-readable copy.
    println(json)
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","median_total":${num(medianTotal)},"sf":"$sfDir"}""")
  }
}
