package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The state of one benchmark run that workloads report into. */
final class Run(val spark: SparkSession, val rec: Recorder, val seed: Long, val scratch: File) {
  val latenciesMs = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failedOps = 0
  var failedChecks = 0
  var timed = false
  /** Largest cached size seen at the end of a round, before the next
    * round clears the memo caches. */
  var cachedPeak = 0L

  /** Runs one operation; times it when the run is in its timed phase. A
    * thrown exception counts as a failed operation. */
  def op[T](name: String)(body: => T): Option[T] = {
    if (timed) attempted += 1
    val t0 = System.nanoTime()
    val out =
      try Some(rec.span("op", name)(body))
      catch {
        case e: Exception =>
          synchronized(failedOps += 1)
          System.err.println(s"[perfbench] operation $name failed: $e")
          None
      }
    if (timed && out.isDefined) latenciesMs += (System.nanoTime() - t0) / 1e6
    out
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      synchronized(failedChecks += 1)
      System.err.println(s"[perfbench] check failed: $what")
    }

  /** Runs untimed work on one thread per core and waits for all of it.
    * Only warm passes use this: it shortens set-up, and the timed part
    * stays a single client. */
  def parallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Clears every memo cache that graft.Bench clears. View.dw is kept:
    * reusing the view is the engine's design. */
  def clearMemoCaches(): Unit = {
    graft.ext.Dedup.clearCaches(spark)
    graft.ext.TextAnalysis.clearCaches(spark)
    graft.ext.Similarity.clearCaches(spark)
    graft.ext.Curation.clearCaches(spark)
    graft.queries.Report.clearCaches(spark)
    graft.ops.Kmv.clearCaches(spark)
  }
}

/** Benchmark entry point.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir>
  *
  * Writes the base tables under `<work>/data` once, builds the revenue view
  * [[SetupRounds]] times on fresh copies of them, runs one warm pass, then
  * runs timed rounds until `--seconds` have passed. The last line of
  * standard output is the result as one JSON object.
  */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracing = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val workload = Workload(workloadName)
    val scratch = new File(work, s"run-${ProcessHandle.current().pid()}")

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val rec = new Recorder(spark.sparkContext, tracing)
      val run = new Run(spark, rec, seed, scratch)
      rec.phase("data")
      val base = new File(work, "data")
      Data.ensure(spark, base)

      // Set-up is what a user pays before the first operation: the session,
      // the revenue view and one warm pass. The view build is repeated on
      // fresh copies of the base tables and its median taken; the warm pass
      // runs once, over the last copy.
      rec.phase("setup")
      val viewS = (0 until SetupRounds).map { i =>
        val dir = new File(scratch, s"setup-$i").getPath
        Files.copy(base, new File(dir))
        val t0 = System.nanoTime()
        val dw = Workload.buildView(run, dir)
        val s = (System.nanoTime() - t0) / 1e9
        if (i < SetupRounds - 1) dw.unpersist(blocking = true)
        s
      }
      val dir = new File(scratch, s"setup-${SetupRounds - 1}").getPath
      val warmStart = System.nanoTime()
      workload.warm(run, dir)
      val warmS = (System.nanoTime() - warmStart) / 1e9

      run.clearMemoCaches()
      val storageAtStart = rec.cachedBytes()
      rec.phase("timed")
      run.timed = true
      val timedStart = System.nanoTime()
      // Whole rounds only, so every run weighs each query, interaction kind
      // or kernel equally.
      val deadline = timedStart + (seconds * 1e9).toLong
      var round = 0
      while (System.nanoTime() < deadline) {
        workload.round(run, dir, round)
        run.cachedPeak = math.max(run.cachedPeak, rec.cachedBytes())
        round += 1
      }
      val wallS = (System.nanoTime() - timedStart) / 1e9
      run.timed = false
      rec.phase("final")
      run.clearMemoCaches()
      val retained = rec.cachedBytes()

      val lat = run.latenciesMs.toSeq
      val n = lat.size
      val failed = run.failedOps + run.failedChecks
      val timedCounters = rec.phaseCounters("timed")
      val tailP = Stats.tailPercentile(n)
      val endToEnd: Seq[(String, Double, String)] = if (n == 0) Nil else Seq(
        ("setup_s", sessionS + Stats.median(viewS) + warmS, "s"),
        ("op_p50_ms", Stats.median(lat), "ms"),
        ("cpu_ms_per_op", timedCounters.cpuNs / 1e6 / n, "ms"))

      println(f"# workload=$workloadName seed=$seed rounds=$round timed_wall_s=$wallS%.2f " +
        f"ops=$n attempted=${run.attempted} failed_ops=${run.failedOps} " +
        f"failed_checks=${run.failedChecks} failed_frac=${failed.toDouble / math.max(1, run.attempted)}%.4f")
      println(f"# session_s=$sessionS%.3f view_builds_s=${viewS.map(s => f"$s%.3f").mkString(",")} " +
        f"warm_s=$warmS%.3f cached_mb: at timed start ${storageAtStart / 1e6}%.3f, " +
        f"peak at round end ${run.cachedPeak / 1e6}%.3f, retained after the final clear ${retained / 1e6}%.3f")
      endToEnd.foreach { case (k, v, u) => println(f"# $k%-18s $v%14.4f $u") }
      // The tail is printed, not gated: which percentile the sample count
      // supports changes with the number of rounds that fit in a run.
      if (n >= 20) println(f"# op_p${tailP.toInt}_ms ${Stats.percentile(lat, tailP)}%.4f ms " +
        f"(highest percentile with at least 10 of $n samples beyond it)")
      else println(s"# no tail percentile: $n samples leave fewer than 10 beyond any percentile above the median")

      val metrics =
        if (!tracing || n == 0) endToEnd
        else {
          val layers = new LayerReport(rec, timedStart, lat, n, run.cachedPeak, retained, storageAtStart)
          layers.print()
          val spansFile = new File(work, s"out/spans-$workloadName-$seed.json")
          spansFile.getParentFile.mkdirs()
          java.nio.file.Files.write(spansFile.toPath,
            Recorder.jsonSpans(rec.allSpans, timedStart).getBytes("UTF-8"))
          println(s"# spans written to ${spansFile.getPath}")
          layers.metrics
        }
      val correct = n > 0 && failed == 0
      val body = metrics.map { case (k, v, u) => f""""$k": {"value": $v, "unit": "$u"}""" }
        .mkString(", ")
      println(s"""{"correct": $correct, "attempted": ${math.max(1, run.attempted)}, """ +
        s""""failed": $failed, "metrics": {$body}}""")
    } finally {
      spark.stop()
      Files.delete(scratch)
    }
  }
}

/** Per-layer numbers from the spans of a traced run. A span's self time is
  * its duration minus the time its child spans cover. */
final class LayerReport(rec: Recorder, timedStart: Long, lat: Seq[Double], n: Int,
    cachedPeak: Long, retained: Long, storageAtStart: Long) {
  private val spans = rec.allSpans
  private val timed = spans.filter(_._1.startNs >= timedStart)
  private val childMs: Map[Int, Double] =
    timed.groupBy(_._1.parent).map { case (p, cs) => p -> cs.map(_._1.ms).sum }
  private def self(s: Span): Double = s.ms - childMs.getOrElse(s.id, 0.0)
  private val opMs = lat.sum

  private def in(layer: String, names: String => Boolean = _ => true) =
    timed.filter { case (s, _) => s.layer == layer && names(s.name) }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def selfPct(layer: String): Double = in(layer).map(x => self(x._1)).sum / opMs * 100
  private def total(xs: Seq[(Span, Counters)]): Counters = {
    val t = new Counters
    xs.foreach(x => t.add(x._2))
    t
  }

  private val opens = in("io", _.startsWith("open "))
  private val builds = spans.filter(s => s._1.layer == "warehouse" && s._1.name == "View.dw build")
  private val plans = in("queries", _.startsWith("plan "))
  private val execs = in("queries", _.startsWith("exec "))
  private val ext = total(in("ext"))
  private val graphs = in("ops", n => n.startsWith("PageRank.") || n.startsWith("Graph."))
  private val phase = rec.phaseCounters("timed")
  private val perQuery = math.max(1, execs.size)

  val metrics: Seq[(String, Double, String)] = Seq(
    ("trace.op_p50_ms", Stats.median(lat), "ms"),
    ("exec.task_ms_per_op", phase.runMs.toDouble / n, "ms"),
    ("io.open_ms", mean(opens.map(_._1.ms)), "ms"),
    ("io.open_jobs", mean(opens.map(_._2.jobs.toDouble)), "count"),
    ("io.input_mb", phase.inputBytes / 1e6 / n, "MB"),
    ("io.write_mb", phase.outputBytes / 1e6 / n, "MB"),
    ("io.self_pct", selfPct("io"), "%"),
    ("warehouse.view_build_s", Stats.median(builds.map(_._1.ms / 1e3)), "s"),
    ("warehouse.view_jobs", mean(builds.map(_._2.jobs.toDouble)), "count"),
    ("warehouse.view_task_s", mean(builds.map(_._2.runMs / 1e3)), "s"),
    ("warehouse.self_pct", selfPct("warehouse"), "%"),
    ("queries.plan_jobs", total(plans).jobs.toDouble / perQuery, "count"),
    ("queries.jobs", total(plans ++ execs).jobs.toDouble / perQuery, "count"),
    ("queries.shuffle_mb", total(plans ++ execs).shuffleWriteBytes / 1e6 / perQuery, "MB"),
    ("queries.self_pct", selfPct("queries"), "%"),
    ("service.jobs", mean(in("service").map(_._2.jobs.toDouble)), "count"),
    ("service.self_pct", selfPct("service"), "%"),
    ("ext.jobs", ext.jobs.toDouble / n, "count"),
    ("ext.shuffle_mb", ext.shuffleWriteBytes / 1e6 / n, "MB"),
    ("ext.spill_mb", ext.spillBytes / 1e6 / n, "MB"),
    ("ext.skipped_stage_ratio", if (ext.stages == 0) 0.0 else ext.skippedStages.toDouble / ext.stages, "ratio"),
    ("ext.self_pct", selfPct("ext"), "%"),
    ("ops.graph_jobs", mean(graphs.map(_._2.jobs.toDouble)), "count"),
    ("ops.self_pct", selfPct("ops"), "%"),
    ("failed_tasks", phase.failedTasks.toDouble, "count"),
    ("cached.peak_mb", cachedPeak / 1e6, "MB"),
    ("cached.retained_mb", retained / 1e6, "MB"),
    ("cached.growth_mb", (retained - storageAtStart) / 1e6, "MB"))

  /** Prints the per-call table: every span name in the timed part with its
    * call count, median time, and scheduler work per call. */
  def print(): Unit = {
    println("# layer     call                                    calls   median_ms  mean_self_ms  jobs/call  task_s/call  shuffle_mb/call")
    timed.filter(_._1.layer != "op").groupBy(x => (x._1.layer, x._1.name.replaceAll("^(plan|exec) .*", "$1")))
      .toSeq.sortBy(_._1).foreach { case ((layer, name), xs) =>
        val c = total(xs)
        println(f"# $layer%-9s $name%-38s ${xs.size}%6d ${Stats.median(xs.map(_._1.ms))}%11.3f " +
          f"${mean(xs.map(x => self(x._1)))}%13.3f ${c.jobs.toDouble / xs.size}%10.2f " +
          f"${c.runMs / 1e3 / xs.size}%12.4f ${c.shuffleWriteBytes / 1e6 / xs.size}%16.4f")
      }
    metrics.foreach { case (k, v, u) => println(f"# $k%-28s $v%14.4f $u") }
  }
}
