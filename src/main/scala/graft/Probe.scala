package graft

import graft.obs.JobStats
import graft.queries.{Regime, Registry}
import org.apache.spark.sql.SparkSession

/** Per-query inspection in Bench's session (see [[Session]]):
  *
  *   runMain graft.Probe time   [sfDir] [reps] q1[,q2...]
  *   runMain graft.Probe stages [sfDir] [reps] q1[,q2...]
  *   runMain graft.Probe plan   [sfDir] [q1[,q2...]]
  *
  *  - `time`: each named query run `reps` times back-to-back (rep 1 =
  *    cold build, later reps = steady state), every memo cache cleared
  *    before every rep exactly as Bench's reruns clear them — the tool
  *    behind BASELINE_BENCH's ">= 3-rep isolated adjudication" policy:
  *    an adjudication only means something if it measures the same
  *    quantity as the committed median it adjudicates.
  *  - `stages`: the same reps counted by a [[JobStats]] collector, printing
  *    per-job wall-clock, stage count, task count and summed task time —
  *    the local[N] stand-in for the Spark UI's Jobs/Stages pages (the UI
  *    is off in every measured session). This distinguishes "the seconds
  *    are in one heavy shuffle" from "the seconds are 40 tiny stages of
  *    scheduling overhead", which one wall-clock number cannot. Reps >= 2
  *    recommended: rep 1 pays codegen.
  *  - `plan`: the formatted physical plan (scan pushdowns, codegen spans,
  *    exchange count) of each named query, or of every benched query when
  *    none is named — the plan-diff half of an adjudication.
  *
  * `stages` and `plan` also print each query's [[Regime]] and the leaf
  * bytes that chose it.
  *
  * An integer argument is `reps`, a path (an existing directory or
  * anything containing '/') is `sfDir`, anything else a query list.
  */
object Probe {
  private val usage =
    "usage: Probe <time|stages|plan> [sfDir] [reps] q1[,q2...]"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse(sys.error(usage))
    val rest = args.toSeq.drop(1)
    def isDir(a: String) = a.contains('/') || new java.io.File(a).isDirectory
    val dir = rest.find(isDir).getOrElse(
      if (mode == "plan") "/root/testdata/sf0.001" else "/root/testdata/sf0.1")
    val reps = rest.find(_.forall(_.isDigit)).map(_.toInt)
      .getOrElse(if (mode == "stages") 2 else 3)
    val names = rest.filterNot(a => isDir(a) || a.forall(_.isDigit))
      .flatMap(_.split(',')).filter(_.nonEmpty)
    names.filterNot(Registry.queryMap.contains).foreach(n =>
      sys.error(s"unknown query: $n (see queries.Registry)"))
    mode match {
      case "time" | "stages" => require(names.nonEmpty, usage)
      case "plan"            =>
      case _                 => sys.error(usage)
    }

    val spark = Session()
    mode match {
      case "time" => names.foreach { name =>
        val times = (1 to reps).map(_ => run(spark, name, dir).seconds)
        val med = times.sorted.apply(times.size / 2)
        println(f"[qprobe] $name: ${times.map(t => f"$t%.2f").mkString(" ")}" +
          f" -> median $med%.2f s")
      }
      case "stages" =>
        val stats = new JobStats(spark.sparkContext)
        for (name <- names; rep <- 1 to reps) {
          val r = stats.measure(name)(run(spark, name, dir))
          printStages(stats, name, rep, r, rep == reps)
        }
        stats.close()
      case "plan" =>
        (if (names.isEmpty) Registry.benchSet.map(_.name) else names).foreach { n =>
          println(s"\n===== $n =====")
          val df = Registry.queryMap(n)(spark, dir)
          println(s"regime: ${Regime.of(df).getOrElse("unknown")}")
          df.explain("formatted")
        }
    }
    spark.stop()
  }

  /** One run's wall-clock and the regime its frame ran in. */
  final case class Run(seconds: Double, regime: Option[Regime.Choice])

  /** One memo-cold run of a registered query through the noop sink: every
    * memo cache is cleared first, as Bench's reruns clear them. */
  def run(spark: SparkSession, name: String, dir: String): Run = {
    ops.Ckpt.clearAll(spark)
    val t0 = System.nanoTime()
    val df = Registry.queryMap(name)(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    Run((System.nanoTime() - t0) / 1e9, Regime.of(df))
  }

  /** Prints one rep's totals, and per-job and top-12 per-stage rows when
    * `detail`. */
  private def printStages(stats: JobStats, name: String, rep: Int, r: Run,
      detail: Boolean): Unit = {
    val jobs = stats.jobs(name)
    val c = stats.counts(name)
    println(f"[sprobe] $name rep$rep wall=${r.seconds}%.2f s, " +
      f"${c.jobs} jobs (Σjob ${jobs.map(_.wallMs).sum / 1e3}%.2f s), " +
      f"${c.stages} stages, ${c.tasks} tasks, Σtask ${c.taskMs / 1e3}%.2f s, " +
      s"regime ${r.regime.getOrElse("unknown")}")
    if (detail) {
      jobs.sortBy(_.id).foreach { j =>
        println(f"[sprobe]   job ${j.id}%3d ${j.wallMs / 1e3}%6.2f s " +
          f"${j.stages}%3d stages ${j.tasks}%4d tasks Σtask ${j.taskMs / 1e3}%7.2f s")
      }
      stats.stages(name).sortBy(-_.taskMs).take(12).foreach { s =>
        println(f"[sprobe]   stage ${s.id}%4d ${s.tasks}%4d tasks " +
          f"Σtask ${s.taskMs / 1e3}%7.2f s  ${s.name}%s")
      }
    }
  }
}
