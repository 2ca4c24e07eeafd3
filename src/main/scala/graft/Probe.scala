package graft

import graft.obs.JobStats
import graft.queries.Registry
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
        val times = (1 to reps).map(_ => run(spark, name, dir))
        val med = times.sorted.apply(times.size / 2)
        println(f"[qprobe] $name: ${times.map(t => f"$t%.2f").mkString(" ")}" +
          f" -> median $med%.2f s")
      }
      case "stages" =>
        val stats = new JobStats(spark.sparkContext)
        for (name <- names; rep <- 1 to reps) {
          val wall = stats.measure(name)(run(spark, name, dir))
          printStages(stats, name, rep, wall, rep == reps)
        }
        stats.close()
      case "plan" =>
        (if (names.isEmpty) Registry.benchSet.map(_.name) else names).foreach { n =>
          println(s"\n===== $n =====")
          Registry.queryMap(n)(spark, dir).explain("formatted")
        }
    }
    spark.stop()
  }

  /** One memo-cold run of a registered query through the noop sink, in
    * seconds: every memo cache is cleared first, as Bench's reruns clear
    * them. */
  def run(spark: SparkSession, name: String, dir: String): Double = {
    ops.Ckpt.clearAll(spark)
    val t0 = System.nanoTime()
    Registry.queryMap(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Prints one rep's totals, and per-job and top-12 per-stage rows when
    * `detail`. */
  private def printStages(stats: JobStats, name: String, rep: Int, wall: Double,
      detail: Boolean): Unit = {
    val jobs = stats.jobs(name)
    val c = stats.counts(name)
    println(f"[sprobe] $name rep$rep wall=$wall%.2f s, " +
      f"${c.jobs} jobs (Σjob ${jobs.map(_.wallMs).sum / 1e3}%.2f s), " +
      f"${c.stages} stages, ${c.tasks} tasks, Σtask ${c.taskMs / 1e3}%.2f s")
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
