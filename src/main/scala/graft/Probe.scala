package graft

import graft.queries.Registry
import org.apache.spark.scheduler._

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
  *  - `stages`: the same reps with a SparkListener attached, printing
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
    // Every rep is memo-cold, as Bench's reruns are.
    def run(name: String): Double = {
      ops.Ckpt.clearAll(spark)
      val t0 = System.nanoTime()
      Registry.queryMap(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    mode match {
      case "time" => names.foreach { name =>
        val times = (1 to reps).map(_ => run(name))
        val med = times.sorted.apply(times.size / 2)
        println(f"[qprobe] $name: ${times.map(t => f"$t%.2f").mkString(" ")}" +
          f" -> median $med%.2f s")
      }
      case "stages" => names.foreach { name =>
        (1 to reps).foreach(rep => stageRep(spark, name, rep, rep == reps)(run(name)))
      }
      case "plan" =>
        (if (names.isEmpty) Registry.benchSet.map(_.name) else names).foreach { n =>
          println(s"\n===== $n =====")
          Registry.queryMap(n)(spark, dir).explain("formatted")
        }
    }
    spark.stop()
  }

  // Collected per job: submit/complete times, #stages, #tasks and the sum
  // of task runtimes (ms).
  private case class JobRec(id: Int, t0: Long, stages: Int, var t1: Long = 0L,
    var tasks: Int = 0, var taskMs: Long = 0L)
  private case class StageRec(id: Int, name: String, var tasks: Int = 0,
    var taskMs: Long = 0L)

  /** One rep of `body` under a job/stage listener; prints the rep's
    * totals, and per-job and top-12 per-stage rows when `detail`. */
  private def stageRep(spark: org.apache.spark.sql.SparkSession, name: String,
      rep: Int, detail: Boolean)(body: => Double): Unit = {
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
    val stages = scala.collection.concurrent.TrieMap.empty[Int, StageRec]
    val stageToJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds.size)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages(e.stageInfo.stageId) =
          StageRec(e.stageInfo.stageId, e.stageInfo.name.takeWhile(_ != '\n'))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val ms = if (e.taskInfo != null) e.taskInfo.duration else 0L
        jobs.get(stageToJob.getOrElse(e.stageId, -1)).foreach { r =>
          r.tasks += 1; r.taskMs += ms
        }
        stages.get(e.stageId).foreach { s => s.tasks += 1; s.taskMs += ms }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val wall = body
    // Let straggler listener events drain before reading the maps.
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(listener)
    val rows = jobs.values.toSeq.sortBy(_.id)
    val jobWall = rows.map(r => (r.t1 - r.t0).max(0L)).sum / 1e3
    println(f"[sprobe] $name rep$rep wall=$wall%.2f s, " +
      f"${rows.size} jobs (Σjob ${jobWall}%.2f s), " +
      f"${rows.map(_.stages).sum} stages, ${rows.map(_.tasks).sum} tasks, " +
      f"Σtask ${rows.map(_.taskMs).sum / 1e3}%.2f s")
    if (detail) {
      rows.foreach { r =>
        println(f"[sprobe]   job ${r.id}%3d ${(r.t1 - r.t0).max(0L) / 1e3}%6.2f s " +
          f"${r.stages}%3d stages ${r.tasks}%4d tasks Σtask ${r.taskMs / 1e3}%7.2f s")
      }
      stages.values.toSeq.sortBy(-_.taskMs).take(12).foreach { s =>
        println(f"[sprobe]   stage ${s.id}%4d ${s.tasks}%4d tasks " +
          f"Σtask ${s.taskMs / 1e3}%7.2f s  ${s.name}%s")
      }
    }
  }
}
