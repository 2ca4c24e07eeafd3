package graft.obs

import scala.collection.mutable

import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler._

/** Counts the Spark work of measured calls: jobs, stages, tasks and summed
  * task time (Σtask), kept per key. A job belongs to the key open when it
  * starts; a task belongs to the job that last listed its stage. A job's
  * stage count is `JobStart.stageIds.size`, skipped stages included, so
  * its counts compare with the `[sprobe]` logs under `plans/`.
  *
  * Attach a collector where it is used and close it after. It is never
  * installed with the session: a session-wide listener would change the
  * program every benchmark of that session measures.
  */
final class JobStats(sc: SparkContext) extends SparkListener {
  import JobStats._

  private final class Run {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
  }
  private val runs = mutable.Map.empty[String, Run]
  @volatile private var open: Run = null
  // Stage id -> the open run's job that last listed it, and its record.
  private val stageJob = mutable.Map.empty[Int, Job]
  private val stageRec = mutable.Map.empty[Int, Stage]

  sc.addSparkListener(this)

  /** Runs `body` with its Spark work counted under `key`, replacing what
    * the key held. Calls measure one at a time: the bus is drained before
    * and after `body`, so the key sees exactly the jobs `body` started. */
  def measure[T](key: String)(body: => T): T = {
    BusDrain(sc)
    val run = new Run
    synchronized {
      runs(key) = run
      stageJob.clear()
      stageRec.clear()
    }
    open = run
    try { val out = body; BusDrain(sc); out }
    finally open = null
  }

  def jobs(key: String): Seq[Job] = synchronized(runs.get(key).toSeq.flatMap(_.jobs))
  def stages(key: String): Seq[Stage] = synchronized(runs.get(key).toSeq.flatMap(_.stages))

  def counts(key: String): Counts = {
    val js = jobs(key)
    Counts(js.size, js.map(_.stages).sum, js.map(_.tasks).sum, js.map(_.taskMs).sum)
  }

  def close(): Unit = sc.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(open).foreach { run =>
      val job = new Job(e.jobId, e.time, e.stageIds.size)
      run.jobs += job
      e.stageIds.foreach(stageJob(_) = job)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(open).flatMap(_.jobs.find(_.id == e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    Option(open).filter(_ => stageJob.contains(id)).foreach { run =>
      val s = new Stage(id, e.stageInfo.name.takeWhile(_ != '\n'))
      run.stages += s
      stageRec(id) = s
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ms = if (e.taskInfo != null) e.taskInfo.duration else 0L
    stageJob.get(e.stageId).foreach { j => j.tasks += 1; j.taskMs += ms }
    stageRec.get(e.stageId).foreach { s => s.tasks += 1; s.taskMs += ms }
  }
}

object JobStats {
  final class Job(val id: Int, val startMs: Long, val stages: Int) {
    var endMs: Long = startMs
    var tasks = 0
    var taskMs = 0L
    def wallMs: Long = (endMs - startMs).max(0L)
  }

  final class Stage(val id: Int, val name: String) {
    var tasks = 0
    var taskMs = 0L
  }

  /** The totals of one key. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int, taskMs: Long)
}
