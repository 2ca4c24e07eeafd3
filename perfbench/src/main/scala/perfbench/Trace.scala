package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** What the Spark scheduler did on behalf of one key (a span or a phase). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var skippedStages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; skippedStages += o.skippedStages
    tasks += o.tasks; failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/** A timed call from the harness into one layer of the engine. */
final case class Span(id: Int, parent: Int, layer: String, name: String, startNs: Long) {
  var endNs: Long = startNs
  def ms: Double = (endNs - startNs) / 1e6
}

/** Attributes scheduler work to the harness's phases and spans.
  *
  * The harness sets two local properties on the calling thread: the phase
  * (`setup` or `timed`) always, and the innermost open span only when
  * tracing. Spark copies local properties into every job it submits for
  * that thread, including broadcast and AQE sub-jobs, so a job's stages and
  * tasks land on the phase and span that caused them.
  */
final class Recorder(sc: SparkContext, val tracing: Boolean) extends SparkListener {
  import Recorder._

  private val phases = new ConcurrentHashMap[String, Counters]()
  private val spanCounters = new ConcurrentHashMap[Int, Counters]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  // Scheduler bookkeeping, touched only by the listener-bus thread.
  private val stageOwner = mutable.Map.empty[Int, Seq[Counters]]
  private val jobStages = mutable.Map.empty[Int, (Seq[Int], Seq[Counters])]
  private val submitted = mutable.Set.empty[Int]

  sc.setLocalProperty(PhaseKey, "setup")
  sc.addSparkListener(this)

  def phase(name: String): Unit = sc.setLocalProperty(PhaseKey, name)

  /** Runs `f` as a span of `layer` named `name`, nested in the open span. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!tracing) f
    else {
      val parent = Option(sc.getLocalProperty(SpanKey)).map(_.toInt).getOrElse(-1)
      val s = spans.synchronized {
        val s = Span(spans.size, parent, layer, name, System.nanoTime())
        spans += s
        s
      }
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(SpanKey, if (parent < 0) null else parent.toString)
      }
    }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.ListenerDrain(sc)

  /** Bytes held by cached frames and checkpoints that are still reachable:
    * the blocks of every persisted RDD, in memory or on disk. A frame
    * nobody references is only dropped once a garbage collection hands it
    * to Spark's cleaner, so the reading first collects and gives the
    * cleaner time to run; broadcast blocks are left out for the same
    * reason. */
  def cachedBytes(): Long = {
    System.gc()
    Thread.sleep(300)
    drain()
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
  }

  def phaseCounters(name: String): Counters = phases.computeIfAbsent(name, _ => new Counters)

  def allSpans: Seq[(Span, Counters)] = spans.synchronized(spans.toList)
    .map(s => s -> Option(spanCounters.get(s.id)).getOrElse(new Counters))

  private def owners(props: java.util.Properties): Seq[Counters] = {
    val p = Option(props)
    p.map(_.getProperty(PhaseKey)).filter(_ != null).map(phaseCounters).toSeq ++
      p.flatMap(x => Option(x.getProperty(SpanKey)))
        .map(id => spanCounters.computeIfAbsent(id.toInt, _ => new Counters)).toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val cs = owners(e.properties)
    cs.foreach { c => c.jobs += 1; c.stages += e.stageIds.size }
    e.stageIds.foreach(id => stageOwner.getOrElseUpdate(id, cs))
    jobStages(e.jobId) = (e.stageIds, cs)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted += e.stageInfo.stageId

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStages.remove(e.jobId).foreach { case (ids, cs) =>
      val skipped = ids.count(id => !submitted.contains(id))
      cs.foreach(_.skippedStages += skipped)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOwner.getOrElse(e.stageId, Nil).foreach { c =>
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

object Recorder {
  val PhaseKey = "perfbench.phase"
  val SpanKey = "perfbench.span"

  def jsonSpans(spans: Seq[(Span, Counters)], t0: Long): String =
    spans.map { case (s, c) =>
      f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"ms":${s.ms}%.3f,"jobs":${c.jobs},""" +
        f""""stages":${c.stages},"skipped_stages":${c.skippedStages},"tasks":${c.tasks},""" +
        f""""failed_tasks":${c.failedTasks},"task_ms":${c.runMs},"cpu_ms":${c.cpuNs / 1e6}%.3f,""" +
        f""""gc_ms":${c.gcMs},"input_bytes":${c.inputBytes},"output_bytes":${c.outputBytes},""" +
        f""""shuffle_read_bytes":${c.shuffleReadBytes},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        f""""spill_bytes":${c.spillBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
