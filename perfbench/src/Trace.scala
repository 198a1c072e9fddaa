package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer's public function, or one benchmark round.
  * Times are System.nanoTime. `parent` is 0 for a round's root span.
  */
final case class Span(id: Long, name: String, parent: Long, round: Int,
    start: Long, end: Long)

/** One Spark job as the listener saw it. `group` is the job group the
  * benchmark set before the call that ran it ("pb-<span id>"); jobs run
  * by engine-side background threads may carry a stale group, so the
  * report also attributes by time (see run.py). Times are epoch ms.
  */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var failed: Boolean = false
  var stages = 0
  var tasks = 0
  var tasksFailed = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** The benchmark's own tracer: spans kept in memory, written out at exit,
  * and a SparkListener that records every job with the span that was open
  * when it started. Nothing here reaches into the engine; spans wrap the
  * benchmark's calls into the engine's public API.
  *
  * `enabled` is on only for the timed rounds of a traced run.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  @volatile var round = -1

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String, Long)] = Nil // (id, name, start)
  private var nextId = 1L
  // maps nanoTime onto epoch time, the listener's clock
  private val epochAtNano0 = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (enabled) {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        jobs(e.jobId) = new JobRec(e.jobId, g, e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.failed = e.jobResult != JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
          .foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (!e.taskInfo.successful) j.tasksFailed += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  sc.addSparkListener(listener)

  /** Time `body` as span `name` when tracing is on; set the job group so
    * the listener can map the call's jobs to it.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack = (id, name, System.nanoTime()) :: stack
      sc.setJobGroup(s"pb-$id", name)
      try body
      finally {
        val end = System.nanoTime()
        val (_, _, start) = stack.head
        stack = stack.tail
        synchronized { spans += Span(id, name, parent, round, start, end) }
        stack.headOption match {
          case Some((pid, pname, _)) => sc.setJobGroup(s"pb-$pid", pname)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.sql.GraftBridge.drainListeners(sc)

  def nanoToEpochMs(n: Long): Double = (epochAtNano0 + n) / 1e6

  def spansJson: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "round" -> s.round, "start_ms" -> nanoToEpochMs(s.start),
        "end_ms" -> nanoToEpochMs(s.end))
    }
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      Map("id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "failed" -> j.failed, "stages" -> j.stages,
        "tasks" -> j.tasks, "tasks_failed" -> j.tasksFailed,
        "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "spill" -> j.spill, "input" -> j.input, "output" -> j.output)
    }
  }
}
