package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Counters of one job group, summed over its jobs, stages and tasks. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L          // successful task ends
  var attempts = 0L       // all task ends, retries and failures included
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var resultBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L

  def +=(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; attempts += o.attempts
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; resultBytes += o.resultBytes
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    input += o.input; output += o.output
    this
  }
}

/** Spark listener that files every job, stage and task under the job
  * group the benchmark set when the job was submitted. Everything stays
  * in memory; the benchmark drains the bus once and reads the totals.
  */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap[String, Counters]()
  private val stageGroup = mutable.HashMap[Int, String]()

  private def at(group: String): Counters = byGroup.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    at(group).jobs += 1
    e.stageIds.foreach(id => stageGroup.getOrElseUpdate(id, group))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageGroup.getOrElse(e.stageId, ""))
    c.attempts += 1
    if (e.taskInfo != null && e.taskInfo.successful) c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.resultBytes += m.resultSize
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  }

  /** Sum of the counters of every group `keep` accepts. */
  def total(keep: String => Boolean): Counters = synchronized {
    byGroup.foldLeft(new Counters) { case (acc, (g, c)) => if (keep(g)) acc += c else acc }
  }
}

/** One timed span: `id` names the op or stage it belongs to, `parent`
  * the span that caused it (empty for a top-level span).
  */
final case class Span(id: String, name: String, parent: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}
