package userbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Process and machine counters, read from /proc and the JVM. */
object Proc {
  private def stat: Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
    finally src.close()
  }

  /** Whole-machine CPU ticks: (steal, total over user..steal). */
  def cpuTicks(): (Long, Long) = { val s = stat; (s(7), s.sum) }

  def stealFrac(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total <= 0) 0.0 else (to._1 - from._1).toDouble / total
  }

  /** User + system CPU seconds of this process. */
  def cpuSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    val s = try src.mkString finally src.close()
    // fields after the parenthesised command name; utime, stime are 14, 15
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / 100.0
  }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def loadavg(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }
}

/** One interval of the traced run, in nanoseconds since the run's clock
  * origin. Spans of one op share `op`; `parent` is -1 for an op span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long)

object Span {
  /** Self time of every span: its duration minus the part its children
    * cover. Children are clipped to their parent and to the end of the
    * previous sibling, so the self times of one tree sum to the root's
    * duration exactly, also when sibling stages run in parallel. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.Map.empty[Int, Long]
    def walk(s: Span, lo: Long, hi: Long): Unit = {
      var cursor = lo
      var covered = 0L
      kids.getOrElse(s.id, Nil).sortBy(c => (c.start, c.id)).foreach { c =>
        val a = math.min(math.max(c.start, cursor), hi)
        val b = math.max(a, math.min(c.end, hi))
        covered += b - a
        cursor = b
        walk(c, a, b)
      }
      out(s.id) = (hi - lo) - covered
    }
    spans.filter(_.parent < 0).foreach(r => walk(r, r.start, r.end))
    out.toMap
  }
}

/** Spark job, stage and task counters per op. The benchmark tags each op
  * through the `userbench.op` local property; jobs inherit it from the
  * client thread. */
final class SparkProbe extends SparkListener {
  final class Job(val op: Int, val start: Long) { var end: Long = -1L }
  final class Stage(val op: Int, val job: Int) {
    var start = -1L; var end = -1L
    var tasks = 0; var runMs = 0L; var maxTaskMs = 0L
    var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRows = 0L
    var shufWrite = 0L; var shufRead = 0L; var spill = 0L
    var outBytes = 0L; var outRows = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkProbe.OpKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new Job(op, e.time)
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new Stage(op, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach { s =>
      s.start = i.submissionTime.getOrElse(-1L)
      s.end = i.completionTime.getOrElse(-1L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.runMs += e.taskInfo.duration
      s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.shufWrite += m.shuffleWriteMetrics.bytesWritten
        s.shufRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  def jobsOf(op: Int): Seq[(Int, Job)] = synchronized(jobs.toSeq.filter(_._2.op == op))
  /** Stages that ran (skipped stages never complete). */
  def stagesOf(op: Int): Seq[(Int, Stage)] =
    synchronized(stages.toSeq.filter { case (_, s) => s.op == op && s.end >= 0 })
}

object SparkProbe {
  val OpKey = "userbench.op"
}
