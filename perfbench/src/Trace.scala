package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed call from the benchmark into a layer. `parent` is the id of
  * the enclosing span (-1 at the top); spans of one op share `op`. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startNs: Long, endNs: Long)

/** Records spans around the benchmark's own calls into the program. Spans
  * stay in memory; `write` dumps them when the run ends. A disabled
  * tracer only runs the body (the end-to-end runs keep it disabled). */
final class Tracer(val enabled: Boolean) {
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        recorded += Span(id, parent, name, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = recorded.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = recorded.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Length of the union of `[start, end)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it that its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e9
      }.sum
    }
  }
}

/** Buckets Spark job, stage and task figures by the job description that
  * the program sets (WavePhase labels its phases that way). Installed only
  * in the traced run. Figures are read as deltas between two snapshots. */
final class LayerListener extends SparkListener {
  /** Times are the events' own epoch milliseconds. */
  final case class JobRec(label: String, startMs: Long, endMs: Long)
  final case class StageRec(label: String, taskMs: Seq[Long],
                            shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                            spillBytes: Long)

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val label = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("(unlabelled)")
    jobStart.put(j.jobId, (label, j.time))
    j.stageIds.foreach(s => stageLabel.put(s, label))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(j.jobId)
    if (s != null) jobs.add(JobRec(s._1, s._2, j.time))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskInfo != null)
      stageTasks.computeIfAbsent((t.stageId, t.stageAttemptId),
        _ => new ConcurrentLinkedQueue[Long]()).add(t.taskInfo.duration)

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val info = s.stageInfo
    val m = info.taskMetrics
    val tasks = Option(stageTasks.remove((info.stageId, info.attemptNumber())))
      .map(_.asScala.toSeq).getOrElse(Nil)
    stages.add(StageRec(
      Option(stageLabel.get(info.stageId)).getOrElse("(unlabelled)"), tasks,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleWriteMetrics.recordsWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def jobsSnapshot: Seq[JobRec] = jobs.asScala.toSeq
  def stagesSnapshot: Seq[StageRec] = stages.asScala.toSeq
}
