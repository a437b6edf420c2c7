package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** A timed interval. `parent` is -1 for an operation's root span;
  * `request` is shared by every span of one operation and is also the
  * Spark job group the operation's jobs run under.
  */
final case class Span(id: Int, name: String, parent: Int, request: String,
    startMs: Double, endMs: Double)

final class JobRec(val id: Int, val group: String, val callSite: String,
    val startMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageRec(val id: Int) {
  @volatile var submitMs: Long = -1L
  @volatile var firstLaunchMs: Long = Long.MaxValue
  @volatile var runMs, inputBytes, inputRecords, shuffleRead, shuffleWrite,
    outputBytes, tasks: Long = 0L
}

/** The benchmark's own tracer: spans opened around each call into an
  * engine layer, plus a `SparkListener` that records every job, stage
  * and task-metric total under the job group of the operation that ran
  * it. Everything stays in memory until [[toJson]] at the end of the run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * on the same axis as Spark's event timestamps. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = ArrayBuffer[Span]()
  val jobs = TrieMap[Int, JobRec]()
  val stages = TrieMap[Int, StageRec]()
  /** request → rows the call returned, for the rows-read ratios. */
  val returned = scala.collection.mutable.Map[String, Long]()

  sc.addSparkListener(this)

  def detach(): Unit = sc.removeSparkListener(this)

  /** Runs `body` inside a span, passing it the span's id. */
  def span[T](name: String, parent: Int, request: String)(body: Int => T): T = {
    val id = spans.length
    val start = nowMs
    spans += Span(id, name, parent, request, start, Double.NaN)
    try body(id) finally spans(id) = Span(id, name, parent, request, start, nowMs)
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBusBridge.drain(sc)

  def clear(): Unit = { spans.clear(); jobs.clear(); stages.clear(); returned.clear() }

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // the final stage's name is the job's call site ("count at X.scala:12")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = new JobRec(e.jobId, group, site, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo.stageId).submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val s = stage(e.stageId)
    s.synchronized { s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    val m = e.stageInfo.taskMetrics
    if (m != null) s.synchronized {
      s.runMs += m.executorRunTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.outputBytes += m.outputMetrics.bytesWritten
      s.tasks += e.stageInfo.numTasks
    }
  }

  def toJson(mapper: ObjectMapper): ObjectNode = {
    val root = mapper.createObjectNode()
    val sa = root.putArray("spans")
    spans.foreach { s =>
      sa.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("request", s.request).put("start_ms", s.startMs).put("end_ms", s.endMs)
    }
    val rt = root.putObject("returned")
    returned.foreach { case (r, n) => rt.put(r, n) }
    val ja = root.putArray("jobs")
    // a stage listed by several jobs (a reused shuffle) ran under the
    // first of them that started before it was submitted
    val emitted = scala.collection.mutable.Set[Int]()
    jobs.values.toSeq.sortBy(_.id).filter(_.group.nonEmpty).foreach { j =>
      val o = ja.addObject().put("id", j.id).put("group", j.group)
        .put("call_site", j.callSite).put("start_ms", j.startMs).put("end_ms", j.endMs)
      val st = o.putArray("stages")
      j.stageIds.flatMap(stages.get)
        .filter(s => s.submitMs >= j.startMs && emitted.add(s.id)).foreach { s =>
        st.addObject().put("id", s.id).put("submit_ms", s.submitMs)
          .put("first_launch_ms", if (s.firstLaunchMs == Long.MaxValue) s.submitMs else s.firstLaunchMs)
          .put("tasks", s.tasks).put("run_ms", s.runMs)
          .put("input_bytes", s.inputBytes).put("input_records", s.inputRecords)
          .put("shuffle_read_bytes", s.shuffleRead).put("shuffle_write_bytes", s.shuffleWrite)
          .put("output_bytes", s.outputBytes)
      }
    }
    root
  }
}
