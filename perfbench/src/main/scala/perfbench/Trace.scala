package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s._

/** Resource totals of the Spark stages run under one job group. */
final class StageTotals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var taskMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def add(o: StageTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    taskMs += o.taskMs; spillBytes += o.spillBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }

  def toJson: JObject = JObject(
    "jobs" -> JInt(jobs), "tasks" -> JInt(tasks), "task_cpu_s" -> JDouble(cpuNs / 1e9),
    "gc_s" -> JDouble(gcMs / 1e3), "task_s" -> JDouble(taskMs / 1e3),
    "spill_bytes" -> JInt(spillBytes), "shuffle_write_bytes" -> JInt(shuffleWriteBytes),
    "input_bytes" -> JInt(inputBytes), "output_bytes" -> JInt(outputBytes))
}

/** Attributes every completed stage to the job group that launched it. */
final class StageListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, StageTotals]()
  @volatile var lastEndedGroup: String = ""

  private def totals(g: String): StageTotals =
    byGroup.computeIfAbsent(g, _ => new StageTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
    totals(g).synchronized(totals(g).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = Option(stageGroup.get(info.stageId)).getOrElse("")
    val m = info.taskMetrics
    val t = totals(g)
    t.synchronized {
      t.tasks += info.numTasks
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.taskMs += m.executorRunTime
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.inputBytes += m.inputMetrics.bytesRead
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    lastEndedGroup = Option(jobGroup.get(e.jobId)).getOrElse("")
}

/** One timed call into the engine. */
final case class Span(id: Int, name: String, parent: Int, group: String,
    startNs: Long, var endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the engine. With tracing on,
  * each span runs its Spark jobs under its own job group, so the listener
  * can attribute stage CPU, GC, spill and bytes to the call that caused
  * them. With tracing off no listener is registered and no job group is
  * set; spans are still recorded (two clock reads) because the end-to-end
  * metrics are computed from them. Everything stays in memory until
  * [[write]]. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val t0 = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val listener: StageListener =
    if (enabled) { val l = new StageListener; sc.addSparkListener(l); l } else null

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
      s"perfbench-${spans.length}", System.nanoTime(), 0L)
    spans += s
    stack = s :: stack
    if (enabled) sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (enabled) stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** [[span]], also returning the span. */
  def timed[T](name: String)(body: => T): (Span, T) = {
    val at = spans.length
    val v = span(name)(body)
    (spans(at), v)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Stage totals of the jobs that ran directly under `s`. */
  def totals(s: Span): StageTotals =
    if (!enabled) new StageTotals
    else Option(listener.byGroup.get(s.group)).getOrElse(new StageTotals)

  /** Waits until the listener has seen every event posted so far: events
    * reach a listener queue in posting order, so once the end of a marker
    * job arrives, every earlier stage has been attributed. */
  def drain(): Unit = if (enabled) {
    val marker = s"perfbench-drain-${System.nanoTime()}"
    sc.setJobGroup(marker, "drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (listener.lastEndedGroup != marker && System.nanoTime() < deadline)
      Thread.sleep(5)
    require(listener.lastEndedGroup == marker, "Spark listener did not drain within 30 s")
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** All spans, with the stage totals of their job groups, as one file. */
  def write(path: String, header: JObject): Unit = {
    val rows = spans.map { s =>
      JObject("id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
        "job_group" -> JString(s.group), "start_ms" -> JDouble((s.startNs - t0) / 1e6),
        "end_ms" -> JDouble((s.endNs - t0) / 1e6), "stages" -> totals(s).toJson)
    }
    val doc = JObject(header.obj :+ ("spans" -> JArray(rows.toList)))
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Main.json(doc).getBytes("UTF-8"))
  }
}
