package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one job group (one span). */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleWriteBytes = 0L; var outputBytes = 0L; var spillBytes = 0L
  /** executor run time of every finished task, per stage id */
  val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    outputBytes += o.outputBytes; spillBytes += o.spillBytes
    o.taskMs.foreach { case (s, v) => taskMs.getOrElseUpdate(s, ArrayBuffer.empty) ++= v }
  }

  def allTaskMs: Seq[Long] = taskMs.values.flatten.toSeq

  /** max ÷ median executor run time per stage, the worst stage's value */
  def taskSkew: Double = taskMs.values.filter(_.nonEmpty).map { v =>
    val s = v.sorted
    val med = math.max(1L, s(s.length / 2))
    s.last.toDouble / med
  }.foldLeft(1.0)(math.max)
}

/** Listener that attributes job, stage and task metrics to the job group
  * that was current when each job started, and sums the planning phases of
  * every finished query execution.
  */
final class GroupListener extends SparkListener with QueryExecutionListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  val planMs = new AtomicLong()

  private def counters(group: String): Counters =
    byGroup.computeIfAbsent(if (group == null) "" else group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val key = if (g == null) "" else g
    e.stageIds.foreach(stageGroup.put(_, key))
    val c = counters(key)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageGroup.get(e.stageInfo.stageId))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = counters(stageGroup.get(e.stageId))
    c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.outputBytes += m.outputMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Removes and returns the counters recorded for `group`. */
  def take(group: String): Counters = {
    val c = byGroup.remove(group)
    if (c == null) new Counters else c
  }
}

/** One traced interval. Spans of one run share `Tracer.runId`; `parent` is
  * the id of the enclosing span (0 at the root).
  */
final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
    val startNs: Long) {
  var endNs = 0L
  var planMs = 0L
  var spark: Counters = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Disabled, `span` only runs its body. Enabled, every span
  * runs its Spark jobs under its own job group, drains the listener bus on
  * exit and keeps the attributed counts; spans stay in memory until `write`.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var spark: SparkSession = _
  private var listener: GroupListener = _

  /** Attaches the tracer to a (new) session. */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      listener = new GroupListener
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(listener)
    }
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val sp = new Span(spans.length + 1, stack.headOption.map(_.id).getOrElse(0), name, layer,
      System.nanoTime())
    spans += sp
    stack = sp :: stack
    // core spans time single-thread calls; they run no Spark jobs
    val sc = if (spark == null || layer == "core") null else spark.sparkContext
    if (sc != null) sc.setJobGroup(s"$runId/${sp.id}", name)
    val plan0 = if (listener == null) 0L else listener.planMs.get
    try body
    finally {
      if (sc != null && !sc.isStopped) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sp.spark = listener.take(s"$runId/${sp.id}")
        sp.planMs = listener.planMs.get - plan0
      }
      sp.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) if sc != null && !sc.isStopped => sc.setJobGroup(s"$runId/${p.id}", p.name)
        case _ if sc != null && !sc.isStopped => sc.clearJobGroup()
        case _ =>
      }
    }
  }

  /** Spark counts of `sp` and all of its descendants. */
  def subtree(sp: Span): Counters = {
    val c = new Counters
    c.add(sp.spark)
    spans.filter(_.parent == sp.id).foreach(ch => c.add(subtree(ch)))
    c
  }

  /** Self time per layer: each span's duration minus its children's. */
  def selfSecondsByLayer: Map[String, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    sb.append("{\"run_id\":\"").append(runId).append("\",\"spans\":[")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val c = s.spark
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}","layer":"${s.layer}",""")
      sb.append(s""""start_ns":${s.startNs},"end_ns":${s.endNs},"plan_ms":${s.planMs},""")
      sb.append(s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_run_ms":${c.runMs},""")
      sb.append(s""""cpu_ns":${c.cpuNs},"gc_ms":${c.gcMs},"input_bytes":${c.inputBytes},""")
      sb.append(s""""shuffle_write_bytes":${c.shuffleWriteBytes},"output_bytes":${c.outputBytes}""")
      sb.append("}")
    }
    sb.append("]}\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
