package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** In-memory spans, written once when the traced run ends. Times are µs
  * since the recorder was made; Spark event times (epoch ms) are mapped
  * onto the same clock. */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long, attrs: String)

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val buf = ArrayBuffer.empty[Span]

  def nowUs(): Long = (System.nanoTime() - baseNs) / 1000
  def msToUs(epochMs: Long): Long = (epochMs - baseMs) * 1000

  /** records a span and returns its id (0 = no parent) */
  def add(parent: Int, name: String, startUs: Long, endUs: Long, attrs: String = ""): Int =
    synchronized {
      val id = buf.size + 1
      buf += Span(id, parent, name, startUs, endUs, attrs)
      id
    }

  def close(id: Int, endUs: Long): Unit = synchronized {
    buf(id - 1) = buf(id - 1).copy(endUs = endUs)
  }

  def size: Int = synchronized(buf.size)

  def write(path: String): Unit = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try buf.foreach { s =>
      val attrs = if (s.attrs.isEmpty) "" else s""","attrs":{${s.attrs}}"""
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}$attrs}""")
    } finally w.close()
  }
}

/** Collects Spark SQL executions, jobs, stages and tasks. Events arrive on
  * the listener bus thread; readers call [[drain]] first, which runs a marker
  * job and waits for its end event, so every earlier event has been seen. */
final class PipelineListener extends SparkListener {
  final case class Exec(id: Long, root: Long, startMs: Long, endMs: Long, plan: String)
  final case class Job(id: Int, startMs: Long, endMs: Long, execId: Long, stageIds: Seq[Int], marker: String)
  final case class Stage(id: Int, submitMs: Long, endMs: Long, tasks: Int)
  final case class Task(stageId: Int, durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long)

  private val execStarts = new ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
  private val execEnds = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageQ = new ConcurrentLinkedQueue[Stage]()
  private val taskQ = new ConcurrentLinkedQueue[Task]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStarts.add(s)
    case x: SparkListenerSQLExecutionEnd => execEnds.put(x.executionId, x.time)
    case _ =>
  }
  override def onJobStart(j: SparkListenerJobStart): Unit = jobStarts.put(j.jobId, j)
  override def onJobEnd(j: SparkListenerJobEnd): Unit = jobEnds.put(j.jobId, j.time)
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    stageQ.add(Stage(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks))
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskInfo != null && t.taskMetrics != null) {
      val m = t.taskMetrics
      taskQ.add(Task(t.stageId, t.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten))
    }

  private val MarkerKey = "perfbench.marker"

  /** blocks until every event posted before this call has been delivered */
  def drain(sc: SparkContext): Unit = {
    val tag = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(MarkerKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def seen = jobStarts.values.asScala.exists(j =>
      Option(j.properties).exists(p => p.getProperty(MarkerKey) == tag) && jobEnds.containsKey(j.jobId))
    while (!seen) {
      if (System.nanoTime() > deadline) sys.error("listener bus did not drain within 30 s")
      Thread.sleep(5)
    }
  }

  /** executions, jobs, stages and tasks that started and ended in [t0Ms, t1Ms] */
  def window(t0Ms: Long, t1Ms: Long): Window = {
    val execs = execStarts.asScala.toSeq
      .filter(s => s.time >= t0Ms && execEnds.containsKey(s.executionId) && execEnds.get(s.executionId) <= t1Ms)
      .map(s => Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.time,
        execEnds.get(s.executionId), s.physicalPlanDescription))
    val jobs = jobStarts.values.asScala.toSeq
      .filter(j => j.time >= t0Ms && jobEnds.containsKey(j.jobId) && jobEnds.get(j.jobId) <= t1Ms)
      .map { j =>
        val p = Option(j.properties)
        Job(j.jobId, j.time, jobEnds.get(j.jobId),
          p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L),
          j.stageIds, p.flatMap(x => Option(x.getProperty(MarkerKey))).getOrElse(""))
      }
      .filter(_.marker.isEmpty)
    val stageIds = jobs.flatMap(_.stageIds).toSet
    Window(t0Ms, t1Ms, execs, jobs,
      stageQ.asScala.toSeq.filter(s => stageIds.contains(s.id)),
      taskQ.asScala.toSeq.filter(t => stageIds.contains(t.stageId)))
  }

  final case class Window(t0Ms: Long, t1Ms: Long, execs: Seq[Exec], jobs: Seq[Job], stages: Seq[Stage], tasks: Seq[Task])
}

/** Pipeline layer metrics of one traced `ExtractJob.run`, from the listener
  * window around it. SQL executions are classed by the path their write
  * command targets: `staged/` = stage, `extracted/` = group, `lineage/` =
  * commit; an execution without a write = plan (identity count, bucket
  * listing, lineage anti-join). */
object PipelineMetrics {
  // the write command's output path: first argument of the node, in the
  // formatted plan ("(n) Execute InsertIntoHadoopFsRelationCommand" ...
  // "Arguments: <path>, ...") or the one-line form
  private val Formatted = """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: ([^,\n]+)""".r
  private val OneLine = """InsertIntoHadoopFsRelationCommand ([^,\n]+),""".r

  def classify(plan: String): String =
    Formatted.findFirstMatchIn(plan).orElse(OneLine.findFirstMatchIn(plan)).map(_.group(1).trim) match {
      case None => "plan"
      case Some(target) =>
        if (target.endsWith("/staged")) "stage"
        else if (target.endsWith("/extracted")) "group"
        else if (target.endsWith("/lineage")) "commit"
        else "other"
    }

  /** returns the metrics and records exec -> job -> stage spans under `repSpan` */
  def of(w: PipelineListener#Window, threads: Int, spans: Spans, repSpan: Int): Map[String, Double] = {
    val roots = w.execs.filter(e => e.root == e.id)
    val rootOf = w.execs.map(e => e.id -> e.root).toMap
    val cls = roots.map(e => e.id -> classify(e.plan)).toMap
    def phase(c: String): Double = roots.filter(e => cls(e.id) == c).map(e => (e.endMs - e.startMs) / 1e3).sum

    // wall time not covered by any job
    val intervals = w.jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val wallMs = w.t1Ms - w.t0Ms

    val stagesOfJob = w.jobs.map(j => j.id -> j.stageIds.toSet).toMap
    def tasksOfExec(root: Long): Seq[PipelineListener#Task] = {
      val stageIds = w.jobs.filter(j => rootOf.get(j.execId).contains(root)).flatMap(j => stagesOfJob(j.id)).toSet
      w.tasks.filter(t => stageIds.contains(t.stageId))
    }
    val groups = roots.filter(e => cls(e.id) == "group")
    var capacityMs = 0.0
    var busyMs = 0.0
    val stragglers = groups.map { g =>
      val ts = tasksOfExec(g.id).map(_.durationMs.toDouble)
      capacityMs += (g.endMs - g.startMs).toDouble * threads
      busyMs += ts.sum
      if (ts.isEmpty) 1.0 else ts.max / math.max(Stats.median(ts), 1.0)
    }

    roots.foreach { e =>
      val es = spans.add(repSpan, s"sql.${cls(e.id)}", spans.msToUs(e.startMs), spans.msToUs(e.endMs), s""""execution_id":${e.id}""")
      w.jobs.filter(j => rootOf.get(j.execId).contains(e.id)).foreach { j =>
        val js = spans.add(es, "job", spans.msToUs(j.startMs), spans.msToUs(j.endMs), s""""job_id":${j.id}""")
        w.stages.filter(s => j.stageIds.contains(s.id)).foreach { s =>
          spans.add(js, "stage", spans.msToUs(s.submitMs), spans.msToUs(s.endMs),
            s""""stage_id":${s.id},"tasks":${s.tasks}""")
        }
      }
    }

    Map(
      "pipeline.stage_s" -> phase("stage"),
      "pipeline.plan_s" -> phase("plan"),
      "pipeline.group_s" -> phase("group"),
      "pipeline.commit_s" -> phase("commit"),
      "pipeline.driver_gap_s" -> (wallMs - covered) / 1e3,
      "pipeline.task_run_s" -> w.tasks.map(_.runMs).sum / 1e3,
      "pipeline.task_cpu_s" -> w.tasks.map(_.cpuNs).sum / 1e9,
      "pipeline.gc_s" -> w.tasks.map(_.gcMs).sum / 1e3,
      "pipeline.jobs" -> w.jobs.size.toDouble,
      "pipeline.stages" -> w.stages.size.toDouble,
      "pipeline.tasks" -> w.tasks.size.toDouble,
      "pipeline.barrier_idle_frac" -> (if (capacityMs > 0) 1.0 - busyMs / capacityMs else 0.0),
      "pipeline.straggler_ratio" -> Stats.median(stragglers),
      "pipeline.shuffle_write_mb" -> w.tasks.map(_.shuffleWriteBytes).sum / 1048576.0)
  }
}
