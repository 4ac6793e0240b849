package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `group` is shared by
  * every span of one query (suite) or one tick (stream); times are
  * epoch milliseconds with sub-millisecond precision, the clock Spark's
  * own listener events use.
  */
final case class Span(id: Long, parent: Long, group: String, name: String,
    start: Double, end: Double)

/** Spans recorded by the benchmark's own code, kept in memory and
  * written out once at the end. Recording is off unless `on`.
  */
final class Spans(val on: Boolean) {
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def now(): Double = base + (System.nanoTime() - nano0) / 1e6

  def add(parent: Long, group: String, name: String,
      start: Double, end: Double): Long = {
    val id = ids.incrementAndGet()
    if (on) buf.add(Span(id, parent, group, name, start, end))
    id
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(s => (s.start, s.id))
}

final case class JobRec(id: Int, group: String, start: Long)
final case class StageRec(id: Int, job: Int, submit: Long, done: Long)
final case class TaskRec(stage: Int, durMs: Long, runMs: Long, cpuNs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long)
final case class ProgressRec(start: Double, batchId: Long,
    phasesMs: Map[String, Long])
final case class PhaseRec(tag: String, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)
final case class WriteRec(path: String, seconds: Double)

/** Spark jobs, stages and tasks as the public listener API reports them.
  * Only records while `recording` is set, so the untraced halves of a
  * traced run pay one volatile read per event.
  */
final class SchedulerRecorder extends SparkListener {
  @volatile var recording = false
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobEnd = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.add(JobRec(e.jobId, group, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (recording) jobEnd.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (recording) {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, stageJob.getOrDefault(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (recording && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
}

/** Streaming progress (`durationMs` phases per micro-batch). */
final class ProgressRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    progress.add(ProgressRec(start, p.batchId,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** Every successfully executed plan: its PlanAudit flags (always — the
  * plan-trap gate), and while `recording` its Catalyst phase times and,
  * for file writes, the output path and duration (how a drain's own gold
  * write is timed). Suite actions tag their noop write with the
  * `perfbench.query` write option, which is how an executed plan finds
  * its query.
  */
final class PlanRecorder extends QueryExecutionListener {
  @volatile var recording = false
  val flags = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  val writes = new ConcurrentLinkedQueue[WriteRec]()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val tag = qe.logical match {
      case w: OverwriteByExpression =>
        w.writeOptions.getOrElse(PlanRecorder.TagOption, "")
      case _ => ""
    }
    if (tag.nonEmpty) {
      val fs = graft.PlanAudit.flags(qe.executedPlan.toString)
      flags.merge(tag, fs, (a, b) => (a ++ b).distinct)
    }
    if (recording) {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      phases.add(PhaseRec(tag, ms("analysis"), ms("optimization"),
        ms("planning")))
      qe.logical.collectFirst {
        case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
      }.foreach(p => writes.add(WriteRec(p, durationNs / 1e9)))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object PlanRecorder {
  val TagOption = "perfbench.query"
}

/** The listeners one run installs, plus JVM-wide counters read around the
  * traced phases.
  */
final class Instruments(spark: SparkSession, traced: Boolean) {
  val spans = new Spans(traced)
  val scheduler = new SchedulerRecorder
  val plans = new PlanRecorder
  val progress = new ProgressRecorder
  spark.listenerManager.register(plans)
  spark.streams.addListener(progress)
  if (traced) spark.sparkContext.addSparkListener(scheduler)

  def record(on: Boolean): Unit = {
    scheduler.recording = on && traced
    plans.recording = on && traced
  }

  /** Wait until every listener event posted so far is delivered. */
  def settle(): Unit = org.apache.spark.perfbench.SparkBus.drain(spark.sparkContext)
}

/** Per-layer numbers derived from what the recorders captured. */
object Layers {
  /** Scheduler metrics of `jobIds`, per unit of work (`units` of them ran
    * in `wallS` seconds of wall time on `cores` cores).
    */
  def spark(rec: SchedulerRecorder, jobIds: Set[Int], wallS: Double,
      cores: Int, units: Double): Map[String, Double] = {
    val stages = rec.stages.asScala.filter(s => jobIds(s.job)).toSeq
    val stageIds = stages.map(_.id).toSet
    val tasks = rec.tasks.asScala.filter(t => stageIds(t.stage)).toSeq
    val u = if (units > 0) units else 1.0
    val runS = tasks.map(_.runMs).sum / 1000.0
    // max over median task time, per stage that ran more than one task
    val skews = tasks.groupBy(_.stage).values.filter(_.size > 1).map { ts =>
      val d = ts.map(_.durMs.toDouble)
      d.max / math.max(Main.median(d), 1.0)
    }.toSeq
    Map(
      "spark.jobs" -> jobIds.size / u,
      "spark.stages" -> stages.size / u,
      "spark.tasks" -> tasks.size / u,
      "spark.executor_run_s" -> runS / u,
      "spark.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / u,
      "spark.utilisation" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum / u,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum / u,
      "spark.spill_bytes" -> tasks.map(_.spill).sum / u,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Main.median(skews)))
  }

  /** Job and stage spans under `parent` for the given jobs. */
  def jobSpans(rec: SchedulerRecorder, spans: Spans, jobs: Seq[JobRec],
      parent: Long, group: String): Unit = {
    val stagesByJob = rec.stages.asScala.toSeq.groupBy(_.job)
    jobs.foreach { j =>
      val end = Option(rec.jobEnd.get(j.id)).map(_.toDouble)
        .getOrElse(j.start.toDouble)
      val jid = spans.add(parent, group, s"spark.job.${j.id}", j.start, end)
      stagesByJob.getOrElse(j.id, Nil).foreach { s =>
        spans.add(jid, group, s"spark.stage.${s.id}", s.submit, s.done)
      }
    }
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean =>
      os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  /** (estimated compile seconds, generated classes) so far. The
    * compile-time histogram keeps a sample, so seconds = mean x count.
    */
  def snapshot(): (Double, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getSnapshot.getMean * h.getCount / 1000.0,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }
}

/** Disk usage under a directory (entries whose name starts with `prefix`). */
object Du {
  private def walk(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
      finally s.close()
    }

  private def under(dir: String, prefix: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else {
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix))
        .toSeq.flatMap(walk)
      finally s.close()
    }
  }

  def dirs(dir: String, prefix: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else {
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(prefix)).map(_.toString).toSeq
      finally s.close()
    }
  }

  def bytes(dir: String, prefix: String): Long =
    under(dir, prefix).map(java.nio.file.Files.size(_)).sum
  def files(dir: String, prefix: String): Long = under(dir, prefix).size.toLong
}

/** The traced run's spans, written once at the end as JSON lines. */
object TraceFile {
  def write(path: String, spans: Spans): Unit = {
    val lines = spans.all.map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "group" -> s.group,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
