package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval on the wall clock, in epoch milliseconds. */
final case class Span(name: String, layer: String, level: Int, start: Double, end: Double,
    attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

/** Per-job facts from the scheduler's own listener bus. */
final case class JobRec(id: Int, start: Double, var end: Double, stageIds: Seq[Int],
    replayProbe: Boolean)

/** Per-stage totals, summed over the stage's tasks. */
final class StageRec(val id: Int) {
  var start = 0.0; var end = 0.0; var tasks = 0L
  var runMs = 0L; var schedMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var inputBytes = 0L; var outputBytes = 0L
}

/** One finished SQL execution, from a QueryExecutionListener. `end` is
  * the listener-call time, which trails the execution's end by the
  * listener bus delay (milliseconds when the bus is not backlogged).
  */
final case class QeRec(end: Double, durMs: Double, outputPath: Option[String],
    outputRows: Long, phasesMs: Map[String, Double]) {
  def start: Double = end - durMs
}

/** Everything the traced run hears from Spark's public listener buses,
  * between [[start]] and [[stop]]. The SparkListener and the
  * StreamingQueryListener are attached only then. The QueryExecutionListener
  * is registered when the recorder is made and only records between start
  * and stop: a streaming query runs its batches in a clone of the session
  * taken when the query starts, so for a query that is already running the
  * listener must have been registered before it started. An untraced run
  * makes no recorder, so it runs with no benchmark listener at all.
  */
final class Recorder(spark: SparkSession) {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  private def stage(id: Int) = stages.computeIfAbsent(id, i => new StageRec(i))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val probe = e.stageInfos.exists(_.details.contains("batchAlreadyApplied"))
      val j = JobRec(e.jobId, e.time.toDouble, e.time.toDouble, e.stageIds, probe)
      jobById.put(e.jobId, j); jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stage(e.stageInfo.stageId)
      s.start = e.stageInfo.submissionTime.getOrElse(0L).toDouble
      s.end = e.stageInfo.completionTime.getOrElse(0L).toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val s = stage(e.stageId)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime
          val overhead = m.executorDeserializeTime + m.resultSerializationTime +
            m.executorRunTime + e.taskInfo.gettingResultTime
          s.schedMs += math.max(0L, e.taskInfo.duration - overhead)
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  @volatile private var recording = false

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) qes.add(Recorder.qeRec(qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.listenerManager.register(qeListener)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    recording = true
  }

  /** Stop recording, after the listener bus has delivered every queued event. */
  def stop(): Unit = {
    Recorder.drainBus(spark)
    recording = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def jobsIn(a: Double, b: Double): Seq[JobRec] =
    jobs.asScala.toSeq.filter(j => j.start >= a && j.start <= b)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(i => Option(stages.get(i))).filter(_.end > 0)

  def qesIn(a: Double, b: Double): Seq[QeRec] =
    qes.asScala.toSeq.filter(q => q.start >= a && q.start <= b)
}

object Recorder {
  /** Output directory and row count of a file write, read from the
    * executed write command (None for non-file sinks such as noop).
    */
  def qeRec(qe: QueryExecution, durationNs: Long): QeRec = {
    def writers(p: SparkPlan): Seq[DataWritingCommandExec] = p.collect {
      case d: DataWritingCommandExec => Seq(d)
      case c: CommandResultExec => writers(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => writers(a.executedPlan)
      case q: QueryStageExec => writers(q.plan)
    }.flatten
    val w = scala.util.Try(writers(qe.executedPlan)).getOrElse(Nil).headOption
    val path = w.collect { case d if d.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
      d.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.toString
    }
    val rows = w.flatMap(_.cmd.metrics.get("numOutputRows")).map(_.value).getOrElse(0L)
    val phases = scala.util.Try(qe.tracker.phases.map { case (k, v) =>
      k -> v.durationMs.toDouble }).getOrElse(Map.empty[String, Double])
    QeRec(System.currentTimeMillis().toDouble, durationNs / 1e6, path, rows, phases)
  }

  /** Block until Spark's async listener bus has delivered all events. */
  def drainBus(spark: SparkSession): Unit = {
    val m = spark.sparkContext.getClass.getMethod("listenerBus")
    val bus = m.invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Process-wide JVM readings from the platform MXBeans. */
object Jvm {
  @volatile private var heapAfterGcPeak = 0L

  /** Track the heap in use right after each collection (GC notifications). */
  def watchGc(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
          if (used > heapAfterGcPeak) heapAfterGcPeak = used
        }
      }, null, null)
    case _ => ()
  }

  def readings(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val jitMs = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    val cpuNs = ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
      case _ => 0L
    }
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.jit_s" -> jitMs / 1e3,
      // the histogram keeps no sum; count x mean of its reservoir
      "jvm.codegen_compile_s" -> cg.getCount * cg.getSnapshot.getMean / 1e3,
      "jvm.heap_after_gc_peak_mb" -> heapAfterGcPeak / 1048576.0,
      "jvm.process_cpu_s" -> cpuNs / 1e9)
  }
}

/** Summaries shared by the workloads. */
object Stats {
  /** The lower median (Python's `statistics.median_low`, as run.py uses
    * for `latency_s_p50`): always one observed value.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    xs.sorted.apply((xs.size - 1) / 2)
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }

  /** Length of the union of intervals, clipped to [a, b]. */
  def covered(ivs: Seq[(Double, Double)], a: Double, b: Double): Double = {
    val clipped = ivs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Scheduler-level per-unit figures over the jobs started inside each
    * unit's interval: (unit start, unit end) pairs, epoch ms.
    */
  def exec(rec: Recorder, units: Seq[(Double, Double)], cpus: Int): Map[String, Double] = {
    val per = units.map { case (a, b) =>
      val js = rec.jobsIn(a, b)
      val ss = rec.stagesOf(js)
      (js.size.toDouble, ss.size.toDouble, ss.map(_.tasks).sum.toDouble,
        ss.map(_.runMs).sum / 1e3, ss.map(_.schedMs).sum / 1e3,
        ss.map(_.shuffleBytes).sum.toDouble, ss.map(_.spillBytes).sum.toDouble,
        ss.map(_.inputBytes).sum.toDouble, ss.map(_.outputBytes).sum.toDouble, (b - a) / 1e3)
    }
    val wall = per.map(_._10).sum
    Map(
      "exec.jobs" -> mean(per.map(_._1)),
      "exec.stages" -> mean(per.map(_._2)),
      "exec.tasks" -> mean(per.map(_._3)),
      "exec.task_s" -> mean(per.map(_._4)),
      "exec.sched_delay_s" -> mean(per.map(_._5)),
      "exec.busy_ratio" -> (if (wall > 0) per.map(_._4).sum / (wall * cpus) else 0.0),
      "exec.shuffle_bytes" -> mean(per.map(_._6)),
      "exec.spill_bytes" -> mean(per.map(_._7)),
      "exec.input_bytes" -> mean(per.map(_._8)),
      "exec.output_bytes" -> mean(per.map(_._9)))
  }

  /** Spans for the scheduler's jobs and stages inside [a, b]. */
  def execSpans(rec: Recorder, a: Double, b: Double): Seq[Span] = {
    val js = rec.jobsIn(a, b)
    js.map(j => Span(s"job-${j.id}", "exec", 3, j.start, j.end,
      Map("replay_probe" -> j.replayProbe))) ++
      rec.stagesOf(js).map(s => Span(s"stage-${s.id}", "exec", 4, s.start, s.end,
        Map("tasks" -> s.tasks, "task_s" -> s.runMs / 1e3)))
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover. A span's parent is the innermost span of a lower
    * level whose interval holds its start.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val byLevel = spans.groupBy(_.level)
    val levels = byLevel.keys.toSeq.sorted.reverse
    def parentOf(s: Span): Option[Span] =
      levels.iterator.filter(_ < s.level).map { l =>
        byLevel(l).filter(p => p.start <= s.start && s.start <= p.end).sortBy(-_.start).headOption
      }.collectFirst { case Some(p) => p }
    val children = spans.groupBy(parentOf)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(Some(s), Nil).map(k => (k.start, k.end))
        (s.dur - covered(kids, s.start, s.end)) / 1e3
      }.sum
    }
  }

  /** Self seconds per unit of each program layer, from the spans of a
    * traced region; the `run` and `workload` spans frame the tree only.
    */
  def selfPerUnit(spans: Seq[Span], units: Int): Map[String, Double] = {
    require(units > 0, "self time per unit of no units")
    selfTimes(spans).collect { case (l, s) if l != "run" && l != "workload" =>
      s"trace.self_${l}_s" -> s / units }
  }
}

/** Minimal JSON writer for the result file (numbers, strings, maps, seqs). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "a result figure is not a finite number")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: Span => apply(Map("name" -> s.name, "layer" -> s.layer, "level" -> s.level,
      "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs)
    case other => apply(other.toString)
  }
}
