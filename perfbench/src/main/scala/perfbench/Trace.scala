package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One traced interval.  Times are epoch nanoseconds; every span of one
  * slot execution carries that execution's `slot` id; `parent` is the id
  * of the span that caused it. */
final case class Span(id: Long, slot: Long, name: String, start: Long, end: Long,
                      parent: Option[Long]) {
  def duration: Long = end - start
  def toJson: String =
    s"""{"id":$id,"slot":$slot,"name":${Json.str(name)},"start":$start,"end":$end,""" +
      s""""parent":${parent.getOrElse("null")}}"""
}

object Trace {
  /** Length of the union of `intervals`, each clipped to [from, to]. */
  def covered(intervals: Iterable[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfTime(span: Span, all: Iterable[Span]): Long =
    span.duration - covered(all.filter(_.parent.contains(span.id)).map(s => (s.start, s.end)),
      span.start, span.end)

  /** Job and stage spans under the harness's phase spans.  A job's parent
    * is the phase span named by its local property, or else the phase
    * that was running when it started (pool threads created earlier carry
    * a stale property); a stage's parent is the last job listing it that
    * started before it. */
  def sparkSpans(phases: Seq[Span], rec: SparkRecorder, firstId: Long): Seq[Span] = {
    val slack = 1000000L // listener times are whole milliseconds
    def contains(p: Span, t: Long) = p.start - slack <= t && t <= p.end + slack
    val sorted = phases.sortBy(_.start)
    val byId = phases.map(p => p.id -> p).toMap
    var next = firstId
    val jobSpans = rec.jobs.toSeq.sortBy(_.start).flatMap { j =>
      val parent = j.span.flatMap(byId.get).filter(contains(_, j.start))
        .orElse(sorted.filter(_.start - slack <= j.start).lastOption.filter(contains(_, j.start)))
      parent.map { p =>
        next += 1
        (j, Span(next, p.slot, "job", j.start, math.max(j.start, j.end), Some(p.id)))
      }
    }
    val stageSpans = rec.stages.toSeq.flatMap { st =>
      jobSpans.filter { case (j, _) => j.stages.contains(st.id) && j.start <= st.submitted + slack }
        .lastOption.map { case (_, js) =>
          next += 1
          Span(next, js.slot, s"stage ${st.id}", st.submitted, math.max(st.submitted, st.completed),
            Some(js.id))
        }
    }
    jobSpans.map(_._2) ++ stageSpans
  }
}

/** Epoch nanoseconds from the monotonic clock. */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + offset
}

/** Records Spark jobs, stages, tasks and streaming micro-batches while
  * attached.  Each job keeps the span id the harness set as a local
  * property before submitting.  Micro-batch progress arrives as an "other"
  * event on the context's bus, so streams run from any session count. */
final class SparkRecorder extends SparkListener {
  import SparkRecorder._
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  var batches = 0L
  var batchMs = 0L
  private val ms = 1000000L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      batches += 1
      batchMs += Option(p.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)
    jobs += Job(e.jobId, span, e.time * ms, e.time * ms, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time * ms)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val submitted = i.submissionTime.getOrElse(0L) * ms
    stages += Stage(i.stageId, i.attemptNumber(), i.numTasks, submitted,
      i.completionTime.map(_ * ms).getOrElse(submitted))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def get(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks += Task(e.stageId, i.launchTime * ms, i.finishTime * ms, i.failed || i.killed,
      get(_.executorRunTime) / 1e3, get(_.executorCpuTime) / 1e9, get(_.jvmGCTime) / 1e3,
      get(_.shuffleWriteMetrics.bytesWritten), get(_.shuffleReadMetrics.totalBytesRead),
      get(_.diskBytesSpilled), get(_.inputMetrics.bytesRead), get(_.outputMetrics.bytesWritten),
      get(_.outputMetrics.recordsWritten))
  }
}

object SparkRecorder {
  val SpanKey = "perfbench.span"
  final case class Job(id: Int, span: Option[Long], start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, numTasks: Int, submitted: Long, completed: Long)
  final case class Task(stage: Int, start: Long, end: Long, failed: Boolean, runS: Double,
                        cpuS: Double, gcS: Double, shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, read: Long, written: Long, rowsWritten: Long)
}

/** Per-layer metrics of the traced passes.  Sums are divided by the
  * number of traced passes, so each reads as the cost of one pass. */
object Layers {
  def metrics(spans: Seq[Span], rec: SparkRecorder, passes: Int,
              cores: Int): Seq[(String, Double, String)] = {
    val n = passes.toDouble
    val sec = 1e9
    val mb = 1024.0 * 1024.0
    val byId = spans.map(s => s.id -> s).toMap
    def named(name: String) = spans.filter(_.name == name)
    val jobs = named("job")
    def phaseOf(s: Span): Option[String] =
      s.parent.flatMap(byId.get).flatMap(p => if (p.name == "job") phaseOf(p) else Some(p.name))
    val stagePhase: Map[Int, String] = spans.filter(_.name.startsWith("stage "))
      .flatMap(s => phaseOf(s).map(s.name.stripPrefix("stage ").toInt -> _)).toMap
    val tasks = rec.tasks.filter(t => stagePhase.contains(t.stage)).toSeq
    val execTasks = tasks.filter(t => stagePhase(t.stage) == "exec")
    val build = named("build")
    val exec = named("exec")
    val buildS = build.map(_.duration).sum / sec
    val eagerS = build.map(b => Trace.covered(jobs.filter(_.parent.contains(b.id))
      .map(j => (j.start, j.end)), b.start, b.end)).sum / sec
    val execS = exec.map(_.duration).sum / sec
    val taskS = execTasks.map(_.runS).sum
    val gapS = exec.map(e => e.duration - Trace.covered(execTasks.map(t => (t.start, t.end)),
      e.start, e.end)).sum / sec
    val execStageIds = stagePhase.collect { case (id, "exec") => id }.toSet
    val singleTask = rec.stages.count(s => execStageIds(s.id) && s.attempt == 0 && s.numTasks == 1)
    // worst stage's slowest task over its median task, ignoring stages
    // whose slowest task is too short for the ratio to mean anything
    val skew = execTasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.end - t.start) / sec).sorted
      val med = d(d.size / 2)
      if (d.last >= 0.1 && med > 0) d.last / med else 1.0
    }.foldLeft(1.0)(math.max)
    Seq(
      ("build.s", buildS / n, "s"),
      ("build.jobs", jobs.count(j => phaseOf(j).contains("build")) / n, "count"),
      ("build.eager_s", eagerS / n, "s"),
      ("build.self_s", build.map(b => Trace.selfTime(b, spans)).sum / sec / n, "s"),
      ("plans.s", named("plans").map(_.duration).sum / sec / n, "s"),
      ("sources.read_mb", tasks.map(_.read).sum / mb / n, "MB"),
      ("sources.write_mb", tasks.map(_.written).sum / mb / n, "MB"),
      ("sources.rows_written", tasks.map(_.rowsWritten).sum / n, "count"),
      ("exec.s", execS / n, "s"),
      ("exec.jobs", jobs.count(j => phaseOf(j).contains("exec")) / n, "count"),
      ("exec.stages", execStageIds.size / n, "count"),
      ("exec.tasks", execTasks.size / n, "count"),
      ("exec.task_s", taskS / n, "s"),
      ("exec.cpu_s", execTasks.map(_.cpuS).sum / n, "s"),
      ("exec.gc_s", execTasks.map(_.gcS).sum / n, "s"),
      ("exec.core_busy", if (execS > 0) taskS / (execS * cores) else 0.0, "ratio"),
      ("exec.single_task_stages", singleTask / n, "count"),
      ("exec.driver_gap_s", gapS / n, "s"),
      ("exec.shuffle_write_mb", execTasks.map(_.shuffleWrite).sum / mb / n, "MB"),
      ("exec.shuffle_read_mb", execTasks.map(_.shuffleRead).sum / mb / n, "MB"),
      ("exec.spill_mb", execTasks.map(_.spill).sum / mb / n, "MB"),
      ("exec.skew", skew, "ratio"),
      ("exec.tasks_failed", execTasks.count(_.failed) / n, "count"),
      ("streaming.batches", rec.batches / n, "count"),
      ("streaming.batch_s", rec.batchMs / 1e3 / n, "s"),
    )
  }
}
