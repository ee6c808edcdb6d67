package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans for the traced run: run → phase → artifact or
  * invocation → {build, plan, exec} → Spark job.
  *
  * Spans are opened and closed on the benchmark thread only. Each open
  * or close sets two Spark local properties, `perfbench.span` (the
  * innermost open span) and `perfbench.phase`, so a job submitted from
  * inside a span — including the eager jobs a query runs while its
  * DataFrame is being built — is attributed to it by [[JobListener]].
  * Everything is written out once, by [[dump]], after the run.
  */
final class Tracer {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var sc: Option[SparkContext] = None
  private val jobs = new JobListener
  private val streams = new StreamListener

  private def now(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  def open(kind: String, name: String): Span = {
    val s = Span(spans.size + 1, stack.headOption.fold(0)(_.id), kind, name, now())
    spans += s
    stack = s :: stack
    tag()
    s
  }

  def close(s: Span): Unit = {
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    s.end = now()
    stack = stack.tail
    tag()
  }

  def span[A](kind: String, name: String)(f: => A): A = {
    val s = open(kind, name)
    try f finally close(s)
  }

  private def tag(): Unit = sc.foreach { c =>
    c.setLocalProperty("perfbench.span", stack.headOption.fold("0")(_.id.toString))
    c.setLocalProperty("perfbench.phase",
      stack.find(_.kind == "phase").fold("none")(_.name))
  }

  def attach(spark: SparkSession): Unit = {
    sc = Some(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    tag()
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit = {
    val c = spark.sparkContext
    try {
      val bus = c.getClass.getMethod("listenerBus").invoke(c)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(60000L))
    } catch { case NonFatal(_) => Thread.sleep(2000) }
  }

  def dump(emit: Seq[(String, Any)] => Unit): Unit = {
    spans.foreach(s => emit(Seq("ev" -> "span", "id" -> s.id,
      "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start" -> s.start, "end" -> s.end)))
    jobs.records.foreach(j => emit(Seq("ev" -> "job", "id" -> j.id,
      "parent" -> j.span, "phase" -> j.phase, "start" -> j.startMs / 1e3,
      "end" -> j.endMs / 1e3, "failed" -> j.failed, "stages" -> j.stages,
      "tasks" -> j.tasks, "task_run_s" -> j.runMs / 1e3,
      "gc_s" -> j.gcMs / 1e3, "scheduler_delay_s" -> j.schedMs / 1e3,
      "shuffle_write_bytes" -> j.shuffleWrite,
      "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill,
      "failed_tasks" -> j.failedTasks)))
    emit(Seq("ev" -> "stream", "queries" -> streams.queries,
      "batches" -> streams.batches, "input_rows" -> streams.inputRows,
      "batch_s" -> streams.batchMs / 1e3,
      "state_rows" -> streams.stateRows.values.sum))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Double, var end: Double = -1.0)
}

/** Per-job task totals. Listener callbacks arrive on one bus thread;
  * [[Tracer.drain]] orders the final read after the last of them. */
final class JobRec(val id: Int, val span: Int, val phase: String,
    val startMs: Long) {
  var endMs = -1L
  var failed = false
  var stages, tasks, failedTasks = 0
  var runMs, gcMs, schedMs, shuffleWrite, shuffleRead, spill = 0L
}

final class JobListener extends SparkListener {
  val records = ArrayBuffer.empty[JobRec]
  private val byJob = mutable.Map.empty[Int, JobRec]
  private val byStage = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String, d: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse(d)
    val j = new JobRec(e.jobId, prop("perfbench.span", "0").toInt,
      prop("perfbench.phase", "none"), e.time)
    records += j
    byJob(e.jobId) = j
    // a stage shared with an earlier job belongs to the job that ran it
    e.stageIds.foreach(s => if (!byStage.contains(s)) byStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    byJob.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.failed = e.jobResult != JobSucceeded
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    byStage.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      val info = e.taskInfo
      if (info != null && info.failed) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        if (info != null) {
          // the Spark UI's definition of scheduler delay
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          j.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        }
      }
    }
}

final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  @volatile var queries, batches = 0
  @volatile var inputRows, batchMs = 0L
  /** Last reported state-store rows per query run. */
  val stateRows = mutable.Map.empty[String, Long]

  override def onQueryStarted(e: QueryStartedEvent): Unit = queries += 1

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    batches += 1
    inputRows += p.numInputRows
    batchMs += Option(p.durationMs.get("triggerExecution")).fold(0L)(_.longValue)
    stateRows(p.runId.toString) = p.stateOperators.map(_.numRowsTotal).sum
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
