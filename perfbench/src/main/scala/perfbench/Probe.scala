package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval. Times are epoch milliseconds. `op` is the
  * operation invocation the span belongs to (-1 for the pass). */
final case class Span(id: Long, parent: Long, op: Int, layer: String,
                      kind: String, name: String,
                      start: Double, end: Double)

/** Spark-side counters of one job, or of one operation invocation. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, waitMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  /** (stage duration ms, max task ms, median task ms) per stage */
  val stageShapes = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** (trigger ms, addBatch ms, walCommit ms, input rows) per batch */
  val batches = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; waitMs += o.waitMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill
    stageShapes ++= o.stageShapes
    batches ++= o.batches
  }
}

/** The traced run's recorder: a SparkListener and a
  * StreamingQueryListener that count jobs, stages, tasks and streaming
  * batches, plus the span list. Each job carries the job tag of the
  * operation that submitted it; [[settle]] attributes jobs to
  * operations. Listener callbacks arrive on Spark's listener bus thread;
  * the harness reads the results only after [[Bus.drain]]. */
final class Probe extends SparkListener {
  /** Counters per operation invocation, filled by [[settle]]. */
  val counters = mutable.HashMap.empty[Int, Counters]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private final case class Job(tagged: Int, start: Long, span: Long,
                               c: Counters = new Counters)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageTasks =
    mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val runOp = mutable.HashMap.empty[java.util.UUID, Int]
  private val progress =
    mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  def newId(): Long = synchronized { nextId += 1; nextId }
  def add(s: Span): Unit = synchronized { spans += s; () }
  private def forOp(op: Int): Counters =
    counters.getOrElseUpdate(op, new Counters)

  /** Streaming runs are attributed by run id, registered by the harness
    * right after `start()`. */
  def bindRun(run: java.util.UUID, op: Int): Unit = synchronized {
    runOp(run) = op; ()
  }

  private def opOfTags(tags: String): Int =
    Option(tags).toSeq.flatMap(_.split(","))
      .collectFirst { case t if t.startsWith(Probe.TagPrefix) =>
        t.stripPrefix(Probe.TagPrefix).toInt }.getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val job = Job(opOfTags(e.properties.getProperty("spark.job.tags")),
      e.time, newId())
    job.c.jobs += 1
    jobs(e.jobId) = job
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      add(Span(j.span, 0L, j.tagged, "", "job", s"job ${e.jobId}",
        j.start.toDouble, e.time.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val c = j.c
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      c.waitMs += stageSubmit.get(e.stageId)
        .map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
      ()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stageJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
        j.c.stages += 1
        val t0 = info.submissionTime.getOrElse(0L)
        val t1 = info.completionTime.getOrElse(t0)
        val durs = stageTasks.remove((info.stageId, info.attemptNumber()))
          .getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
        val med = if (durs.isEmpty) 0L else durs(durs.size / 2)
        j.c.stageShapes += ((t1 - t0, durs.lastOption.getOrElse(0L), med))
        add(Span(newId(), j.span, j.tagged, "", "stage",
          s"stage ${info.stageId}", t0.toDouble, t1.toDouble))
      }
    }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized { progress += e.progress; () }
  }

  /** Attribute what the listeners recorded since the last call: each job
    * to an operation (`opOf(tagged op, job start ms)`, which may
    * overrule a stale tag), the job's stage spans with it, and streaming
    * progress to the operation that started the query. Call after
    * [[Bus.drain]]. */
  def settle(from: Int, opOf: (Int, Long) => Int): Unit = synchronized {
    val final_ = jobs.map { case (_, j) => j.span -> opOf(j.tagged, j.start) }
    jobs.values.foreach(j => forOp(final_(j.span)).add(j.c))
    spans.indices.drop(from).foreach { i =>
      val s = spans(i)
      val op = if (s.kind == "job") final_.get(s.id)
        else if (s.kind == "stage") final_.get(s.parent) else None
      op.foreach(o => spans(i) = s.copy(op = o))
    }
    jobs.clear()
    progress.foreach { p =>
      runOp.get(p.runId).foreach { op =>
        def d(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        forOp(op).batches += ((d("triggerExecution"), d("addBatch"),
          d("walCommit"), p.numInputRows))
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        add(Span(newId(), 0L, op, "", "batch", s"batch ${p.batchId}",
          t0, t0 + d("triggerExecution")))
      }
    }
    progress.clear()
  }
}

object Probe {
  val TagPrefix = "perfbench-op-"
}
