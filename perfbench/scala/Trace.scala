package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch milliseconds; `traceId` is shared
  * by every span of one benchmark call (or of one micro-batch run outside
  * any call). */
final case class Span(spanId: String, traceId: String, name: String, kind: String,
    parent: Option[String], start: Double, end: Double) {
  def dur: Double = end - start
}

object Spans {

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.map { s =>
      val covered = kids.getOrElse(s.spanId, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.spanId -> (s.dur - Stats.unionLength(covered))
    }.toMap
  }

  /** Splits a call's wall time among its layers, innermost first: time
    * under a Spark job, time under a micro-batch but no job, and the
    * driver's own time under neither. The three parts add up to the wall
    * time exactly. */
  def layerSplit(call: Span, batches: Seq[Span], jobs: Seq[Span]): Map[String, Double] = {
    def clip(xs: Seq[Span]) = xs.map(x => (math.max(x.start, call.start), math.min(x.end, call.end)))
    val job = Stats.unionLength(clip(jobs))
    val jobOrBatch = Stats.unionLength(clip(jobs) ++ clip(batches))
    Map("job" -> job, "batch" -> (jobOrBatch - job), "driver" -> (call.dur - jobOrBatch))
  }
}

/** A finished Spark job as the listener saw it. */
final case class JobRec(jobId: Int, start: Double, end: Double, callId: Option[String],
    queryId: Option[String], batchId: Option[Long], module: String,
    stages: Int, tasks: Long, runMs: Long, cpuNs: Long, shuffleBytes: Long, inputBytes: Long)

/** A micro-batch as the streaming listener saw it. */
final case class BatchRec(queryId: String, runId: String, name: String, batchId: Long,
    start: Double, end: Double, durations: Map[String, Long], inputRows: Long,
    stateRows: Long, stateBytes: Long, endOffset: Map[String, Long])

/** Files whose jobs are reported as `module.<File>`; a job belongs to the
  * first of these files found on its call-site stack. */
object Modules {
  val Files: Seq[String] = Seq("ZOrder", "LshIndex", "VecIndex", "PqIndex", "TextIndex",
    "Sources", "Graph", "Dedup", "Similarity", "Relational", "TextAnalysis")
  private val Frame = """\(([A-Za-z0-9_]+)\.scala:\d+\)""".r

  def of(callSiteLong: String): String =
    Frame.findAllMatchIn(Option(callSiteLong).getOrElse("")).map(_.group(1))
      .find(Files.contains).getOrElse("other")
}

/** Local property naming the benchmark call that started a job. */
object CallProp {
  val Key = "perfbench.call"
}

/** Observes Spark from outside: job, stage and micro-batch events. The
  * job/stage side is attached only for a traced phase; the streaming side
  * is always on, because the txn_service workload times commits from it. */
final class Recorder {
  private val jobStarts = mutable.Map.empty[Int, (Double, java.util.Properties, Seq[Int])]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAgg = mutable.Map.empty[Int, Array[Long]] // stages, tasks, run, cpu, shuffle, input
  private val jobsDone = new ConcurrentLinkedQueue[JobRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  @volatile var onBatch: BatchRec => Unit = _ => ()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = (e.time.toDouble, e.properties, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      stageAgg(e.jobId) = new Array[Long](6)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      stageJob.get(info.stageId).flatMap(stageAgg.get).foreach { a =>
        a(0) += 1
        a(1) += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          a(2) += m.executorRunTime
          a(3) += m.executorCpuTime
          a(4) += m.shuffleWriteMetrics.bytesWritten
          a(5) += m.inputMetrics.bytesRead
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, props, stageIds) =>
        def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
        val a = stageAgg.remove(e.jobId).getOrElse(new Array[Long](6))
        stageIds.foreach(stageJob.remove)
        jobsDone.add(JobRec(e.jobId, start, e.time.toDouble, prop(CallProp.Key),
          prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong),
          Modules.of(prop("callSite.long").orNull), a(0).toInt, a(1), a(2), a(3), a(4), a(5)))
      }
    }
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val end = start + durations.getOrElse("triggerExecution", p.batchDuration)
      val offsets = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .map(Json.parseLongMap).getOrElse(Map.empty)
      val rec = BatchRec(p.id.toString, p.runId.toString, Option(p.name).getOrElse(""), p.batchId,
        start, end, durations, p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum,
        offsets)
      batches.add(rec)
      onBatch(rec)
    }
  }

  def jobs: Seq[JobRec] = jobsDone.asScala.toSeq.sortBy(_.start)
  def clearJobs(): Unit = jobsDone.clear()
}

/** Monotonic clock aligned to epoch milliseconds, so benchmark spans and
  * listener timestamps share one time axis. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private val ids = new AtomicLong
  def nextId(prefix: String): String = s"$prefix${ids.incrementAndGet()}"
}
