package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval, in epoch microseconds. Spans of one operation share
  * `trace`, the id of the operation's root span. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startUs: Long, endUs: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  /** Epoch microseconds on the monotonic clock. */
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spans recorded around the benchmark's calls into the engine. When
  * disabled, `span` runs its body and records nothing. The id of the
  * innermost open span on the calling thread is also set as a Spark local
  * property, so Spark jobs launched inside it (and by threads it creates)
  * can be parented to it. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val open = new ThreadLocal[(Long, Long)] { override def initialValue = (0L, 0L) }

  def newId(): Long = ids.getAndIncrement()
  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** Id of the innermost open span on this thread, 0 when none. */
  def current: Long = open.get._1

  /** Maps a span id to the id of its operation's root span. */
  def rootOf: Long => Long = {
    val trace = all.map(s => s.id -> s.trace).toMap
    id => trace.getOrElse(id, id)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val (parent, trace0) = open.get
      val id = newId()
      val trace = if (trace0 == 0L) id else trace0
      open.set((id, trace))
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = Clock.nowUs
      try f
      finally {
        spans.add(Span(id, parent, trace, name, t0, Clock.nowUs))
        open.set((parent, trace0))
        sc.setLocalProperty(Tracer.SpanKey, if (parent == 0L) null else parent.toString)
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Stats.unionUs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a })
        (s.endUs - s.startUs - covered).max(0L) / 1e6
      }.sum
    }
  }

  def toJsonLines(spans: Seq[Span]): Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
  }
}

/** Progress events of every streaming query, kept for the latency
  * computation. Installed in every run: the engine emits these events
  * whether or not anything listens. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]
  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == queryId).toSeq.sortBy(_.batchId)
}

object Progress {
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  /** Commit time of a micro-batch: trigger start plus trigger execution. */
  def commitMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution")

  /** A trigger and its phases as spans, phases laid out in the order the
    * micro-batch runs them. Returns the add-batch phase span, the parent
    * of the batch's Spark jobs. */
  def spans(t: Tracer, p: StreamingQueryProgress, query: String): Span = {
    val s0 = startMs(p) * 1000L
    val root = t.newId()
    t.add(Span(root, 0L, root, s"streaming.$query.trigger", s0, s0 + dur(p, "triggerExecution") * 1000L))
    var at = s0
    Seq("latestOffset" -> "sources.latest_offset", "walCommit" -> "streaming.wal_commit",
      "getBatch" -> "sources.get_batch", "queryPlanning" -> "streaming.planning",
      "addBatch" -> s"streaming.$query.add_batch", "commitOffsets" -> "streaming.commit_offsets"
    ).map { case (k, name) =>
      val d = dur(p, k) * 1000L
      val s = Span(t.newId(), root, root, name, at, at + d)
      at += d
      t.add(s)
      s
    }.find(_.name.endsWith("add_batch")).get
  }
}

/** Executor-side counts of one stage, summed over its tasks. */
final class StageAgg(val stageId: Int, val jobId: Int) {
  var submitMs = 0L; var endMs = 0L
  var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var spill = 0L; var bytesWritten = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final class JobAgg(val jobId: Int, val startMs: Long, val span: Long,
    val queryId: String, val batchId: Long) {
  var endMs = 0L
  val stages = mutable.ArrayBuffer.empty[StageAgg]
}

/** Spark jobs, stages and task metrics, each job tagged with the span or
  * streaming micro-batch that launched it. Installed only in traced
  * runs. */
final class SparkProbe extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val qid = prop("sql.streaming.queryId").orNull
    val j = new JobAgg(e.jobId, e.time,
      if (qid != null) 0L else prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L),
      qid, prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
    jobs(e.jobId) = j
    e.stageInfos.foreach { si =>
      val s = stages.getOrElseUpdate(si.stageId, new StageAgg(si.stageId, e.jobId))
      j.stages += s
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.submitMs = e.stageInfo.submissionTime.getOrElse(0L))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(s.submitMs)
      s.endMs = e.stageInfo.completionTime.getOrElse(0L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.taskMs += e.taskInfo.duration
    }
  }

  def snapshot: Seq[JobAgg] = synchronized(jobs.values.toSeq)

  /** Job and stage spans. A streaming job is parented to its micro-batch's
    * add-batch span, any other job to the span that launched it. */
  def spans(t: Tracer, batchParent: (String, Long) => Option[Span]): Unit =
    snapshot.foreach { j =>
      val parent = if (j.queryId != null) batchParent(j.queryId, j.batchId) else None
      val pid = parent.map(_.id).getOrElse(j.span)
      val trace = parent.map(_.trace).getOrElse(pid)
      val jid = t.newId()
      t.add(Span(jid, pid, trace, "scheduler.job", j.startMs * 1000L, math.max(j.endMs, j.startMs) * 1000L))
      j.stages.filter(s => s.endMs > 0 && s.submitMs > 0).foreach { s =>
        t.add(Span(t.newId(), jid, trace, "operators.stage", s.submitMs * 1000L, s.endMs * 1000L))
      }
    }
}

/** Totals of the stages behind a set of jobs. */
final case class ExecTotals(jobs: Int, stages: Int, tasks: Long, cpuS: Double,
    runS: Double, gcS: Double, shuffleBytes: Long, spillBytes: Long,
    bytesWritten: Long, skew: Double, stageWallUs: Long)

object ExecTotals {
  def of(js: Seq[JobAgg]): ExecTotals = {
    val ss = js.flatMap(_.stages).distinctBy(_.stageId).filter(_.tasks > 0)
    // skew: max over stages of (slowest task / median task), for stages
    // with enough tasks to have a median worth the name
    val skews = ss.filter(_.taskMs.size >= 2).map { s =>
      val t = s.taskMs.sorted
      t.last.toDouble / math.max(1L, t(t.size / 2))
    }
    ExecTotals(js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.cpuNs).sum / 1e9,
      ss.map(_.runMs).sum / 1e3, ss.map(_.gcMs).sum / 1e3,
      ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum, ss.map(_.bytesWritten).sum,
      if (skews.isEmpty) 1.0 else skews.max,
      Stats.unionUs(ss.filter(_.endMs > 0).map(s => (s.submitMs * 1000L, s.endMs * 1000L))))
  }
}
