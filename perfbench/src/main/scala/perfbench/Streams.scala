package perfbench

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Line-to-result latency of a file-sourced streaming query. Each input
  * file is mapped to the micro-batch that read it through the checkpoint's
  * source log; the batch's commit time comes from its progress event. */
final class Sink(val name: String, val query: StreamingQuery, ck: Path, log: ProgressLog) {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  def progress: Seq[StreamingQueryProgress] = log.of(query.id)

  /** Input file name -> the source's own log offset for the file. The
    * file source numbers only the batches that read new files, so this is
    * not the query's batch id. */
  def fileOffsets: Map[String, Long] = {
    val dir = ck.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val st = Files.list(dir)
      try st.iterator.asScala.toSeq
        .filter(p => p.getFileName.toString.matches("\\d+(\\.compact)?"))
        .flatMap(p => Files.readAllLines(p).asScala.drop(1))
        .flatMap { l =>
          for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
            yield p.group(1).substring(p.group(1).lastIndexOf('/') + 1) -> b.group(1).toLong
        }.toMap
      finally st.close()
    }
  }

  /** (source end offset, commit time in epoch ms) of every finished batch,
    * in batch order. */
  def commits: Seq[(Long, Long)] = progress.flatMap { p =>
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => Sink.LogOffsetRe.findFirstMatchIn(o)).map(m => m.group(1).toLong -> Progress.commitMs(p))
  }

  /** Commit time of each input file read by a finished batch: that of the
    * first batch whose end offset reaches the file's offset. */
  def fileCommits(): Map[String, Long] = {
    val c = commits
    fileOffsets.flatMap { case (f, off) => c.find(_._1 >= off).map(f -> _._2) }
  }

  /** Input files of the batches the checkpoint's commit log records. Read
    * after the query has stopped, this is exactly what the sink holds. */
  def committedFiles(): Set[String] = {
    def ids(d: Path) = if (!Files.isDirectory(d)) Nil else {
      val st = Files.list(d)
      try st.iterator.asScala.map(_.getFileName.toString).filter(_.matches("\\d+")).map(_.toLong).toList
      finally st.close()
    }
    ids(ck.resolve("commits")).maxOption.fold(Set.empty[String]) { last =>
      val end = Files.readAllLines(ck.resolve("offsets").resolve(last.toString)).asScala
        .flatMap(l => Sink.LogOffsetRe.findFirstMatchIn(l)).map(_.group(1).toLong).head
      fileOffsets.filter(_._2 <= end).keySet
    }
  }

  /** Wait until every file in `names` is committed, or `deadlineMs` passes. */
  def drain(names: Iterable[String], deadlineMs: Long): Map[String, Long] = {
    var fc = fileCommits()
    while (!names.forall(fc.contains) && System.currentTimeMillis() < deadlineMs) {
      if (query.exception.isDefined) throw query.exception.get
      Thread.sleep(100)
      fc = fileCommits()
    }
    fc
  }

  /** Stop between micro-batches. A foreachBatch sink writes its output
    * before the checkpoint's commit log, so a stop inside a batch can leave
    * rows of a batch the commit log does not record. Processing-time
    * triggers fire at whole multiples of `intervalMs`, so a stop while no
    * trigger is active and none is about to fire interrupts no batch. */
  def stopIdle(intervalMs: Long): Unit = {
    def nearTrigger = {
      val phase = System.currentTimeMillis() % intervalMs
      phase > intervalMs - 500 || phase < 300
    }
    while (query.status.isTriggerActive || nearTrigger) Thread.sleep(20)
    query.stop()
  }

  /** Progress of the batches that read input. */
  def dataBatches: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
}

object Sink {
  private[perfbench] val LogOffsetRe = "\"logOffset\":(\\d+)".r

  /** Per-line latencies in seconds of `files`' lines, and the number of
    * lines whose file was never committed. */
  def latencies(files: Seq[Published], commits: Map[String, Long]): (Seq[Double], Long) = {
    val out = ArrayBuffer.empty[Double]
    var missing = 0L
    files.foreach { f =>
      commits.get(f.name) match {
        case Some(c) => f.stamps.foreach(s => out += (c - s) / 1e3)
        case None => missing += f.lines.length
      }
    }
    (out.toSeq, missing)
  }

  /** Per-layer metrics of a file-sourced query from its progress events. */
  def phaseMetrics(prefix: String, ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def p(k: String, q: Double) = Stats.pct(ps.map(Progress.dur(_, k) / 1e3), q)
    Map(s"$prefix.trigger_s_p50" -> p("triggerExecution", 0.5),
      s"$prefix.trigger_s_p95" -> p("triggerExecution", 0.95),
      s"$prefix.planning_s_p50" -> p("queryPlanning", 0.5),
      s"$prefix.add_batch_s_p50" -> p("addBatch", 0.5),
      s"$prefix.commit_s_p50" -> Stats.median(ps.map(x =>
        (Progress.dur(x, "walCommit") + Progress.dur(x, "commitOffsets")) / 1e3)))
  }

  /** State-store totals of the last batch, and the per-batch state commit time. */
  def stateMetrics(prefix: String, ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val last = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    Map(s"$prefix.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
      s"$prefix.state_memory_bytes" -> last.map(_.memoryUsedBytes).sum.toDouble,
      s"$prefix.state_commit_s_p50" -> Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum / 1e3)))
  }

  def countFiles(root: Path, suffix: String): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator.asScala.count(p => p.getFileName.toString.endsWith(suffix) &&
        !p.toString.contains("_spark_metadata")).toLong
      finally st.close()
    }
}
