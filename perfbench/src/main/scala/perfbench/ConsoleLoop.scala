package perfbench

import graft.model.FilterDef
import graft.queries.Console
import graft.sources.LogSources
import graft.streaming.LogPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One console query of the mix, with its answer computed on the
  * generator side from the lines each filter matched. `ordered` answers
  * must match row for row; otherwise the rows must be `limit` distinct
  * members of the expected rows (a LIMIT without ORDER BY picks any). */
final case class ConsoleQuery(text: String, verb: String,
    expect: (String => Seq[(String, Long)]) => Seq[String],
    ordered: Boolean = true, limit: Option[Int] = None) {
  def render(r: Row): String = r.toSeq.map(String.valueOf).mkString("|")

  def check(rows: Array[Row], lines: String => Seq[(String, Long)]): Boolean = {
    val got = rows.toSeq.map(render)
    val want = expect(lines)
    limit match {
      case Some(n) => got.size == math.min(n, want.size) && got.distinct.size == got.size &&
        got.toSet.subsetOf(want.toSet)
      case None => if (ordered) got == want else got.sorted == want.sorted
    }
  }
}

object ConsoleQueries {
  private def grepSort(ls: Seq[(String, Long)], keep: String => Boolean, desc: Boolean, n: Int) = {
    val s = ls.map(_._1).filter(keep).sorted
    (if (desc) s.reverse else s).take(n)
  }

  /** The mix: every verb, over filters of very different sizes, with
    * selective and full-scan shapes. It is the same for every seed, so the
    * seed changes the data but not the work asked of the engine. */
  def mix: Seq[ConsoleQuery] = Seq(
    ConsoleQuery("cat checkout | grep GET | sort | head", "grep",
      l => grepSort(l("checkout"), _.contains("GET"), desc = false, 10)),
    ConsoleQuery("cat lowhosts | grep -v POST | grep -i cache | sort -r | head", "grep",
      l => grepSort(l("lowhosts"), s => !s.contains("POST") && s.toLowerCase.contains("cache"), desc = true, 10)),
    ConsoleQuery("""cat slow | grep -e "host-0[0-9] " | sort | limit 5""", "grep", { l =>
      val p = java.util.regex.Pattern.compile("host-0[0-9] ")
      grepSort(l("slow"), p.matcher(_).find(), desc = false, 5)
    }),
    ConsoleQuery("select * from posts where '(cart|orders)' limit 20", "select", { l =>
      val p = java.util.regex.Pattern.compile("(cart|orders)")
      l("posts").map(_._1).filter(p.matcher(_).find())
    }, limit = Some(20)),
    ConsoleQuery("tail auth", "tail", l => grepSort(l("auth"), _ => true, desc = true, 10)),
    ConsoleQuery("stats money window 1d rollup 1h", "stats", l => statsAnswer(l("money"), 86400L, 3600L),
      ordered = false),
    ConsoleQuery("count lowhosts", "count", l => Seq(l("lowhosts").size.toString)),
    ConsoleQuery("search select split(_raw, ' ')[1] as host, count(*) as n from checkout " +
      "group by 1 order by n desc, host limit 5", "search", l =>
      l("checkout").groupBy(_._1.split(" ")(1)).map { case (h, v) => (h, v.size) }.toSeq
        .sortBy { case (h, n) => (-n, h) }.take(5).map { case (h, n) => s"$h|$n" }),
    ConsoleQuery("search select count(*) as n from slow where _raw like '%uptime%'", "search",
      l => Seq(l("slow").count(_._1.contains("uptime")).toString)))

  /** `stats` as StatsRollup defines it: the trailing window ending at the
    * newest line, hourly buckets, zero-filled between the first and last. */
  def statsAnswer(ls: Seq[(String, Long)], window: Long, step: Long): Seq[String] = {
    val secs = ls.map(x => Math.floorDiv(x._2, 1000L))
    val now = secs.max
    val counts = secs.filter(_ >= now - window).groupBy(s => s - Math.floorMod(s, step)).map { case (b, v) => b -> v.size }
    (counts.keys.min to counts.keys.max by step).map(b => s"$b|${counts.getOrElse(b, 0)}")
  }
}

/** Scan-node counts of an executed plan, adaptive plans included. */
object Scans extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): (Long, Long, Long) = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    (m("numFiles"), m("filesSize"), m("numOutputRows"))
  }
}

/** `console`: one client, no think time, running the console verbs against
  * the results table while an open-loop ingest appends to it through the
  * full log pipeline: parse, the filter fan-out, the 1 s results sink
  * and the 10 s durable stats sink with the online classifier. */
object ConsoleLoop {
  final case class Timing(q: Int, parse: Double, compile: Double, plan: Double, execute: Double,
      span: Long, files: Long, bytes: Long, scanned: Long, returned: Long) {
    def total: Double = parse + compile + plan + execute
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val filters = LogGen.Filters
    val fileMs = ctx.int("file_ms")
    val limitMs = (ctx.dbl("latency_limit_s") * 1000).toLong
    val maxFiles = ctx.int("max_files_per_trigger")
    val in = ctx.dir("in"); val inStats = ctx.dir("in-stats"); val tmp = ctx.dir("gen-tmp")
    val results = ctx.work.resolve("results"); val stats = ctx.work.resolve("stats")
    val ckR = ctx.work.resolve("ck-results"); val ckS = ctx.work.resolve("ck-stats")
    def stream(dir: java.nio.file.Path, maxFiles: Int) = LogPipeline.matches(
      LogPipeline.parse(LogSources.textDir(spark, dir.toString, maxFiles)), filters)

    // History: lines spread over the `history_hours` before the start of
    // the current UTC day, written through the results sink by its first
    // micro-batch. Anchored to the day, the table has the same date
    // partitions whatever the time of day; live lines land in today's.
    val r = new Random(ctx.seed)
    val histLines = ctx.int("history_lines"); val histFiles = ctx.int("history_files")
    val now = System.currentTimeMillis()
    val dayStart = now - Math.floorMod(now, 86400000L)
    val spanMs = ctx.int("history_hours") * 3600000L
    val history = (0 until histFiles).map { k =>
      val n = histLines / histFiles
      val stamps = Array.tabulate(n)(j => dayStart - spanMs + (k.toLong * n + j) * spanMs / histLines)
      val lines = Array.tabulate(n)(j => LogGen.line(r, stamps(j), k.toLong * n + j))
      val name = f"hist-$k%04d.log"
      OpenLoop.publish(Seq(in), tmp, name, lines)
      Published(name, lines, stamps, now)
    }
    val warm = LogSide.publishNow(Seq(in, inStats), tmp, "warm-000000.log", r, 100, histLines.toLong)
    val rs = new Sink("results",
      LogPipeline.resultsQuery(stream(in, maxFiles), results.toString, ckR.toString), ckR, ctx.progress)
    val ss = new Sink("stats", LogPipeline.statsFrameSinkQuery(
      LogPipeline.combinedStatsFrame(stream(inStats, maxFiles))(spark), stats.toString, ckS.toString),
      ckS, ctx.progress)
    val warmDeadline = System.currentTimeMillis() + 120000L
    val preloadS = ctx.setupSeconds()
    Seq(rs, ss).foreach(s => require(s.drain(Seq(warm.name), warmDeadline).contains(warm.name),
      s"live ${s.name} query did not commit the warm-up file"))
    val filesAtStart = Sink.countFiles(results, ".parquet")
    val rate = ctx.int("ingest_rate")
    val gen = new OpenLoop(Seq(in, inStats), tmp, "live", ctx.seed, rate, fileMs, 1000000L)
    gen.launch()

    val ids = filters.map(f => f.name -> f.id).toMap
    val catalog = new Console.Catalog {
      def resolve(s: SparkSession, name: String): DataFrame = ctx.span("sources.resolve") {
        s.read.parquet(results.toString).filter(col("filter_id") === ids(name)).select("_raw", "ts")
      }
    }
    val queries = ConsoleQueries.mix
    def runOne(i: Int): (Array[Row], Timing) = ctx.span("bench.query") {
      val t0 = System.nanoTime()
      val cmd = ctx.span("queries.parse")(Console.parse(queries(i).text))
      val t1 = System.nanoTime()
      val df = ctx.span("queries.compile")(Console.compile(cmd, catalog, spark))
      val t2 = System.nanoTime()
      ctx.span("queries.plan")(df.queryExecution.executedPlan)
      val t3 = System.nanoTime()
      val rows = ctx.span("queries.execute")(df.collect())
      val t4 = System.nanoTime()
      val (files, bytes, scanned) = if (ctx.trace) Scans.of(df) else (0L, 0L, 0L)
      (rows, Timing(i, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9,
        ctx.tracer.current, files, bytes, scanned, rows.length))
    }
    // warm-up: whole passes over the mix, so the JIT has compiled the
    // driver-side query path before the loop (after one query per verb,
    // runs split into a fast and a slow mode)
    (0 until ctx.int("warmup_cycles")).foreach(_ => queries.indices.foreach(runOne))

    val setupS = ctx.setupSeconds()
    val window = new Window
    // one client cycling through the distinct queries in a fixed order, so
    // every seed asks the same sequence of the engine
    val order = new Random(17).shuffle(queries.indices.toVector)
    val timings = ArrayBuffer.empty[Timing]
    var threw = 0L
    val threwBy = Array.fill(queries.size)(0L)
    val runBy = Array.fill(queries.size)(0L)
    val loopT0 = System.nanoTime()
    val endAt = loopT0 + ctx.seconds * 1000000000L
    // at least one full cycle, so every verb is measured on a slow host too
    while (System.nanoTime() < endAt || timings.size + threw < queries.size) {
      val i = order((timings.size + threw.toInt) % order.size)
      runBy(i) += 1
      try timings += runOne(i)._2
      catch { case e: Exception => threw += 1; threwBy(i) += 1; System.err.println(s"query failed: ${queries(i).text}: $e") }
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val stopMs = System.currentTimeMillis()
    gen.finishBy(stopMs)
    val files = gen.files
    val rc = rs.drain(files.map(_.name), files.last.dueMs + limitMs)
    // the stats sink triggers every 10 s: take what it has committed by now
    val sc = ss.fileCommits()
    val host = window.metrics()
    val endMs = System.currentTimeMillis()
    // the results sink has drained every file, so it is idle; the stats
    // sink may be inside a 10 s micro-batch
    rs.query.stop(); ss.stopIdle(10000L)
    val heldByResults = rs.committedFiles(); val heldByStats = ss.committedFiles()

    // Checks: every distinct query once more on the quiesced table, the
    // results rows, and the stats sink's metric-1 counts, each against the
    // generator's evaluation of the lines that sink committed.
    val c0 = System.nanoTime()
    val committed = ((history :+ warm) ++ files).filter(f => heldByResults(f.name))
    val byFilter = LogSide.expectedMatches(committed, filters).groupBy(_._1)
    val stampOf = committed.flatMap(f => f.lines.zip(f.stamps)).toMap
    val lines: String => Seq[(String, Long)] = name =>
      byFilter.getOrElse(ids(name), Nil).map { case (_, l) => l -> stampOf(l) }
    val (badQueries, tableChecks) = ctx.span("bench.check") {
      val bad = queries.indices.filterNot { i =>
        try queries(i).check(runOne(i)._1, lines)
        catch { case e: Exception => System.err.println(s"check failed: ${queries(i).text}: $e"); false }
      }
      val want1 = LogSide.expectedMatches((warm +: files).filter(f => heldByStats(f.name)), filters)
        .groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val got1 = LogPipeline.readStatsTable(spark, stats.toString).filter(col("metric") === 1)
        .groupBy("filter_id").agg(sum("cnt")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (bad, LogSide.checkResults(ctx, results, committed, filters).toSeq ++
        (if (got1 == want1) Nil else Seq(s"stats metric-1 counts $got1 differ from generator counts $want1")))
    }
    val checkS = (System.nanoTime() - c0) / 1e9

    val (rLat, rMissing) = Sink.latencies(files, rc)
    val (sLat, _) = Sink.latencies(files, sc)
    // a line fails when a sink shows it later than the limit, or has not
    // shown it by the end although the limit has passed
    val failedLines = files.map { f =>
      f.stamps.count(t => Seq(rc, sc).exists(c => c.get(f.name).fold(endMs - t > limitMs)(_ - t > limitMs))).toLong
    }.sum
    val failedQueries = threw + badQueries.map(i => runBy(i) - threwBy(i)).sum
    val nLines = files.map(_.lines.length.toLong).sum
    val lat = timings.map(_.total).toSeq
    val late = LogSide.latePct(gen)
    val verbs = Seq("grep", "select", "tail", "stats", "count", "search")
    def verbP50(v: String) = Stats.median(timings.filter(t => queries(t.q).verb == v).map(_.total).toSeq)
    // each distinct query weighs once, whichever of them the last, partial
    // cycle reached; its median over its runs damps one that met a trigger
    val perQuery = queries.indices.map(i => Stats.median(timings.filter(_.q == i).map(_.total).toSeq))
      .filterNot(_.isNaN)
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_mean_s" -> perQuery.sum / perQuery.size,
      "latency_tail_s" -> verbs.map(verbP50).max,
      "secondary_s" -> Stats.pct(rLat, 0.9))

    val common = Map(
      "queries.per_s" -> timings.size / loopS,
      "queries.latency_p50_s" -> Stats.median(lat),
      "queries.latency_p75_s" -> Stats.pct(lat, 0.75),
      "loadgen.late_p99_s" -> late,
      "ingest.result_latency_p50_s" -> Stats.median(rLat),
      "ingest.result_latency_p99_s" -> Stats.pct(rLat, 0.99),
      "ingest.stats_latency_p99_s" -> Stats.pct(sLat, 0.99),
      "queries.parse_s_p50" -> Stats.median(timings.map(_.parse).toSeq),
      "queries.compile_s_p50" -> Stats.median(timings.map(_.compile).toSeq),
      "queries.plan_s_p50" -> Stats.median(timings.map(_.plan).toSeq),
      "queries.execute_s_p50" -> Stats.median(timings.map(_.execute).toSeq)) ++
      verbs.map(v => s"queries.$v.latency_p50_s" -> verbP50(v))
    val layer = if (!ctx.trace) common else {
      ctx.traceJobs(Seq(rs, ss))
      val rootOf = ctx.tracer.rootOf
      val byQuery = ctx.probe.get.snapshot.filter(_.queryId == null).groupBy(j => rootOf(j.span))
      val per = timings.map(t => ExecTotals.of(byQuery.getOrElse(t.span, Nil))).toSeq
      val n = timings.size.toDouble
      // micro-batches of the measured window; the warm-up ones planned and compiled
      val rb = rs.dataBatches.filter(Progress.startMs(_) >= gen.startMs)
      val sb = ss.dataBatches.filter(Progress.startMs(_) >= gen.startMs)
      val allLines = (nLines + warm.lines.length).toDouble
      val re = ctx.exec(_.queryId == rs.query.id.toString)
      val se = ctx.exec(_.queryId == ss.query.id.toString)
      common ++ host ++ Sink.phaseMetrics("streaming.results", rb) ++
        Sink.stateMetrics("streaming.stats", sb) ++ Map(
        "queries.driver_share" -> timings.zip(per).map { case (t, e) => t.total - e.stageWallUs / 1e6 }.sum / lat.sum,
        "queries.jobs_per_query" -> per.map(_.jobs).sum / n,
        "queries.stages_per_query" -> per.map(_.stages).sum / n,
        "queries.tasks_per_query" -> per.map(_.tasks).sum / n,
        "queries.executor_cpu_s_per_query" -> per.map(_.cpuS).sum / n,
        "queries.shuffle_bytes_per_query" -> per.map(_.shuffleBytes).sum / n,
        "queries.spill_bytes_per_query" -> per.map(_.spillBytes).sum / n,
        "sources.files_read_per_query" -> timings.map(_.files).sum / n,
        "sources.bytes_read_per_query" -> timings.map(_.bytes).sum / n,
        "sources.rows_scanned_per_row_returned" -> timings.map(_.scanned).sum.toDouble / math.max(1L, timings.map(_.returned).sum),
        "sources.latest_offset_s_p50" -> Stats.median(rb.map(Progress.dur(_, "latestOffset") / 1e3)),
        "sources.get_batch_s_p50" -> Stats.median(rb.map(Progress.dur(_, "getBatch") / 1e3)),
        "streaming.results.busy_share" -> rb.map(Progress.dur(_, "triggerExecution")).sum / (endMs - gen.startMs).toDouble,
        "streaming.results.files_written_per_trigger" ->
          (Sink.countFiles(results, ".parquet") - filesAtStart).toDouble / rb.size,
        "streaming.stats.trigger_s_p95" -> Stats.pct(sb.map(Progress.dur(_, "triggerExecution") / 1e3), 0.95),
        "streaming.lag_lines_end" -> files.filter(f => rc.get(f.name).forall(_ > stopMs)).map(_.lines.length).sum.toDouble,
        "operators.results.cpu_s_per_mline" -> re.cpuS * 1e6 / allLines,
        "operators.results.run_s_per_mline" -> re.runS * 1e6 / allLines,
        "operators.results.gc_share" -> re.gcS / re.runS,
        "operators.results.task_skew" -> re.skew,
        "operators.results.bytes_written_per_line" -> re.bytesWritten / allLines,
        "operators.stats.cpu_s_per_mline" -> se.cpuS * 1e6 / allLines,
        "operators.stats.shuffle_bytes_per_trigger" -> se.shuffleBytes.toDouble / math.max(1, sb.size),
        "ml.classifier.state_rows" -> ss.progress.lastOption.map(_.stateOperators.toSeq
          .filter(_.operatorName.toLowerCase.contains("flatmapgroupswithstate"))
          .map(_.numRowsTotal).sum.toDouble).getOrElse(0.0))
    }
    val tableMb = Host.du(results)._1 / 1048576.0
    Result(badQueries.isEmpty && tableChecks.isEmpty, timings.size + threw + nLines,
      failedQueries + failedLines, e2e, layer,
      notes = badQueries.map(i => s"check failed: ${queries(i).text}") ++ tableChecks ++ Seq(
        f"setup: live queries started at $preloadS%.1f s, set-up done at $setupS%.1f s, checks took $checkS%.1f s",
        f"console: ${queries.size} distinct queries, ${timings.size} run, $failedQueries failed; " +
          f"history $histLines lines over ${ctx.int("history_hours")} h, results table $filesAtStart files " +
          f"$tableMb%.1f MB at the end",
        f"ingest: $nLines lines at $rate/s, ${filters.size} filters, $failedLines failed, $rMissing not in results, " +
          f"${files.count(f => heldByStats(f.name))}/${files.size} files in stats; generator late p99 $late%.3f s"),
      invalid = if (late > ctx.dbl("late_limit_s")) Some(f"generator late p99 $late%.3f s") else None)
  }
}
