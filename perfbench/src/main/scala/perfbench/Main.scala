package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** What one workload run measured. `e2e` holds the user-visible metrics,
  * `layer` the per-layer ones (filled in traced runs). */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    e2e: Map[String, Double], layer: Map[String, Double],
    notes: Seq[String] = Nil, invalid: Option[String] = None)

/** Everything a workload needs: the session, its settings and where it
  * may write. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path, params: Map[String, String]) {
  val tracer = new Tracer(trace, spark.sparkContext)
  val progress = new ProgressLog
  val probe: Option[SparkProbe] = if (trace) Some(new SparkProbe) else None
  spark.streams.addListener(progress)
  probe.foreach(spark.sparkContext.addSparkListener(_))

  def str(k: String): String = params.getOrElse(k, sys.error(s"missing setting $k"))
  def int(k: String): Int = str(k).toInt
  def dbl(k: String): Double = str(k).toDouble
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  /** Seconds from JVM start until now: the run's set-up time when called
    * just before the first timed operation. */
  def setupSeconds(): Double = (System.currentTimeMillis() - Host.jvmStartMs) / 1e3

  /** In traced runs: spans for every micro-batch of `sinks` and for every
    * Spark job, each job under the span or micro-batch that launched it. */
  def traceJobs(sinks: Seq[Sink]): Unit = if (trace) {
    val adds = sinks.flatMap(s => s.progress.map { p =>
      (s.query.id.toString, p.batchId) -> Progress.spans(tracer, p, s.name)
    }).toMap
    probe.foreach(_.spans(tracer, (q, b) => adds.get((q, b))))
  }

  /** Executor totals of the jobs `owned` selects. */
  def exec(owned: JobAgg => Boolean): ExecTotals =
    ExecTotals.of(probe.map(_.snapshot.filter(owned)).getOrElse(Nil))
}

/** Runs one workload of the benchmark and prints its measurements.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> [key=value ...]`
  *
  * The last line of standard output is `PERFBENCH_RESULT {json}`. The
  * command-line wrapper turns it into the benchmark's result line. */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5, "usage: <workload> <seed> <seconds> <trace 0|1> <work dir> [key=value ...]")
    val Array(workload, seedS, secondsS, traceS, workS) = args.take(5)
    val params = args.drop(5).map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val work = Files.createDirectories(Path.of(workS).toAbsolutePath)
    val cores = GraftSession.defaultCores
    val spark = GraftSession.builder(cores)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - Host.jvmStartMs) / 1e3
    val ctx = new Ctx(spark, seedS.toLong, secondsS.toInt, traceS == "1", work, params)
    val r = try workload match {
      case "console" => ConsoleLoop.run(ctx)
      case "pretrain" => Pretrain.run(ctx)
      case other => sys.error(s"unknown workload $other")
    } finally spark.streams.active.foreach(_.stop())
    r.invalid.foreach { why =>
      System.err.println(s"[perfbench] run invalid, not published: $why")
      spark.stop()
      sys.exit(3)
    }
    val layer =
      if (!ctx.trace) r.layer
      else {
        val spans = ctx.tracer.all
        val traces = Files.createDirectories(work.getParent.resolve("traces"))
        Files.write(traces.resolve(s"trace-$workload-$seedS.jsonl"),
          Tracer.toJsonLines(spans).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        r.layer ++ Tracer.selfTimeByLayer(spans).map { case (l, s) => s"trace.self_s.$l" -> s } +
          ("trace.spans" -> spans.size.toDouble)
      }
    val e2e = r.e2e + ("peak_rss_mb" -> Host.peakRssMb)
    (f"session ready at $sessionS%.1f s" +: r.notes).foreach(n => println(s"[perfbench] $n"))
    println(s"[perfbench] host nproc=${Host.cores} cores_used=$cores " +
      s"xmx_mb=${Runtime.getRuntime.maxMemory / 1048576} spark=${spark.version} " +
      s"workload=$workload seed=$seedS trace=$traceS")
    spark.stop()
    def nums(m: Map[String, Double]) = Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> r.correct.toString, "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString, "e2e" -> nums(e2e), "layer" -> nums(layer))))
  }
}
