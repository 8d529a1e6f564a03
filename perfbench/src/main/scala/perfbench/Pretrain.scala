package perfbench

import graft.streaming.{BatchTimer, StreamDedup, StreamPretrain}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded documents for the curation pipeline: English-like text over a
  * Zipf vocabulary plus two synthetic languages, with controlled shares
  * of junk, exact duplicates, near duplicates and benchmark
  * contamination. */
final class DocGen(seed: Long, exactShare: Double, nearShare: Double, contamShare: Double,
    junkShare: Double) {
  private val r = new Random(seed)
  private val en = ("the a of and to in is that it for on with as was at by be this from or " +
    "have an are but not which one all were when we there can their has more if will would " +
    "about out so what up them some time into only other new could these two may first then " +
    "do any like my now over such our man me even most made after also did many before must " +
    "through back years where much your way well down should because each just those people " +
    "how too little state good very make world still own see men work long get here between " +
    "both life being under never day same another know while last might us great old year off " +
    "come since against go came right used take three river market system water city report " +
    "data model engine stream filter table query result window server cluster memory disk " +
    "network energy garden forest music history science kitchen travel harbor winter summer").split(" ")
  private def synth(r0: Random, syl: Array[String]) =
    Array.fill(300)(Array.fill(2 + r0.nextInt(2))(syl(r0.nextInt(syl.length))).mkString)
  private val de = synth(new Random(seed ^ 0xde), Array("der", "ung", "sch", "ein", "ber", "ten", "ach", "lich", "gen", "heit"))
  private val fr = synth(new Random(seed ^ 0xf4), Array("eau", "ment", "ion", "que", "lle", "eur", "ais", "ette", "ois", "re"))
  // Zipf ranks over a fixed shuffle, so the frequent words are not just
  // the short function words (which would fail the mean-word-length rule)
  private val enByRank = new Random(7).shuffle(en.toSeq).toArray
  private val enZipf = new Zipf(en.length, 1.0)
  private val synZipf = new Zipf(300, 1.0)

  /** Fixed benchmark phrases the decontamination gate is fitted on. */
  val bench: Seq[String] = Seq.fill(40)(Seq.fill(14)(en(10 + r.nextInt(en.length - 10))).mkString(" "))

  private def words(lang: String, n: Int): Array[String] = lang match {
    case "en" => Array.tabulate(n)(i => if (i % 9 == 0) (if (i % 2 == 0) "the" else "a") else enByRank(enZipf.sample(r)))
    case "de" => Array.fill(n)(de(synZipf.sample(r)))
    case _ => Array.fill(n)(fr(synZipf.sample(r)))
  }

  private def sentences(ws: Array[String]): String =
    ws.grouped(12).map(s => s.mkString(" ").capitalize + ".").mkString(" ")

  /** Documents `(id, text, lang, source)` with ids `from until to`; each
    * duplicate copies an earlier document of this generator. */
  def docs(from: Long, to: Long): Seq[(Long, String, String, String)] = {
    val out = ArrayBuffer.empty[(Long, String, String, String)]
    (from until to).foreach { id =>
      val u = r.nextDouble()
      val doc =
        if (out.nonEmpty && u < exactShare) {
          val d = out(r.nextInt(out.size)); (id, d._2, d._3, "dup")
        } else if (out.nonEmpty && u < exactShare + nearShare) {
          val d = out(r.nextInt(out.size))
          val ws = d._2.split(" ")
          val edits = math.max(1, ws.length / 40)
          (0 until edits).foreach(_ => ws(r.nextInt(ws.length)) = "edited")
          (id, ws.mkString(" "), d._3, "near")
        } else if (u < exactShare + nearShare + contamShare) {
          val ws = words("en", 60 + r.nextInt(60))
          (id, sentences(ws) + " " + bench(r.nextInt(bench.size)) + ".", "en", "contam")
        } else if (u < exactShare + nearShare + contamShare + junkShare) {
          (id, Seq.fill(60)("# " + en(r.nextInt(en.length))).mkString(" "), "en", "junk")
        } else {
          val lang = if (r.nextDouble() < 0.8) "en" else if (r.nextBoolean()) "de" else "fr"
          (id, sentences(words(lang, 60 + r.nextInt(100))), lang, "web")
        }
      out += doc
    }
    out.toSeq
  }
}

/** `pretrain`: the curation half as sequential micro-batches: one fit with
  * a decontamination set, then id-ordered `ingestBatch` calls with the
  * near-dup gate and per-gate stats on. */
object Pretrain {
  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val fitDocs = ctx.int("fit_docs"); val batchDocs = ctx.int("batch_docs")
    // The batch count follows the requested seconds, never the host's
    // speed, and is at least 2: the later batches probe the index and
    // ledger the earlier ones wrote, and the parity check needs a real
    // split to compare against one batch.
    val batches = math.max(2, ctx.seconds / ctx.int("seconds_per_batch"))
    val gen = new DocGen(ctx.seed, ctx.dbl("exact_dup_share"), ctx.dbl("near_dup_share"),
      ctx.dbl("contam_share"), ctx.dbl("junk_share"))
    val docsPath = ctx.work.resolve("docs").toString
    gen.docs(0, fitDocs + batches.toLong * batchDocs)
      .toDF("doc_id", "text", "lang", "source").repartition(4).write.parquet(docsPath)
    val docs = spark.read.parquet(docsPath)
    val bench = gen.bench.toDF("phrase")
    val near = Some(StreamDedup.Config())
    val root = ctx.work.resolve("pipe").toString
    def batch(b: Int) = {
      val lo = fitDocs + b.toLong * batchDocs
      docs.filter(col("doc_id") >= lo && col("doc_id") < lo + batchDocs)
    }

    val setupS = ctx.setupSeconds()
    val window = new Window
    val f0 = System.nanoTime()
    val fz = ctx.span("pretrain.fit") {
      StreamPretrain.fit(docs.filter(col("doc_id") < fitDocs), "doc_id", "text", "lang",
        bench = Some(bench))
    }
    val fitS = (System.nanoTime() - f0) / 1e9
    val fitSpan = ctx.tracer.all.find(_.name == "pretrain.fit").map(_.id).getOrElse(0L)

    if (ctx.trace) BatchTimer.start()
    val lat = ArrayBuffer.empty[Double]
    val spans = ArrayBuffer.empty[Long]
    var failed = 0L
    (0 until batches).foreach { b =>
      val t0 = System.nanoTime()
      try ctx.span("pretrain.ingest_batch") {
        spans += ctx.tracer.current
        StreamPretrain.ingestBatch(batch(b), "doc_id", "text", "lang", "source", fz, root, b.toLong,
          recordStats = true, nearDup = near)
      } catch { case e: Exception => failed += 1; System.err.println(s"batch $b failed: $e") }
      lat += (System.nanoTime() - t0) / 1e9
    }
    val timerSamples = if (ctx.trace) BatchTimer.stop() else Nil
    val host = window.metrics()
    val ingested = batches.toLong * batchDocs

    // Parity: the same documents as one batch into a fresh root keep the
    // same set as the `batches`-way split (StreamPretrain's id-ordered-split
    // contract).
    val r0 = System.nanoTime()
    val kept = StreamPretrain.keptDocs(spark, root).select("id").as[Long].collect().toSet
    val replayRoot = ctx.work.resolve("replay").toString
    val replayed = ctx.span("bench.check") {
      StreamPretrain.ingestBatch(docs.filter(col("doc_id") >= fitDocs && col("doc_id") < fitDocs + ingested),
        "doc_id", "text", "lang", "source", fz, replayRoot, 0L, recordStats = true, nearDup = near)
      StreamPretrain.keptDocs(spark, replayRoot).select("id").as[Long].collect().toSet
    }
    val parity = kept == replayed && kept.nonEmpty
    val gates = StreamPretrain.gateStats(spark, root).orderBy("batch_id").collect().map { r =>
      r.schema.fieldNames.zip(r.toSeq).map { case (k, v) => s"$k=$v" }.mkString(" ")
    }
    val replayS = (System.nanoTime() - r0) / 1e9
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_mean_s" -> lat.sum / lat.size,
      "latency_tail_s" -> lat.max,
      "secondary_s" -> fitS)
    val common = Map("pretrain.kept_ratio" -> kept.size.toDouble / ingested,
      "pretrain.docs_per_s" -> ingested / lat.sum)
    val layer = if (!ctx.trace) common else {
      ctx.traceJobs(Nil)
      val rootOf = ctx.tracer.rootOf
      val jobs = ctx.probe.get.snapshot.groupBy(j => rootOf(j.span))
      val fitE = ExecTotals.of(jobs.getOrElse(fitSpan, Nil))
      val per = spans.toSeq.map(s => ExecTotals.of(jobs.getOrElse(s, Nil)))
      val all = ExecTotals.of(spans.toSeq.flatMap(s => jobs.getOrElse(s, Nil)))
      val kdocs = ingested / 1000.0
      val (stateBytes, stateFiles) = Host.du(java.nio.file.Path.of(root))
      val timers = timerSamples.filterNot(_.isNote).groupBy(_.kind).map { case (k, v) =>
        s"batchtimer.$k.s_p50" -> Stats.median(v.map(_.value))
      }
      common ++ host ++ timers ++ Map(
        "pretrain.fit.executor_cpu_s" -> fitE.cpuS,
        "pretrain.fit.driver_share" -> (fitS - fitE.stageWallUs / 1e6) / fitS,
        "pretrain.batch.jobs" -> Stats.median(per.map(_.jobs.toDouble)),
        "pretrain.batch.stages" -> Stats.median(per.map(_.stages.toDouble)),
        "pretrain.batch.tasks" -> Stats.median(per.map(_.tasks.toDouble)),
        "pretrain.batch.driver_s" -> Stats.median(lat.toSeq.zip(per).map { case (l, e) => l - e.stageWallUs / 1e6 }),
        "pretrain.batch.executor_cpu_s_per_kdoc" -> all.cpuS / kdocs,
        "pretrain.batch.shuffle_bytes_per_kdoc" -> all.shuffleBytes / kdocs,
        "pretrain.batch.spill_bytes" -> all.spillBytes.toDouble,
        "pretrain.batch.task_skew" -> Stats.median(per.map(_.skew)),
        "pretrain.state_bytes" -> stateBytes.toDouble,
        "pretrain.state_files" -> stateFiles.toDouble)
    }
    Result(parity, batches.toLong, failed, e2e, layer,
      notes = (if (parity) Nil else Seq(s"parity check failed: ${kept.size} kept in batches, ${replayed.size} in one-batch replay")) ++ Seq(
        f"gate pass counts: ${gates.mkString("; ")}",
        f"replay check took $replayS%.1f s; pretrain: fit on $fitDocs docs, $batches batches of $batchDocs docs, ${kept.size} kept"))
  }
}
