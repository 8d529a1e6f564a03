package perfbench

import graft.model.FilterDef

import java.nio.file.Path
import scala.util.Random

/** The generator-side expectation of what the log pipeline must produce. */
object LogSide {
  /** (filter id, line) for every line and every filter whose regex finds a
    * match in it, evaluated with `java.util.regex` on the generator side. */
  def expectedMatches(files: Seq[Published], filters: Seq[FilterDef]): Seq[(String, String)] = {
    val ps = filters.map(f => f.id -> java.util.regex.Pattern.compile(f.regex))
    for (f <- files; l <- f.lines.toSeq; (id, p) <- ps if p.matcher(l).find()) yield id -> l
  }

  /** Write `n` lines stamped now as one file, outside the loop's schedule. */
  def publishNow(dirs: Seq[Path], tmp: Path, name: String, r: Random, n: Int, firstSeq: Long): Published = {
    val now = System.currentTimeMillis()
    val lines = Array.tabulate(n)(i => LogGen.line(r, now, firstSeq + i))
    OpenLoop.publish(dirs, tmp, name, lines)
    Published(name, lines, Array.fill(n)(now), now)
  }

  /** Compare the results table with the generator's evaluation. */
  def checkResults(ctx: Ctx, results: Path, files: Seq[Published],
      filters: Seq[FilterDef]): Option[String] = {
    val rows = ctx.spark.read.parquet(results.toString).select("filter_id", "_raw")
      .collect().map(r => r.getString(0) -> r.getString(1))
    val want = expectedMatches(files, filters)
    if (rows.length == want.size && rows.toSet == want.toSet) None
    else Some(s"results table has ${rows.length} rows (${rows.toSet.size} distinct), " +
      s"generator expects ${want.size}; ${(want.toSet -- rows).size} missing, ${(rows.toSet -- want).size} unexpected")
  }

  def latePct(gen: OpenLoop): Double = Stats.pct(gen.lateness.map(_ / 1e3), 0.99)
}

