package perfbench

import graft.model.FilterDef

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def sample(r: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded log lines in the shape of the reference's fake-data generator:
  * `<ISO-8601 ms stamp> <host> <service>[pid]: seq=<n> <message>`, with
  * Zipf-skewed services and hosts and about 10% error phrases. Every line
  * carries a unique sequence number, so a line's identity is its text.
  */
object LogGen {
  val Services: Array[String] = Array("checkout", "payments", "search",
    "auth", "cart", "billing", "inventory", "shipping", "gateway", "users",
    "catalog", "reviews", "email", "ledger", "pricing", "reports", "notify",
    "session", "media", "admin")
  val Hosts: Array[String] = Array.tabulate(40)(i => f"host-$i%02d")
  val ErrorShare = 0.10
  val ServiceSkew = 1.1
  val HostSkew = 0.9

  private val svcZipf = new Zipf(Services.length, ServiceSkew)
  private val hostZipf = new Zipf(Hosts.length, HostSkew)
  private val paths = Array("cart", "items", "orders", "login", "search",
    "profile", "checkout", "status")
  private val iso = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'+00:00'").withZone(ZoneOffset.UTC)

  def stamp(ms: Long): String = iso.format(Instant.ofEpochMilli(ms))

  def line(r: Random, stampMs: Long, seq: Long): String = {
    val host = Hosts(hostZipf.sample(r))
    val svc = Services(svcZipf.sample(r))
    val msg =
      if (r.nextDouble() < ErrorShare) r.nextInt(6) match {
        case 0 => s"ERROR payment declined for order ${r.nextInt(100000)}"
        case 1 => s"Exception in thread worker-${r.nextInt(64)}: java.lang.NullPointerException"
        case 2 => s"request Timeout after ${100 + r.nextInt(5000)}ms"
        case 3 => s"connection refused by db-${r.nextInt(8)}"
        case 4 => s"FATAL disk full on /var/${paths(r.nextInt(paths.length))}"
        case _ => s"failed to parse request body status 5${10 + r.nextInt(90)}"
      } else r.nextInt(6) match {
        case 0 => s"GET /api/${paths(r.nextInt(paths.length))} 200 ${1 + r.nextInt(900)}ms"
        case 1 => s"POST /api/${paths(r.nextInt(paths.length))} 201 ${1 + r.nextInt(900)}ms"
        case 2 => s"cache hit key=k${r.nextInt(10000)}"
        case 3 => s"user u${r.nextInt(5000)} logged in from 10.0.${r.nextInt(32)}.${r.nextInt(256)}"
        case 4 => s"job ${r.nextInt(1000)} finished in ${1 + r.nextInt(3000)}ms"
        case _ => s"healthcheck ok uptime ${r.nextInt(100000)}s"
      }
    s"${stamp(stampMs)} $host $svc[${1000 + r.nextInt(9000)}]: seq=$seq $msg"
  }

  /** Filter registry: plain words, `(?i)` words, alternations and anchored
    * regexes. Twelve filters stay within `FilterFanout.InlineRegistryLimit`,
    * so the fan-out takes the inline-codegen path. */
  val FilterRegexes: Seq[(String, String)] = Seq(
    "errors" -> "ERROR",
    "exceptions" -> "Exception",
    "timeouts" -> "(?i)timeout",
    "refused" -> "refused",
    "checkout" -> "checkout",
    "money" -> "(payments|billing)\\[",
    "slow" -> " [0-9]{3}ms$",
    "fatal" -> "(?i)fatal",
    "lowhosts" -> "^\\S+ host-0[0-4] ",
    "posts" -> "POST /api/",
    "auth" -> "(?i)AUTH",
    "server5xx" -> " 5[0-9]{2}$")

  val Filters: Seq[FilterDef] =
    FilterRegexes.zipWithIndex.map { case ((name, re), i) => FilterDef(f"f$i%02d", name, re) }
}

/** One published input file: its lines and each line's creation stamp. */
final case class Published(name: String, lines: Array[String],
    stamps: Array[Long], dueMs: Long)

/** Open-loop generator: publishes one file of lines every `fileMs`
  * milliseconds on a fixed schedule, whatever the engine does. Line `j` of
  * the file due at `t` was created at `t - fileMs + j * fileMs / n`, so
  * the stamps model lines created continuously and shipped in batches.
  * Files are written outside the watched directory and moved in
  * atomically, into each of `inDirs`. Lateness is the gap between a file's
  * due time and its publication. */
final class OpenLoop(inDirs: Seq[Path], tmpDir: Path, prefix: String, seed: Long,
    linesPerSec: Int, fileMs: Int, firstSeq: Long) extends Thread("perfbench-loadgen") {
  setDaemon(true)
  private val r = new Random(seed)
  private val perFile = math.max(1, linesPerSec * fileMs / 1000)
  private val published = ArrayBuffer.empty[Published]
  private val lateMs = ArrayBuffer.empty[Long]
  @volatile private var stopAt = Long.MaxValue
  @volatile private var failure: Throwable = _
  @volatile var startMs: Long = 0L

  /** Start publishing half a second after the next whole multiple of
    * `fileMs` on the wall clock. Processing-time triggers fire at whole
    * multiples of their interval, so files land midway between two 1 s
    * results triggers, at the same phase in every run. */
  def launch(): Unit = {
    startMs = (System.currentTimeMillis() / fileMs + 1) * fileMs + 500
    start()
  }

  /** Publish no file due after `ms`, then end. */
  def finishBy(ms: Long): Unit = { stopAt = ms; join(); if (failure != null) throw failure }

  def files: Seq[Published] = synchronized(published.toSeq)
  def lateness: Seq[Long] = synchronized(lateMs.toSeq)

  override def run(): Unit = try {
    var k = 0L
    var seq = firstSeq
    var due = startMs
    while (due <= stopAt) {
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val lines = new Array[String](perFile)
      val stamps = new Array[Long](perFile)
      var j = 0
      while (j < perFile) {
        stamps(j) = due - fileMs + j.toLong * fileMs / perFile
        lines(j) = LogGen.line(r, stamps(j), seq)
        seq += 1; j += 1
      }
      val name = f"$prefix-$k%06d.log"
      OpenLoop.publish(inDirs, tmpDir, name, lines)
      val late = System.currentTimeMillis() - due
      synchronized { published += Published(name, lines, stamps, due); lateMs += late }
      k += 1
      due = startMs + k * fileMs
    }
  } catch { case e: Throwable => failure = e }
}

object OpenLoop {
  /** Write `lines` as file `name` into each of `dirs`, atomically. */
  def publish(dirs: Seq[Path], tmpDir: Path, name: String, lines: Array[String]): Unit = {
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    dirs.zipWithIndex.foreach { case (d, i) =>
      val tmp = tmpDir.resolve(s"$i-$name")
      Files.write(tmp, bytes)
      Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
