package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark's measuring process. `run.py` starts it
  * once per measured run:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --out <dir> [--cores <k>] [--scale <f>] [--rate <events/s>]
  *                [--setup-reps <k>]
  * }}}
  *
  * It generates the workload's inputs from the seed, sets the program up
  * several times (each set-up timed), warms it, measures for `--seconds`,
  * checks the outputs, and writes `raw.json` into `--out`. It prints
  * nothing the caller parses: `run.py` turns `raw.json` into the report.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("digest")) { println(Json(digests(a("digest").toLong))); return }
    val workload = a("workload")
    val ctx = new Ctx(workload, a("seed").toLong, a("seconds").toDouble,
      a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      new File(a("out")), new Tracer(a.getOrElse("trace", "0") == "1"),
      a.get("scale").map(_.toDouble).getOrElse(1.0), a.get("rate").map(_.toInt),
      a.get("setup-reps").map(_.toInt).getOrElse(3))
    workload match {
      case "medallion_backfill" => Backfill.run(ctx)
      case "arbitrage_live" => Live.run(ctx)
      case "serving_mixed" => ServingMixed.run(ctx)
      case "curation_batch" => CurationBatch.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    ctx.write()
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** SHA-256 of each generator's output for `seed` (at small sizes), so
    * tests can check that a seed fixes the inputs.
    */
  def digests(seed: Long): Map[String, String] = {
    def sha(parts: Iterator[Any]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      parts.foreach(p => md.update(p.toString.getBytes("UTF-8")))
      md.digest().map(b => f"$b%02x").mkString
    }
    val log = Gen.tickerLog(seed, Backfill.spec(0.05))
    val feed = new Gen.LiveFeed(seed, Live.defaultRate, Live.perSymbolRate, Live.lateShare, 4000L, 8000L)
    Map(
      "ticker_log" -> sha(log.deliveries.iterator),
      "live_feed" -> sha(Iterator.fill(20000)(feed.next(0L))),
      "store_events" -> sha(Gen.storeEvents(seed, 5000, ServingMixed.symbols, 0L, 86400000L, 0L).iterator),
      "documents" -> sha(Gen.documents(seed, 500, 0.15, 0.1).iterator))
  }
}

/** One measuring process's settings and its raw result. `setupReps` is
  * the number of timed set-ups; the report takes their median.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val cores: Int, val dir: File, val tr: Tracer, val scale: Double,
                val rate: Option[Int], val setupReps: Int) {
  val out: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def path(p: String): String = new File(dir, p).getAbsolutePath

  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private var phaseStart = System.nanoTime()

  /** Close the current phase of the run under `name` (its wall seconds
    * go to `phases_s` in the raw record).
    */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    phases(name) = phases.getOrElse(name, 0.0) + (now - phaseStart) / 1e9; phaseStart = now
  }

  /** A fresh local session shaped like the repository's `Bench`: one
    * task slot and one shuffle partition per core, UTC, no UI; scratch
    * space inside the run directory.
    */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .config("spark.local.dir", path("spark-local"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Warm the JVM up before the timed set-ups, in a session of its own:
    * run `body(i)` for i in 0 until `runs`. The set-ups then time the
    * program's start, not the JVM's; a fixed count, not a fixed time, so
    * every run's window starts with the same code compiled.
    */
  def warmUp(runs: Int)(body: (SparkSession, Int) => Unit): Unit = {
    phase("inputs")
    val s = session()
    (0 until runs).foreach(body(s, _))
    s.stop()
    phase("warmup")
  }

  /** Run `reps` set-ups, each a fresh session plus `prep`, timing
    * each; every set-up but the last is torn down with `teardown`
    * (untimed). Returns the last session and its prepared state.
    */
  def setUp[T](prep: SparkSession => T)(teardown: (SparkSession, T) => Unit,
                                        reps: Int = setupReps): (SparkSession, T) = {
    var last: (SparkSession, T) = null
    phase("inputs")
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val s = session()
      val st = prep(s)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i < reps) { teardown(s, st); s.stop() } else last = (s, st)
    }
    phase("setup")
    last
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Run the measured phase `body`, installing the tracer's listeners
    * first in a traced run; records the process's CPU time in the phase.
    */
  def measure[T](spark: SparkSession)(body: => T): T = {
    tr.install(spark)
    phase("warmup")
    // a full collection first, untimed: the window starts from the live
    // heap, not from whatever garbage set-up and warm-up left behind
    System.gc()
    val c0 = os.getProcessCpuTime
    val r = body
    out("cpu_s") = (os.getProcessCpuTime - c0) / 1e9
    if (!out.contains("live_heap_mb")) liveHeap()
    peakRssMb().foreach(out("peak_rss_mb") = _)
    phase("measure")
    r
  }

  /** Record the heap the program still holds after its work: a full
    * collection, a pause in which Spark's cleaner drops the broadcasts
    * and shuffles that collection released, a second full collection,
    * then the heap pools' occupancy after it. What is left
    * depends on the last unit of work, so a workload whose units differ,
    * or each leave memory behind until Spark's maintenance releases it,
    * calls this at a fixed point of its window, outside any unit's
    * timing; otherwise `measure` calls it at the window's end.
    */
  def liveHeap(): Unit = {
    import scala.jdk.CollectionConverters._
    System.gc(); Thread.sleep(500); System.gc()
    out("live_heap_mb") = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  /** The process's peak resident set so far (Linux), before any check
    * of the outputs runs: the checks' memory is the harness's, not the
    * program's. Reported beside the contract metrics only: it follows
    * the collector's heap sizing more than the program's live data.
    */
  private def peakRssMb(): Option[Double] = {
    val f = new File("/proc/self/status")
    if (!f.exists()) None
    else scala.io.Source.fromFile(f).getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
  }

  /** One correctness failure: counted as a failed operation. */
  def fail(msg: String): Unit = failures.synchronized { failures += msg }

  /** The process's CPU seconds so far: every thread, the JIT's and the
    * collector's too.
    */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** The process's CPU seconds in the measured phase. */
  def measuredCpuS: Double = out("cpu_s").asInstanceOf[Double]

  /** Record the workload's end-to-end values. `items` units of work took
    * `busyS` wall seconds and `itemCpuS` process CPU seconds;
    * `latencyMs` holds one latency sample per result.
    */
  def result(items: Long, busyS: Double, itemCpuS: Double, latencyMs: Seq[Double]): Unit = {
    out("items") = items; out("busy_s") = busyS; out("item_cpu_s") = itemCpuS
    out("latency_ms") = Dist(latencyMs)
  }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def report(k: String, v: Any): Unit =
    out.getOrElseUpdate("report", mutable.LinkedHashMap.empty[String, Any])
      .asInstanceOf[mutable.LinkedHashMap[String, Any]](k) = v

  def layer(k: String, v: Any): Unit = if (tr.on)
    out.getOrElseUpdate("layers", mutable.LinkedHashMap.empty[String, Any])
      .asInstanceOf[mutable.LinkedHashMap[String, Any]](k) = v

  def write(): Unit = {
    phase("check")
    out("setup_s") = setupS.toList
    out("attempted") = attempted
    out("failed") = failures.size.toLong
    out("failures") = failures.take(20).toList
    out("phases_s") = phases
    if (tr.on) {
      val l = out.getOrElseUpdate("layers", mutable.LinkedHashMap.empty[String, Any])
        .asInstanceOf[mutable.LinkedHashMap[String, Any]]
      tr.layerMetrics().foreach { case (k, v) => if (!l.contains(k)) l(k) = v }
    }
    Files.writeString(new File(dir, "raw.json").toPath, Json(out))
  }
}

/** Minimal JSON writer for the raw result. */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; w(v, sb); sb.toString }
  private def w(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => w(x, sb)
    case s: String =>
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case ch if ch < ' ' => sb ++= f"\\u${ch.toInt}%04x"
        case ch => sb += ch
      }
      sb += '"'
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => w(f.toDouble, sb)
    case n: Number => sb ++= n.toString
    case Dist(xs) => sb ++= "{\"dist\":"; w(xs, sb); sb += '}'
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','; first = false
        w(k.toString, sb); sb += ':'; w(x, sb)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; w(x, sb) }
      sb += ']'
    case other => w(other.toString, sb)
  }
}
