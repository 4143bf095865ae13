package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, input_file_name}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{Medallion, Schemas, StreamJobs}

/** `arbitrage_live`: an open loop. One generator thread, outside Spark's
  * task pool, appends both venues' ticker events into one raw feed at a
  * fixed rate, on a schedule that does not slow when the system does.
  * The system runs the medallion (`StreamJobs.runMedallion`) plus the
  * bucketed spread join of venue A's silver trades against venue B's
  * (`Medallion.streamSpreadBucketed`), all on 1 s triggers. Batches are
  * small, so per-batch costs (file listing, planning, WAL and sink
  * commits) and the join state dominate.
  *
  * Geometry: 5 s candles, 2 s watermark, 10 s dedup delay and a 5 s
  * spread band, so results finalize within the run. A share of events
  * arrive 4-8 s late: kept by the dedup, dropped by the candle and join
  * watermarks.
  */
object Live {
  /** Events/s over both venues: a quarter of the knee measured on a
    * 4-core box, where the backlog stopped shrinking (see README).
    */
  val defaultRate = 2000
  val perSymbolRate = 2
  val lateShare = 0.01
  val tickMs = 100L
  /** The pipeline needs about twice its own latency to settle after the
    * queries start; the measured window opens after that.
    */
  val warmupS = 10.0
  val bandS = 5
  val watermarkMs = 2000L
  val windowMs = 5000L
  val trigger: Trigger = Trigger.ProcessingTime("1 second")
  /** Longest wait, after the measured window, for results to drain. */
  val drainTimeoutS = 30.0

  final class Deployment(val root: String, val queries: Map[String, StreamingQuery]) {
    val paths: StreamJobs.MedallionPaths = StreamJobs.MedallionPaths(root)
    def raw: String = s"$root/raw"
    def spread: String = s"$root/delta/spread"
    def stop(): Unit = queries.values.foreach(_.stop())
  }

  def deploy(spark: SparkSession, root: String, tr: Tracer): Deployment = {
    val paths = StreamJobs.MedallionPaths(root)
    new File(s"$root/raw").mkdirs()
    val (b, s, g) = tr.span("streaming", "StreamJobs.runMedallion") {
      StreamJobs.runMedallion(spark, s"$root/raw", paths, Schemas.kafkaShaped,
        dedupDelay = Some("10 seconds"), watermarkDelay = s"${watermarkMs / 1000} seconds",
        windowDur = s"${windowMs / 1000} seconds", trigger = trigger)
    }
    val spread = tr.span("streaming", "Medallion.streamSpreadBucketed") {
      def venue(quote: String) = StreamJobs.parquetStream(spark, paths.silver, Schemas.silver)
        .filter(col("symbol").endsWith(s"-$quote"))
      StreamJobs.parquetAppend(
        Medallion.streamSpreadBucketed(venue("USD"), venue("USDT"),
          watermarkDelay = s"${watermarkMs / 1000} seconds", bandSeconds = bandS),
        s"$root/delta/spread", paths.checkpoint("spread"), trigger)
    }
    val qs = Map("bronze" -> b, "silver" -> s, "gold" -> g, "spread" -> spread)
    qs.foreach { case (n, q) => tr.name(q, n) }
    new Deployment(root, qs)
  }

  /** The open-loop appender: one JSON-lines file per `tickMs` holding the
    * events due in that tick, written then renamed into the feed. Each
    * event is stamped with its due time; `lateMs` is how far past its
    * tick's end each file landed.
    */
  final class Generator(feed: Gen.LiveFeed, raw: String, t0Ms: Long) extends Thread("perfbench-generator") {
    val stopping = new AtomicBoolean(false)
    val events = mutable.ArrayBuffer.empty[Gen.Trade]
    @volatile var lateMsMax = 0.0
    @volatile var failure: Option[Throwable] = None
    private var k = 0L
    setDaemon(true)

    override def run(): Unit = try {
      var tick = 1L
      while (!stopping.get()) {
        val end = t0Ms + tick * tickMs
        val sleep = end - System.currentTimeMillis()
        if (sleep > 0) Thread.sleep(sleep)
        val sb = new java.lang.StringBuilder(256 * 1024)
        val fresh = mutable.ArrayBuffer.empty[Gen.Trade]
        while (feed.dueMs(t0Ms, k) <= end) {
          val t = feed.next(t0Ms); k += 1
          Gen.jsonLine(t, t.createdMs, sb); fresh += t
        }
        val tmp = new File(raw, f".tick-$tick%06d.tmp").toPath
        Files.writeString(tmp, sb)
        Files.move(tmp, new File(raw, f"tick-$tick%06d.json").toPath, StandardCopyOption.ATOMIC_MOVE)
        lateMsMax = math.max(lateMsMax, (System.currentTimeMillis() - end).toDouble)
        events.synchronized(events ++= fresh)
        tick += 1
      }
    } catch { case e: Throwable => failure = Some(e) }
  }

  private def watermarkOf(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)

  def run(ctx: Ctx): Unit = {
    val rate = ctx.rate.getOrElse(defaultRate)
    val feed = new Gen.LiveFeed(ctx.seed, rate, perSymbolRate, lateShare, 4000L, 8000L)
    var rep = 0
    val (spark, dep) = ctx.setUp { s =>
      rep += 1
      // the last set-up's queries run the measured phase: trace them
      // from their first batch
      val tr = if (rep == ctx.setupReps) { ctx.tr.install(s); ctx.tr } else new Tracer(false)
      deploy(s, ctx.path(s"live-$rep"), tr)
    } { (_, d) => d.stop(); Sinks.deleteTree(new File(d.root)) }

    val t0 = System.currentTimeMillis() + 200
    val gen = new Generator(feed, dep.raw, t0)
    gen.start()
    Thread.sleep((warmupS * 1000).toLong)
    val winStart = System.currentTimeMillis().toDouble
    ctx.measure(spark)(Thread.sleep((ctx.seconds * 1000).toLong))
    val winEnd = System.currentTimeMillis().toDouble
    // let results for events created in the window commit: the spread
    // join's and the candles' watermarks must pass the window's end
    val deadline = System.nanoTime() + (drainTimeoutS * 1e9).toLong
    while (System.nanoTime() < deadline &&
      (watermarkOf(dep.queries("spread")) < winEnd || watermarkOf(dep.queries("gold")) < winEnd))
      Thread.sleep(100)
    val drained = watermarkOf(dep.queries("spread")) >= winEnd && watermarkOf(dep.queries("gold")) >= winEnd
    gen.stopping.set(true); gen.join()
    dep.stop()
    ctx.phase("drain")
    ctx.tr.awaitProgress(dep.queries.values.toSeq)
    gen.failure.foreach(e => ctx.fail(s"generator: $e"))
    if (!drained) ctx.fail(f"results did not drain within $drainTimeoutS%.0f s of the window (backlog)")
    check(ctx, spark, dep, gen, rate, winStart, winEnd, watermarkOf(dep.queries("spread")))
  }

  /** Checks the spread output against the generator's log and derives
    * the latency samples.
    */
  def check(ctx: Ctx, spark: SparkSession, dep: Deployment, gen: Generator, rate: Int,
            winStart: Double, winEnd: Double, lastWatermark: Long): Unit = {
    val events = gen.events.synchronized(gen.events.toArray)
    val byKey = events.iterator.map(t => (t.symbol, t.eventMs) -> t).toMap
    if (byKey.size != events.length) ctx.fail("generator produced colliding (symbol, time) keys")
    val inWindow = (ms: Double) => ms >= winStart && ms < winEnd

    // spread rows: (symbol_a, ts_a, symbol_b, ts_b, prices, spread, file)
    val spreadCommits = Sinks.commits(dep.spread)
    val rows = spark.read.parquet(dep.spread)
      .select(col("symbol_a"), expr("unix_millis(ts_a)"), col("symbol_b"), expr("unix_millis(ts_b)"),
        expr("CAST(price_a * 10000 AS BIGINT)"), expr("CAST(price_b * 10000 AS BIGINT)"),
        expr("spread = price_a - price_b"), input_file_name())
      .collect()
    val seen = mutable.HashSet.empty[(String, Long, String, Long)]
    var invalid = 0L; var dups = 0L
    // (creation of the pair's later event, its latency, its sink batch)
    val signal = mutable.ArrayBuffer.empty[(Double, Double, Long)]
    rows.foreach { r =>
      val key = (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))
      if (!seen.add(key)) dups += 1
      (byKey.get((key._1, key._2)), byKey.get((key._3, key._4))) match {
        case (Some(a), Some(b)) if a.venue == 0 && b.venue == 1 && a.base == b.base &&
            b.eventMs >= a.eventMs - bandS * 1000L && b.eventMs <= a.eventMs &&
            r.getLong(4) == a.priceUnits && r.getLong(5) == b.priceUnits && r.getBoolean(6) =>
          val created = math.max(a.createdMs, b.createdMs).toDouble
          spreadCommits.get(Sinks.baseName(r.getString(7))).foreach { c =>
            if (inWindow(created)) signal += ((created, c.atMs - created, c.batch))
          }
        case _ => invalid += 1
      }
    }
    // every on-time pair whose events the last watermark has passed
    val onTimeB = events.filter(t => t.venue == 1 && !t.late).groupBy(_.base)
      .view.mapValues(_.map(_.eventMs).sorted).toMap
    var expected = 0L; var missing = 0L
    events.iterator.filter(a => a.venue == 0 && !a.late && a.eventMs <= lastWatermark).foreach { a =>
      onTimeB.getOrElse(a.base, Array.empty[Long]).iterator
        .filter(ms => ms >= a.eventMs - bandS * 1000L && ms <= a.eventMs).foreach { ms =>
          expected += 1
          if (!seen.contains((a.symbol, a.eventMs, Gen.symbol(1, a.base), ms))) missing += 1
        }
    }
    ctx.attempted += expected + invalid
    if (invalid > 0) ctx.fail(s"spread: $invalid rows are not band pairs of the log")
    if (dups > 0) ctx.fail(s"spread: $dups pairs emitted more than once")
    if (missing > 0) ctx.fail(s"spread: $missing of $expected on-time pairs missing")
    if (expected == 0) ctx.fail("spread: no pair to check (watermark never advanced)")

    // candles: creation of a window's last on-time event -> gold commit
    val goldCommits = Sinks.commits(dep.paths.gold)
    val lastCreated = events.iterator.filter(t => !t.late && t.eventMs / windowMs * windowMs + windowMs <= winEnd)
      .map(t => (t.eventMs / windowMs * windowMs, t.symbol) -> t.createdMs)
      .toSeq.groupMapReduce(_._1)(_._2)(math.max)
    val candle = spark.read.parquet(dep.paths.gold)
      .select(expr("unix_millis(window_start)"), col("symbol"), input_file_name()).collect()
      .flatMap { r =>
        for {
          created <- lastCreated.get((r.getLong(0), r.getString(1)))
          if inWindow(created.toDouble)
          c <- goldCommits.get(Sinks.baseName(r.getString(2)))
        } yield c.atMs - created
      }

    // silver: rows visible by the window's end vs events appended by then
    val silverCommits = Sinks.commits(dep.paths.silver)
    val silverFiles = spark.read.parquet(dep.paths.silver).groupBy(input_file_name()).count().collect()
      .map(r => (silverCommits.get(Sinks.baseName(r.getString(0))), r.getLong(1)))
    val appendedByEnd = events.count(_.createdMs < winEnd)
    val silverByEnd = silverFiles.collect { case (Some(c), n) if c.atMs < winEnd => n }.sum
    // silver's processing rate in the window: rows of the batches committed
    // in it after its first commit, over the time between first and last
    val inWin = silverFiles.collect { case (Some(c), n) if inWindow(c.atMs) => c -> n }
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1.atMs)
    val (silverRows, silverSpanS) =
      if (inWin.size < 2) (inWin.map(_._2).sum, (winEnd - winStart) / 1000)
      else (inWin.tail.map(_._2).sum, (inWin.last._1.atMs - inWin.head._1.atMs) / 1000)

    val latency = signal.map(_._2).toSeq
    ctx.result(silverRows, silverSpanS, ctx.measuredCpuS, latency)
    ctx.report("signal_latency_s", Dist(latency.map(_ / 1000)))
    ctx.report("candle_latency_s", Dist(candle.toSeq.map(_ / 1000)))
    ctx.report("processed_ratio", silverByEnd.toDouble / math.max(1, appendedByEnd))
    ctx.report("rate_per_s", rate)
    // backlog growth: median signal latency in the window's last third
    // minus its first third (flat below the knee, rising above it)
    val third = (winEnd - winStart) / 3
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)
    ctx.report("signal_latency_growth_s",
      (p50(signal.filter(_._1 >= winEnd - third).map(_._2).toSeq) -
        p50(signal.filter(_._1 < winStart + third).map(_._2).toSeq)) / 1000)
    val sorted = signal.sortBy(_._2)
    ctx.report("signal_batches_beyond_p90",
      sorted.drop(math.max(1, math.ceil(0.9 * sorted.size).toInt)).map(_._3).distinct.size)

    // per-layer: sinks, hops and the generator
    for ((q, dir) <- Seq("bronze" -> dep.paths.bronze, "silver" -> dep.paths.silver,
                         "gold" -> dep.paths.gold, "spread" -> dep.spread)) {
      val (n, b) = Sinks.size(dir)
      ctx.layer(s"sink.$q.files", n); ctx.layer(s"sink.$q.bytes", b)
    }
    if (ctx.tr.on) {
      val created = events.iterator.map(t => (t.symbol, t.tradeId) -> t.createdMs).toMap
      val bronzeCommits = Sinks.commits(dep.paths.bronze)
      val bronzeHop = spark.read.parquet(dep.paths.bronze)
        .select(expr("unix_millis(kafka_ts)"), input_file_name()).collect()
        .flatMap(r => bronzeCommits.get(Sinks.baseName(r.getString(1))).map(_.atMs - r.getLong(0)))
      val silverHop = spark.read.parquet(dep.paths.silver)
        .select(col("symbol"), col("trade_id"), input_file_name()).collect()
        .flatMap(r => for {
          c <- created.get((r.getString(0), r.getLong(1)))
          cm <- silverCommits.get(Sinks.baseName(r.getString(2)))
        } yield cm.atMs - c)
      ctx.layer("hop.bronze_visible_s", Dist(bronzeHop.toSeq.map(_ / 1000)))
      ctx.layer("hop.silver_visible_s", Dist(silverHop.toSeq.map(_ / 1000)))
    }
    ctx.layer("generator.late_ms_max", gen.lateMsMax)
    ctx.layer("generator.appended_ev_per_s",
      events.count(t => inWindow(t.createdMs.toDouble)) / ((winEnd - winStart) / 1000))
  }
}
