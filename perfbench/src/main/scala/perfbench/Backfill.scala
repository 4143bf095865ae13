package perfbench

import java.io.File
import java.math.{BigDecimal => JBig, RoundingMode}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{Medallion, Schemas, StreamJobs}

/** `medallion_backfill`: the reference's cold-replay case. A recorded
  * two-venue ticker log is replayed through the three-query medallion
  * (bronze → silver → gold) from empty checkpoints, each query drained
  * with `Trigger.AvailableNow` in chain order. Every query sees the whole
  * log in one batch, so per-row work (JSON parse, dedup state, window
  * state, parquet writes) dominates. Replays repeat until the measured
  * time is used up; each one is checked after the measured phase.
  */
object Backfill {
  // the reference's gold geometry: 1-minute windows, 10-minute watermark
  val windowDur = "1 minute"
  val watermarkMs = 600000L
  val watermark = "10 minutes"
  val dedupDelay = "10 minutes"
  val startMs = 1704067200000L // 2024-01-01T00:00:00Z
  /** The reference's log density: 337,120 messages over 314 one-minute
    * windows.
    */
  val eventsPerMinute = 1074
  /** Cold replays of the whole log before the timed set-ups. */
  val warmupReplays = 1

  /** The log's shape; where each setting comes from is listed in the
    * README. Three bases as in the reference (BTC, ETH, SOL), on each of
    * two venues, at the reference's density; 120k events, so a measured
    * window holds several replays.
    */
  def spec(scale: Double): Gen.LogSpec = {
    val events = math.max(2000, (120000 * scale).toInt)
    Gen.LogSpec(events = events, bases = 3, zipf = 1.1,
      dupShare = 0.001, oooShare = 0.05, startMs = startMs,
      // at least 20 minutes, so windows finalize even on small test logs
      spanMs = math.max(events * 60000L / eventsPerMinute, 1200000L),
      oooMaxMs = 120000L, dupMaxMs = 300000L)
  }

  /** Write `ds` as `files` JSON-lines files in log order. */
  def writeRaw(dir: String, ds: Seq[Gen.Trade], files: Int): Unit = {
    new File(dir).mkdirs()
    val per = math.max(1, (ds.size + files - 1) / files)
    ds.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val sb = new java.lang.StringBuilder(chunk.size * 360)
      chunk.foreach(t => Gen.jsonLine(t, t.eventMs, sb))
      Files.writeString(new File(dir, f"log-$i%04d.json").toPath, sb)
    }
  }

  final case class Candle(open: JBig, high: JBig, low: JBig, close: JBig, n: Long, vwap: JBig)

  /** OHLC/count/avg per (window start ms, symbol) of the distinct trades,
    * for windows the final watermark (max event time − delay) finalizes.
    * `avg` follows Spark's decimal average: the quotient at scale 18,
    * then the decimal(22,12) result, both rounded half-up.
    */
  def expectedGold(trades: Seq[Gen.Trade]): Map[(Long, String), Candle] = {
    val wm = trades.map(_.eventMs).max - watermarkMs
    trades.groupBy(t => (t.eventMs / 60000L * 60000L, t.symbol))
      .filter { case ((ws, _), _) => ws + 60000L <= wm }
      .map { case (k, ts) =>
        val s = ts.sortBy(_.eventMs); val ps = s.map(_.price.bigDecimal)
        val avg = ps.reduce(_ add _).divide(JBig.valueOf(ps.size.toLong), 18, RoundingMode.HALF_UP)
          .setScale(12, RoundingMode.HALF_UP)
        k -> Candle(ps.head, ps.reduce((a, b) => a.max(b)), ps.reduce((a, b) => a.min(b)),
          ps.last, ps.size.toLong, avg)
      }
  }

  /** One cold replay of `raw` into a fresh medallion under `root`. */
  def replay(spark: SparkSession, raw: String, root: String, tr: Tracer): Seq[StreamingQuery] = {
    val p = StreamJobs.MedallionPaths(root)
    Seq(p.bronze, p.silver, p.gold).foreach(new File(_).mkdirs())
    val bronze = tr.span("streaming", "bronze") {
      drain(tr.name(StreamJobs.parquetAppend(
        Medallion.bronzeEnvelope(StreamJobs.jsonLinesStream(spark, raw, Schemas.kafkaShaped)),
        p.bronze, p.checkpoint("bronze")), "bronze"))
    }
    val silver = tr.span("streaming", "silver") {
      drain(tr.name(StreamJobs.parquetAppend(
        Medallion.silverTrades(StreamJobs.parquetStream(spark, p.bronze, Schemas.bronze),
          Some(dedupDelay)),
        p.silver, p.checkpoint("silver")), "silver"))
    }
    val gold = tr.span("streaming", "gold") {
      drain(tr.name(StreamJobs.parquetAppend(
        Medallion.goldCandles(StreamJobs.parquetStream(spark, p.silver, Schemas.silver),
          watermark, windowDur),
        p.gold, p.checkpoint("gold")), "gold"))
    }
    Seq(bronze, silver, gold)
  }

  private def drain(q: StreamingQuery): StreamingQuery = { q.awaitTermination(); q }

  /** Compare a replay's gold table with the expected candles; returns
    * one latency sample per gold row: its batch's commit time minus the
    * replay's start (all input was present at the start).
    */
  def check(ctx: Ctx, spark: SparkSession, root: String, startMs: Double,
            expected: Map[(Long, String), Candle]): Seq[Double] = {
    val gold = StreamJobs.MedallionPaths(root).gold
    val commits = Sinks.commits(gold)
    val rows = spark.read.schema(Schemas.gold).parquet(gold)
      .select(col("window_start"), col("symbol"), col("open"), col("high"), col("low"),
        col("close"), col("trade_count"), col("vwap"), input_file_name().as("f"))
      .collect()
    val got = rows.map { r =>
      (r.getTimestamp(0).getTime, r.getString(1)) ->
        Candle(r.getDecimal(2), r.getDecimal(3), r.getDecimal(4), r.getDecimal(5), r.getLong(6), r.getDecimal(7))
    }
    val gotMap = got.toMap
    def same(a: Candle, b: Candle) = a.n == b.n && Seq(a.open -> b.open, a.high -> b.high,
      a.low -> b.low, a.close -> b.close, a.vwap -> b.vwap).forall { case (x, y) => x.compareTo(y) == 0 }
    if (gotMap.size != got.length) ctx.fail(s"gold: ${got.length - gotMap.size} duplicate candles")
    val missing = expected.keySet -- gotMap.keySet
    val extra = gotMap.keySet -- expected.keySet
    val wrong = expected.count { case (k, e) => gotMap.get(k).exists(g => !same(g, e)) }
    if (missing.nonEmpty || extra.nonEmpty || wrong > 0)
      ctx.fail(s"gold: ${missing.size} missing, ${extra.size} unexpected, $wrong wrong candles " +
        s"of ${expected.size} (e.g. ${(missing ++ extra).take(2).mkString(",")})")
    rows.toSeq.flatMap(r => commits.get(Sinks.baseName(r.getString(8))).map(_.atMs - startMs))
  }

  def run(ctx: Ctx): Unit = {
    val log = Gen.tickerLog(ctx.seed, spec(ctx.scale))
    val raw = ctx.path("raw")
    writeRaw(raw, log.deliveries.toSeq, files = 8)
    val setupRaw = ctx.path("raw-setup")
    writeRaw(setupRaw, log.deliveries.take(log.deliveries.length / 50).toSeq, files = 1)
    val expected = expectedGold(log.trades.toSeq)

    ctx.warmUp(warmupReplays) { (s, i) =>
      replay(s, raw, ctx.path(s"warm-$i"), new Tracer(false))
      Sinks.deleteTree(new File(ctx.path(s"warm-$i")))
    }
    // set-up: a session plus the medallion's start from empty
    // checkpoints, up to its first gold commit, on the log's first 2%
    var rep = 0
    val (spark, setupRoot) = ctx.setUp { s =>
      rep += 1
      val root = ctx.path(s"setup-$rep")
      replay(s, setupRaw, root, new Tracer(false))
      root
    } { (_, root) => Sinks.deleteTree(new File(root)) }
    Sinks.deleteTree(new File(setupRoot))

    // (root, start ms, wall s, process CPU s) per replay
    val roots = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
    var queries = Seq.empty[StreamingQuery]
    ctx.measure(spark) {
      val t0 = System.nanoTime()
      while (roots.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        val root = ctx.path(s"replay-${roots.size}")
        val s = System.nanoTime(); val c = ctx.cpuS(); val startMs = System.currentTimeMillis().toDouble
        queries = replay(spark, raw, root, ctx.tr)
        roots += ((root, startMs, (System.nanoTime() - s) / 1e9, ctx.cpuS() - c))
        // each replay's state stores stay loaded until Spark's maintenance
        if (roots.size == 1) ctx.liveHeap()
      }
    }
    ctx.tr.awaitProgress(queries)
    val events = log.deliveries.length.toLong
    val lat = roots.toSeq.flatMap { case (root, startMs, _, _) =>
      ctx.attempted += 1
      check(ctx, spark, root, startMs, expected)
    }
    // a typical replay: the median one
    val wall = ctx.median(roots.map(_._3).toSeq)
    ctx.result(events, wall, ctx.median(roots.map(_._4).toSeq), lat)
    ctx.report("events_per_s", events / wall)
    ctx.report("replays", roots.size)
    ctx.report("gold_rows", expected.size)
    val last = StreamJobs.MedallionPaths(roots.last._1)
    for ((q, dir) <- Seq("bronze" -> last.bronze, "silver" -> last.silver, "gold" -> last.gold)) {
      val (n, b) = Sinks.size(dir)
      ctx.layer(s"sink.$q.files", n); ctx.layer(s"sink.$q.bytes", b)
    }
    roots.foreach(r => Sinks.deleteTree(new File(r._1)))
  }
}
