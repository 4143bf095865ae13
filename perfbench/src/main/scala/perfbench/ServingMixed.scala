package perfbench

import java.io.File
import java.nio.file.Files
import java.util.SplittableRandom
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.operators.{Candles, Serving}

/** `serving_mixed`: a closed loop with one client against a gold candle
  * store built in set-up (`Candles.buildCandleStore`). The client issues
  * a seeded mix of dashboard reads over the store's candles; every
  * `writeEvery`-th operation instead folds a fresh event batch into the
  * store (`Candles.updateCandleStore`) under the store's own compaction
  * policy. The queries are tiny, so driver work and store file listing
  * dominate, and a store change that trades write cost for read cost
  * shows in the mix.
  */
object ServingMixed {
  /** The reference's three symbols (BTC, ETH, SOL). */
  val symbols = 3
  val dayMs = 86400000L
  val minuteMs = 60000L
  /** The store starts as the reference's gold table: its first window
    * (2025-12-31T05:31Z) and 314 one-minute windows, built from a
    * quarter of its 337,120 rows, so that one build stays near 2 s.
    */
  val startMs = 1767159060000L
  val initialWindows = 314
  val initialEvents = 337120 / 4
  /** Each cycle of `writeEvery` operations is one write and, in a seeded
    * order, these reads: the mix's composition is the same for every seed.
    */
  val cycle: Seq[String] = Seq("latest", "latest", "spread", "arbitrage", "arbitrage", "topk", "asof")
  val writeEvery: Int = cycle.size + 1
  /** A write is two minutes of the reference's feed (1,074 rows a
    * minute) on the next UTC day, as a daily shard lands: every write
    * adds one owning version to the store.
    */
  val writeEvents = 2148
  val writeSpanMs: Long = 2 * minuteMs
  /** The store's compaction policy (`autoCompactCandleStore`: compact
    * when more than this many versions are live), with the bound lowered
    * from the streamed sink's 64 to 4: a 12 s run holds three or four
    * writes, so at 64 it could never fire. The warm-up leaves 3 live
    * versions, so the window's second write compacts, and no later one
    * of the first five does: every run has one compaction.
    */
  val maxVersions = 4
  /** Warm-up cycles, writes included. A fixed count, so the store holds
    * the same number of versions when the measured phase starts.
    */
  val warmupCycles = 2

  val schema: StructType = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  def writeJson(file: File, es: Seq[Gen.StoreEvent]): Unit = {
    val sb = new java.lang.StringBuilder(es.size * 96)
    es.foreach { e =>
      sb.append("{\"event_id\":").append(e.eventId).append(",\"ts\":\"")
        .append(java.time.Instant.ofEpochMilli(e.tsMs)).append("\",\"event_type\":\"")
        .append(e.symbol).append("\",\"value\":").append(e.value).append("}\n")
    }
    Files.writeString(file.toPath, sb)
  }

  def events(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(schema).json(files: _*)

  def run(ctx: Ctx): Unit = {
    val initial = new File(ctx.path("events-initial.json"))
    ctx.dir.mkdirs()
    writeJson(initial, Gen.storeEvents(ctx.seed, math.max(2000, (initialEvents * ctx.scale).toInt),
      symbols, startMs, initialWindows * minuteMs, firstId = 0L).toSeq)
    val batchFile = (i: Int) => {
      val f = new File(ctx.path(f"events-w$i%04d.json"))
      if (!f.exists()) writeJson(f, Gen.storeEvents(ctx.seed * 7919 + i, writeEvents, symbols,
        startMs + (i + 1) * dayMs, writeSpanMs, firstId = 1000000000L * (i + 1)).toSeq)
      f.getAbsolutePath
    }
    (0 until 16).foreach(batchFile)
    val store = ctx.path("store")
    val (spark, _) = ctx.setUp { s =>
      Candles.buildCandleStore(events(s, Seq(initial.getAbsolutePath)), store)
    } { (_, _) => Sinks.deleteTree(new File(store)) }

    // the warm-up runs untraced
    var tr = new Tracer(false)
    val r = new SplittableRandom(ctx.seed ^ 0x5e5e5eL)
    var order = Seq.empty[String]
    val written = mutable.ArrayBuffer.empty[String]
    var compactions = 0L
    // each read kind walks the same sequence of symbol pairs for every
    // seed: pairs differ in cost (the symbols' trade counts are skewed)
    val pairsUsed = mutable.Map.empty[String, Int].withDefaultValue(0)
    def pair(kind: String): (String, String) = {
      val k = pairsUsed(kind); pairsUsed(kind) = k + 1
      val a = k % symbols; val b = (a + 1 + k / symbols % (symbols - 1)) % symbols
      (Gen.symbol(0, a), Gen.symbol(0, b))
    }
    def candles(): DataFrame = tr.span("util", "Candles.candlesFromStore")(Candles.candlesFromStore(spark, store))
    def read(kind: String): Int = kind match {
      case "latest" => tr.span("operators", "Serving.latestPerKey")(
        Serving.latestPerKey(candles(), "symbol", "window_start").collect().length)
      case "spread" => val (a, b) = pair(kind); tr.span("operators", "Serving.spreadJoin")(
        Serving.spreadJoin(candles(), a, b).collect().length)
      case "arbitrage" => val (a, b) = pair(kind); tr.span("operators", "Serving.arbitrageOpportunities")(
        Serving.arbitrageOpportunities(candles(), a, b, minBps = 5.0).collect().length)
      case "topk" => tr.span("plans", "Serving.topKPerKey")(
        Serving.topKPerKey(candles(), 3, Seq("symbol"), Seq("trade_count", "window_start")).collect().length)
      case "asof" => val (a, b) = pair(kind); tr.span("operators", "Serving.asofJoin") {
        val c = candles()
        val left = c.filter(col("symbol") === a)
          .select(lit(1).as("pair"), col("window_start").as("ts"), col("close").as("close_a"))
        val right = c.filter(col("symbol") === b)
          .select(lit(1).as("pair"), col("window_end").as("rts"), col("close").as("close_b"))
        Serving.asofJoin(left, right, "pair", "ts", "rts", Seq("close_b")).collect().length
      }
    }
    def write(i: Int): Unit = {
      val f = batchFile(i)
      tr.span("util", "Candles.updateCandleStore")(
        Candles.updateCandleStore(events(spark, Seq(f)), store, shardId = Some(s"w$i")))
      written += f
      if (tr.span("util", "Candles.autoCompactCandleStore")(
        Candles.autoCompactCandleStore(spark, store, maxVersions))) compactions += 1
    }
    def op(i: Int): (String, Double) = {
      if (i % writeEvery == 0) order = shuffle(cycle)
      val kind = if (i % writeEvery == writeEvery - 1) "write" else order(i % writeEvery)
      val t0 = System.nanoTime()
      try { if (kind == "write") write(i / writeEvery) else read(kind) }
      catch { case e: Exception => ctx.fail(s"$kind: $e") }
      (kind, (System.nanoTime() - t0) / 1e6)
    }

    def shuffle(xs: Seq[String]): Seq[String] = {
      val a = xs.toArray
      for (i <- a.indices.reverse.dropRight(1)) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }

    var i = 0
    while (i < warmupCycles * writeEvery) { op(i); i += 1 }
    compactions = 0
    tr = ctx.tr

    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    var busy = 0.0
    ctx.measure(spark) {
      val t0 = System.nanoTime()
      var paused = 0L
      // whole cycles only, so every window has the same mix of operations
      while ((System.nanoTime() - t0 - paused) / 1e9 < ctx.seconds || i % writeEvery != 0) {
        val done = op(i); lat += done; i += 1
        // the heap left after the window's first write (it compacts):
        // what the last operation leaves behind is then the same in
        // every run; the pause is not operation time
        if (done._1 == "write" && !ctx.out.contains("live_heap_mb")) {
          val g = System.nanoTime(); ctx.liveHeap(); paused += System.nanoTime() - g
        }
      }
      busy = (System.nanoTime() - t0 - paused) / 1e9
    }

    // the store's candles must equal ohlcv over every event written
    ctx.attempted += i + 1
    val all = events(spark, initial.getAbsolutePath +: written.toSeq)
    val expected = Candles.ohlcv(all, "1 minute", tsCol = "ts", symbolCol = "event_type",
      priceCol = "value", tieCol = Some("event_id"))
    val got = Candles.candlesFromStore(spark, store)
    val diff = expected.exceptAll(got).count() + got.exceptAll(expected).count()
    if (diff > 0) ctx.fail(s"store: $diff candles differ from ohlcv over all events written")

    val readMs = lat.filter(_._1 != "write").map(_._2).toSeq
    ctx.result(lat.size, busy, ctx.measuredCpuS, readMs)
    ctx.report("read_ms", Dist(readMs))
    ctx.report("write_ms", Dist(lat.filter(_._1 == "write").map(_._2).toSeq))
    ctx.report("ops_per_s", lat.size / busy)
    for (k <- cycle.distinct) ctx.layer(s"serve.${k}_ms", Dist(lat.filter(_._1 == k).map(_._2).toSeq))
    ctx.layer("store.update_ms", tr.spanSeconds("Candles.updateCandleStore") * 1000)
    ctx.layer("store.live_files", Sinks.size(store)._1)
    ctx.layer("store.versions", Candles.liveVersionCount(spark, store))
    ctx.layer("store.compactions", compactions)
  }
}
