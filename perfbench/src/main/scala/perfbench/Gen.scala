package perfbench

import java.util.SplittableRandom

/** Seeded input generators. This is the load side of the benchmark and
  * touches no Spark and no code of the program under test: the program
  * receives only what these functions produce. The same seed always
  * yields the same inputs.
  */
object Gen {

  /** One trade as the generator created it. `eventMs` is the trade's
    * event time (the `time` field of the ticker JSON); `createdMs` is
    * when the generator created it (for the live feed: when it was due).
    * Prices are in units of 1e-4, sizes in units of 1e-4.
    */
  final case class Trade(venue: Int, base: Int, tradeId: Long, eventMs: Long,
                         createdMs: Long, priceUnits: Long, sizeUnits: Long,
                         late: Boolean) {
    def symbol: String = Gen.symbol(venue, base)
    def price: BigDecimal = BigDecimal(priceUnits, 4)
  }

  val venueKeys: Array[String] = Array("venue-a", "venue-b")
  private val quotes = Array("USD", "USDT")

  /** Venue `v`'s product id for base asset `b`; the spread join keys on
    * the part before '-', so both venues' symbols of one base match.
    */
  def symbol(v: Int, b: Int): String = f"B$b%05d-${quotes(v)}"

  private def units4(u: Long): String = BigDecimal(u, 4).bigDecimal.toPlainString

  /** The Kafka-shaped JSON line of one delivery: key = venue, value =
    * the ticker JSON the silver parser reads, timestamp = broker time.
    */
  def jsonLine(t: Trade, brokerMs: Long, sb: java.lang.StringBuilder): Unit = {
    val time = java.time.Instant.ofEpochMilli(t.eventMs).toString
    sb.append("{\"key\":\"").append(venueKeys(t.venue))
      .append("\",\"value\":\"{\\\"type\\\":\\\"ticker\\\",\\\"product_id\\\":\\\"")
      .append(t.symbol).append("\\\",\\\"price\\\":\\\"").append(units4(t.priceUnits))
      .append("\\\",\\\"volume_24h\\\":\\\"1000\\\",\\\"time\\\":\\\"").append(time)
      .append("\\\",\\\"trade_id\\\":\\\"").append(t.tradeId)
      .append("\\\",\\\"side\\\":\\\"").append(if (t.tradeId % 2 == 0) "buy" else "sell")
      .append("\\\",\\\"last_size\\\":\\\"").append(units4(t.sizeUnits))
      .append("\\\"}\",\"timestamp\":\"")
      .append(java.time.Instant.ofEpochMilli(brokerMs).toString).append("\"}\n")
  }

  /** Zipf(s) sampler over 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Settings of a recorded ticker log (the backfill input). */
  final case class LogSpec(events: Int, bases: Int, zipf: Double,
                           dupShare: Double, oooShare: Double,
                           startMs: Long, spanMs: Long, oooMaxMs: Long,
                           dupMaxMs: Long)

  /** A recorded two-venue ticker log: `trades` in event-time order (every
    * symbol's timestamps distinct), and `deliveries` in log order, where
    * an `oooShare` of trades arrive up to `oooMaxMs` of event time late
    * (inside the watermark) and a `dupShare` are delivered a second time
    * up to `dupMaxMs` later (exact redeliveries, inside the dedup delay).
    */
  final case class TickerLog(trades: Array[Trade], deliveries: Array[Trade])

  def tickerLog(seed: Long, spec: LogSpec): TickerLog = {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(spec.bases, spec.zipf)
    val px = Array.fill(spec.bases)(1000000L + r.nextLong(9000000L))
    val ids = Array.fill(2, spec.bases)(0L)
    val step = spec.spanMs.toDouble / spec.events
    val trades = Array.tabulate(spec.events) { i =>
      val b = zipf.sample(r); val v = r.nextInt(2)
      px(b) = math.max(10000L, px(b) + r.nextLong(-500L, 501L))
      ids(v)(b) += 1
      // one event per ms tick at most: timestamps are distinct globally
      val ms = spec.startMs + (i * step).toLong
      Trade(v, b, ids(v)(b), ms, ms, px(b) + v * r.nextLong(-300L, 301L),
        1 + r.nextLong(100000L), late = false)
    }
    val keyed = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Trade)]
    var seq = 0
    trades.foreach { t =>
      val delay = if (r.nextDouble() < spec.oooShare) 1 + r.nextLong(spec.oooMaxMs) else 0L
      keyed += ((t.eventMs + delay, seq, t)); seq += 1
      if (r.nextDouble() < spec.dupShare) {
        keyed += ((t.eventMs + 1 + r.nextLong(spec.dupMaxMs), seq, t)); seq += 1
      }
    }
    TickerLog(trades, keyed.sortBy(k => (k._1, k._2)).map(_._3).toArray)
  }

  /** The open-loop live feed: `rate` events/s over both venues, each
    * (venue, base) symbol ticking at `perSymbolRate` events/s (constant
    * density: the symbol universe grows with the rate). Event `k` is due
    * at `t0Ms + k * 1000 / rate`; its event time is its due time, except
    * for a `lateShare` whose event time lies `lateMinMs`..`lateMaxMs`
    * before it (later than the watermark).
    */
  final class LiveFeed(seed: Long, val rate: Int, perSymbolRate: Int,
                       lateShare: Double, lateMinMs: Long, lateMaxMs: Long) {
    val bases: Int = math.max(2, rate / (2 * perSymbolRate))
    private val r = new SplittableRandom(seed)
    private val px = Array.fill(bases)(1000000L + r.nextLong(9000000L))
    private val ids = Array.fill(2, bases)(0L)
    private var order = perm()
    private var k = 0L
    // event times in use per symbol: a late event never takes the time of
    // another event of its symbol, so (symbol, time) identifies a trade
    private val used = scala.collection.mutable.HashSet.empty[(Int, Int, Long)]

    private def perm(): Array[Int] = {
      val a = Array.tabulate(bases)(identity)
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }

    /** Due time of event `k` (ms since epoch, fractional). */
    def dueMs(t0Ms: Long, k: Long): Double = t0Ms + k * 1000.0 / rate

    /** The next event, due at `dueMs(t0Ms, k)`: the feed walks a fresh
      * seeded permutation of bases each round, venue A then venue B.
      */
    def next(t0Ms: Long): Trade = {
      val slot = (k % (2 * bases)).toInt
      if (slot == 0 && k > 0) order = perm()
      val b = order(slot / 2); val v = slot % 2
      val due = dueMs(t0Ms, k).toLong
      k += 1
      if (v == 0) px(b) = math.max(10000L, px(b) + r.nextLong(-500L, 501L))
      ids(v)(b) += 1
      val late = r.nextDouble() < lateShare
      var ev = if (late) due - lateMinMs - r.nextLong(lateMaxMs - lateMinMs) else due
      while (!used.add((v, b, ev))) ev -= 1
      Trade(v, b, ids(v)(b), ev, due, px(b) + v * r.nextLong(-300L, 301L),
        1 + r.nextLong(100000L), late)
    }
  }

  /** One serving-store event: the `events` table shape the candle store
    * reads (`ts`, `event_type` = symbol, `value` = price, `event_id`).
    * Prices are multiples of 1/8, so every sum is exact in a double.
    */
  final case class StoreEvent(eventId: Long, tsMs: Long, symbol: String, value: Double)

  /** `n` store events over `symbols` symbols from `startMs` spanning
    * `spanMs`, ids from `firstId`; timestamps distinct per event.
    */
  def storeEvents(seed: Long, n: Int, symbols: Int, startMs: Long, spanMs: Long,
                  firstId: Long): Array[StoreEvent] = {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(symbols, 0.8)
    val px = Array.fill(symbols)(800L + r.nextLong(8000L))
    val step = spanMs.toDouble / n
    Array.tabulate(n) { i =>
      val s = zipf.sample(r)
      px(s) = math.max(8L, px(s) + r.nextLong(-4L, 5L))
      StoreEvent(firstId + i, startMs + (i * step).toLong, symbol(0, s), px(s) / 8.0)
    }
  }

  /** One document of the curation corpus (the `documents` table shape). */
  final case class Doc(docId: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  /** The reference corpus vocabulary and language mix: 30 near-uniform
    * words, 10..100 tokens per document, five languages, twenty sources.
    */
  private val vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  /** A seeded corpus of `n` documents with the reference `documents`
    * statistics, plus injected near-duplicates: a `dupShare` of documents
    * copy an earlier one with ~`editShare` of its tokens replaced (and a
    * marker token appended), so near-duplicate components form; since
    * `doc_id % 10 == 0` marks the benchmark split, copies of those
    * documents are the benchmark leaks decontamination must remove.
    */
  def documents(seed: Long, n: Int, dupShare: Double, editShare: Double): Array[Doc] = {
    val r = new SplittableRandom(seed)
    val toks = new Array[Array[String]](n)
    Array.tabulate(n) { i =>
      val t =
        if (i > 0 && r.nextDouble() < dupShare) {
          val src = toks(r.nextInt(i)).clone()
          var j = 0
          while (j < src.length) {
            if (r.nextDouble() < editShare) src(j) = vocab(r.nextInt(vocab.length))
            j += 1
          }
          src :+ "dup"
        } else Array.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length)))
      toks(i) = t
      Doc(i.toLong, t.mkString(" "), langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}")
    }
  }
}
