package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneOffset}

/** Seeded input generator, independent of the program under test.
  *
  * The universe is `Gen.Symbols` symbols with `Gen.CandlesPerDay`
  * five-minute candles a trading day (09:15 IST = 03:45 UTC onwards).
  * Each day is fetched `Gen.FetchesPerDay` times, cumulatively: fetch k
  * carries candles [0, min(96, 10k)), so fetches 10–12 are post-close
  * re-fetches of the whole day and every candle arrives at least
  * twice. Every fetch revises the values it carries, so only the
  * newest fetch's values may survive dedup. A fixed share of symbols
  * (chosen by the seed) is missing from fetch 11 and another from
  * fetch 12, so the surviving fetch differs by symbol.
  *
  * Raw files use the reference's envelope: a `data` map of symbol
  * blocks and `metadata.fetch_timestamp`. [[survivor]] gives, computed
  * here and not by the program, the candle the ETL must keep for every
  * (symbol, timestamp).
  */
final class Gen(seed: Long) {
  import Gen._

  val symbols: IndexedSeq[String] = (0 until Symbols).map(i => f"NSE:SYM$i%03d-EQ")
  def clean(s: Int): String = f"SYM$s%03d"

  def date(d: Int): LocalDate = FirstDay.plusDays(d.toLong)
  def dayStart(d: Int): Long = date(d).toEpochDay * 86400L + OpenUtcSec
  def ts(d: Int, i: Int): Long = dayStart(d) + i * 300L
  def covered(k: Int): Int = math.min(CandlesPerDay, 10 * k)
  def fetchEpoch(d: Int, k: Int): Long = dayStart(d) + k * 3000L
  def fetchTs(d: Int, k: Int): String = Instant.ofEpochSecond(fetchEpoch(d, k)).toString

  // a seeded permutation picks which symbols miss fetch 11 and fetch 12
  private val perm: Array[Int] = {
    val a = Array.tabulate(Symbols)(identity)
    val r = new java.util.SplittableRandom(seed)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val rank: Array[Int] = {
    val r = new Array[Int](Symbols); perm.zipWithIndex.foreach { case (s, i) => r(s) = i }; r
  }

  /** Whether fetch k of any day carries symbol s. */
  def carries(s: Int, k: Int): Boolean = k match {
    case 11 => rank(s) % 4 != 0
    case 12 => rank(s) % 4 != 1
    case _  => true
  }

  private def mix(xs: Long*): Long = xs.foldLeft(seed * 0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h + x * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def u(m: Long, xs: Long*): Long = java.lang.Math.floorMod(mix(xs: _*), m)

  /** Candle i of day d for symbol s as carried by fetch k, in integer
    * cents (volume in shares): (open, high, low, close, volume). */
  def candle(s: Int, d: Int, i: Int, k: Int): (Long, Long, Long, Long, Long) = {
    val base  = 20000L + u(480000L, s, 1)
    val open  = base + u(20001L, s, d, i, 2) - 10000L
    val close = open + u(2001L, s, d, i, 3) - 1000L + u(501L, s, d, i, k, 4) - 250L
    val high  = math.max(open, close) + u(300L, s, d, i, k, 5)
    val low   = math.min(open, close) - u(300L, s, d, i, k, 6)
    val vol   = 1000L + u(100000L, s, d, i, k, 7)
    (open, high, low, close, vol)
  }

  /** The newest fetch among `fetches` that carries candle i of symbol s,
    * the one whose values must survive. */
  def survivor(s: Int, i: Int, fetches: Seq[Int] = 1 to FetchesPerDay): Option[Int] =
    fetches.filter(k => carries(s, k) && i < covered(k)).maxOption

  /** Writes fetch k of day d for the first `upTo` symbols as one
    * envelope document; returns its path. */
  def writeFetch(dir: Path, d: Int, k: Int, upTo: Int = Symbols): Path = {
    val sb = new java.lang.StringBuilder(2 << 20)
    val ft = fetchTs(d, k)
    var first = true
    var n = 0
    sb.append("{\"data\":{")
    for (s <- 0 until upTo if carries(s, k)) {
      if (!first) sb.append(',')
      first = false
      n += 1
      val sym = symbols(s)
      sb.append('"').append(sym).append("\":{\"symbol\":\"").append(sym)
        .append("\",\"resolution\":\"5\",\"candles\":[")
      for (i <- 0 until covered(k)) {
        if (i > 0) sb.append(',')
        val (o, h, l, c, v) = candle(s, d, i, k)
        sb.append('[').append(ts(d, i)).append(',')
        cents(sb, o).append(','); cents(sb, h).append(',')
        cents(sb, l).append(','); cents(sb, c).append(',')
        sb.append(v).append(']')
      }
      sb.append("],\"timestamp\":\"").append(ft).append("\",\"total_records\":")
        .append(covered(k)).append('}')
    }
    sb.append("},\"metadata\":{\"fetch_timestamp\":\"").append(ft)
      .append("\",\"total_symbols\":").append(n).append(",\"source\":\"perfbench\"}}\n")
    Files.createDirectories(dir)
    val p = dir.resolve(f"fetch_$k%02d.json")
    Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
    p
  }

  /** Lands all fetches of day d for the first `upTo` symbols under
    * `root/<date>/`; returns that dir. */
  def landDay(root: Path, d: Int, upTo: Int = Symbols): Path = {
    val dir = root.resolve(date(d).toString)
    (1 to FetchesPerDay).foreach(writeFetch(dir, d, _, upTo))
    dir
  }
}

object Gen {
  val Symbols       = 500
  val CandlesPerDay = 96
  val FetchesPerDay = 12
  val FirstDay: LocalDate = LocalDate.of(2025, 10, 6) // a Monday
  val OpenUtcSec: Long = 3 * 3600L + 45 * 60L

  def cents(sb: java.lang.StringBuilder, c: Long): java.lang.StringBuilder = {
    sb.append(c / 100).append('.')
    val r = c % 100
    if (r < 10) sb.append('0')
    sb.append(r)
  }
  def dbl(c: Long): Double = c / 100.0
  def utcDate(epoch: Long): LocalDate = Instant.ofEpochSecond(epoch).atZone(ZoneOffset.UTC).toLocalDate
}
