package perfbench

import org.apache.spark.sql.SparkSession

/** A wrong answer from the program: fails the run. */
final class Mismatch(msg: String) extends RuntimeException(msg)

object Check {
  def fail(msg: String): Nothing = throw new Mismatch(msg)
  def expect(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** The stored table must hold exactly one row per (symbol, candle) of
    * `days`, each equal to the generator's survivor, with partition
    * columns equal to the candle's UTC date. */
  def table(spark: SparkSession, g: Gen, path: String, days: Seq[Int]): Unit = {
    // the check lists the table's directories on the driver, not in a
    // listing job of one task per directory: it runs after the timed
    // work, and a run spends less time on it
    val key  = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, Int.MaxValue.toString)
    val rows =
      try spark.read.parquet(path).select(
        "symbol", "symbol_clean", "resolution", "timestamp_unix", "timestamp_iso",
        "open", "high", "low", "close", "volume", "year", "month", "day", "hour",
        "fetch_timestamp", "processed_at").collect()
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val want = Gen.Symbols.toLong * Gen.CandlesPerDay * days.size
    expect(rows.length == want, s"table holds ${rows.length} rows, expected $want")
    val seen = new java.util.HashSet[(String, Long)](rows.length * 2)
    val dayIndex = days.map(d => g.date(d) -> d).toMap
    rows.foreach { r =>
      val clean = r.getString(1)
      val ts    = r.getLong(3)
      expect(seen.add((clean, ts)), s"($clean, $ts) stored twice")
      val s = clean.stripPrefix("SYM").toIntOption.filter(i => i >= 0 && i < Gen.Symbols)
        .getOrElse(fail(s"unknown symbol_clean $clean"))
      val date = Gen.utcDate(ts)
      val d = dayIndex.getOrElse(date, fail(s"candle $ts of $clean is on an unexpected date $date"))
      val off = ts - g.dayStart(d)
      expect(off >= 0 && off % 300 == 0 && off / 300 < Gen.CandlesPerDay, s"unexpected timestamp $ts")
      val i = (off / 300).toInt
      val k = g.survivor(s, i).get
      val (o, h, l, c, v) = g.candle(s, d, i, k)
      val iso = java.time.LocalDateTime.ofEpochSecond(ts, 0, java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
      val got = (r.getString(0), r.getString(2), r.getString(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8), r.getLong(9), r.getInt(13), r.getString(14), r.getString(15))
      val exp = (g.symbols(s), "5", iso, Gen.dbl(o), Gen.dbl(h), Gen.dbl(l), Gen.dbl(c), v,
        ((ts % 86400) / 3600).toInt, g.fetchTs(d, k), Etl.processedAt(g, d))
      expect(got == exp, s"row ($clean, $ts) is $got, expected the survivor of fetch $k: $exp")
      expect((r.getInt(10), r.getInt(11), r.getInt(12)) == (date.getYear, date.getMonthValue, date.getDayOfMonth),
        s"row ($clean, $ts) sits in partition ${r.getInt(10)}-${r.getInt(11)}-${r.getInt(12)}, not $date")
    }
  }
}
