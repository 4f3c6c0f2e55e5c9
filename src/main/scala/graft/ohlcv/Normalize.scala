package graft.ohlcv

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Raw-snapshot ingestion + the core normalize transform — the Spark
  * re-expression of the reference ETL (etl/glue_job.py:119-193 and
  * etl/lightweight_etl.py:33-95): explode the symbol map (P1), explode
  * candles (P2), positional cast (P3), epoch→timestamp (P4), calendar
  * parts (P5), symbol cleaning (P6), audit stamps (P8), quality filter
  * (P9). One declarative DataFrame→DataFrame; Catalyst handles
  * pushdown/pruning; the only shuffle in the whole ETL is the
  * partitioned write.
  */
object RawIngest {

  /** Schema'd multiline raw-JSON scan (S4, etl/glue_job.py:65-117),
    * old `data`-map envelope format. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("multiLine", "true")
      .schema(OhlcvSchemas.rawEnvelope)
      .json(path)
      .withColumn("source_file", input_file_name())

  /** Exploded symbol blocks from either envelope format:
    * old = blocks under `data`; new = blocks at top level (parsed from
    * the raw JSON text as a map, minus the `metadata` key —
    * api/api_handler.py:380-385 tolerates both the same way). */
  def blocks(raw: DataFrame): DataFrame =
    raw.select(
      explode(col("data")).as(Seq("symbol_key", "block")),
      col("metadata.fetch_timestamp").as("fetch_timestamp"),
      col("source_file"))

  /** New-format scan: every top-level key except `metadata` is a
    * symbol block (api/api_handler.py:266-272). Implemented by reading
    * the document as text and `from_json`-ing it twice: once as a
    * permissive map of blocks, once for metadata. */
  def readRawNewFormat(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val text = spark.read.option("wholetext", "true").text(path)
      .withColumn("source_file", input_file_name())
    val asMap  = from_json(col("value"), MapType(StringType, OhlcvSchemas.symbolBlock))
    val asMeta = from_json(col("value"), OhlcvSchemas.rawEnvelopeNew)
    text
      .select(
        map_filter(asMap, (k, _) => k =!= "metadata").as("data"),
        asMeta.getField("metadata").getField("fetch_timestamp").as("fetch_timestamp"),
        col("source_file"))
      .select(explode(col("data")).as(Seq("symbol_key", "block")), col("fetch_timestamp"), col("source_file"))
  }
}

object Normalize {

  /** P6: strip `NSE:` prefix and `-EQ` suffix (etl/glue_job.py:171-173). */
  def cleanSymbol(c: Column): Column = regexp_replace(c, "NSE:|-EQ", "")

  /** P7: inverse — normalize user input to `NSE:X-EQ`
    * (api/api_handler.py:592-612). Mirrors the reference exactly: any
    * symbol already carrying an exchange prefix (`':'` present) is
    * returned unchanged — `normalize_symbol`'s two branches both
    * no-op when `':' in symbol`, so `"BSE:X"` stays `"BSE:X"`, never
    * `"NSE:BSE:X-EQ"`. Only bare names gain the `NSE:` prefix, and the
    * `-EQ` suffix only when missing. */
  def toExchangeSymbol(c: Column): Column = {
    val up = upper(trim(c))
    when(up.contains(":"), up)
      .otherwise(
        when(up.endsWith("-EQ"), concat(lit("NSE:"), up))
          .otherwise(concat(lit("NSE:"), up, lit("-EQ"))))
  }

  /** P11: multi-format timestamp coercion — numeric epoch seconds vs
    * milliseconds via the `> 1e12` heuristic
    * (etl/python_etl/transforms.py:22-39). NaN/±Infinity/out-of-range
    * doubles (which survive `try_cast` to DOUBLE) yield null instead
    * of an ANSI CAST_OVERFLOW — one dirty "NaN" timestamp must be a
    * filtered row, never a killed job. |c| < 1e15 bounds the value to
    * castable, plausible epochs (epoch-ms today is ~1.8e12). */
  def coerceEpochSeconds(c: Column): Column = {
    val safe = when(!isnan(c) && abs(c) < 1e15, c)
    when(safe > 1e12, (safe / 1000).cast("long")).otherwise(safe.cast("long"))
  }

  /** P12: defensive field-alias fallback
    * (etl/python_etl/transforms.py:17-24,42-43): `symbol|s|ticker`,
    * `timestamp|ts|time`, `close|c|last`, `volume|v`. For each
    * canonical name, coalesces whichever alias columns EXIST in the
    * input schema — schema-driven, so a well-formed input pays
    * nothing. Mirrors Python's falsy `or` chain exactly: empty strings
    * AND numeric zeros fall through to the next alias (so `close=0.0`
    * defers to `c`/`last`, and ends up NULL — rejected by
    * [[normalizeFlat]] — when no alias has a value, just like
    * `normalize_record` returns None). Consumed alias columns are
    * dropped; the canonical column is appended. */
  def aliasFallback(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    val groups = Seq(
      "symbol"    -> Seq("symbol", "s", "ticker"),
      "timestamp" -> Seq("timestamp", "ts", "time"),
      "close"     -> Seq("close", "c", "last"),
      "volume"    -> Seq("volume", "v"))
    groups.foldLeft(df) { case (acc, (canon, alts)) =>
      val present = alts.filter(acc.columns.contains)
      if (present.isEmpty) acc
      else {
        val truthy = present.map { n =>
          acc.schema(n).dataType match {
            case StringType     => when(col(n) =!= "", col(n))
            case _: NumericType => when(col(n) =!= 0, col(n))
            case _              => col(n)
          }
        }
        acc
          .withColumn("__alias_tmp", coalesce(truthy: _*))
          .drop(present: _*)
          .withColumnRenamed("__alias_tmp", canon)
      }
    }
  }

  /** The defensive close-only ETL — the Spark re-expression of
    * `normalize_record` + `records_to_df`
    * (etl/python_etl/transforms.py:10-82): alias fallback (P12),
    * reject rows missing symbol/timestamp/close, epoch s-vs-ms
    * coercion (P11) or ISO-string parse for timestamps (unparseable →
    * reject, via try_* so ANSI mode never throws on dirty rows),
    * float(close) with unparseable → reject, int(volume) with
    * unparseable → 0, injected `ingested_at` audit stamp (P8,
    * reproducible runs), year/month/day partition columns (P5).
    * Output layout = the reference's close-only table
    * (transforms.py:81).
    *
    * One deliberate superset: numeric STRINGS ("1759895100") take the
    * epoch path; the reference hands them to pandas' date parser,
    * which rejects them. */
  def normalizeFlat(flat: DataFrame, ingestedAt: String): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    val af = aliasFallback(flat)
    val withCanon = Seq("symbol", "timestamp", "close", "volume").foldLeft(af)(
      (acc, c) => if (acc.columns.contains(c)) acc else acc.withColumn(c, lit(null).cast("string")))
    val isNum = withCanon.schema("timestamp").dataType.isInstanceOf[NumericType]
    val tsNum = if (isNum) col("timestamp").cast("double") else expr("try_cast(timestamp AS DOUBLE)")
    val ts = when(tsNum.isNotNull, to_timestamp(from_unixtime(coerceEpochSeconds(tsNum))))
      .otherwise(
        if (isNum) lit(null).cast("timestamp")
        else try_to_timestamp(col("timestamp").cast("string")))
    withCanon
      .withColumn("__ts", ts)
      .withColumn("close", expr("try_cast(close AS DOUBLE)"))
      .withColumn("volume", coalesce(expr("try_cast(volume AS BIGINT)"), lit(0L)))
      .filter(col("symbol").isNotNull && col("__ts").isNotNull && col("close").isNotNull)
      .withColumn("ingested_at", lit(ingestedAt))
      .withColumn("year", year(col("__ts")))
      .withColumn("month", month(col("__ts")))
      .withColumn("day", dayofmonth(col("__ts")))
      .withColumn("timestamp", col("__ts"))
      .select("symbol", "timestamp", "close", "volume", "ingested_at", "year", "month", "day")
  }

  /** Exploded blocks → normalized 16-column OHLCV
    * (etl/glue_job.py:119-193 + lightweight extras). `processedAt`
    * is injected (not `current_timestamp()`) so runs are reproducible;
    * pass a real clock at the call site for production parity. */
  def normalize(blocks: DataFrame, processedAt: String): DataFrame = {
    val c = col("candle")
    val exploded = blocks.select(
      col("block.symbol").as("symbol"),
      col("block.resolution").as("resolution"),
      col("fetch_timestamp"),
      explode(col("block.candles")).as("candle"))
    val typed = exploded.select(
      col("symbol"),
      cleanSymbol(col("symbol")).as("symbol_clean"),
      col("resolution"),
      coerceEpochSeconds(c.getItem(0)).as("timestamp_unix"),
      // P10 null-defaulting casts (etl/lightweight_etl.py:68-72)
      coalesce(c.getItem(1), lit(0.0)).as("open"),
      coalesce(c.getItem(2), lit(0.0)).as("high"),
      coalesce(c.getItem(3), lit(0.0)).as("low"),
      coalesce(c.getItem(4), lit(0.0)).as("close"),
      coalesce(c.getItem(5).cast("long"), lit(0L)).as("volume"),
      col("fetch_timestamp"))
    val ts = to_timestamp(from_unixtime(col("timestamp_unix")))
    typed
      .withColumn("timestamp_iso", date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"))
      .withColumn("year", year(ts))
      .withColumn("month", month(ts))
      .withColumn("day", dayofmonth(ts))
      .withColumn("hour", hour(ts))
      .withColumn("processed_at", lit(processedAt))
      // P9 quality filter (etl/glue_job.py:177-186 + close>0 from
      // lightweight_etl.py:83-85)
      .filter(
        col("timestamp_unix").isNotNull && col("open").isNotNull && col("high").isNotNull &&
          col("low").isNotNull && col("close").isNotNull && col("volume").isNotNull &&
          col("high") >= col("low") && col("volume") >= 0 && col("close") > 0)
      .select(OhlcvSchemas.normalized.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** Canonical candle view of a normalized table — the column contract
    * the analytics/resample/dedup operators consume. */
  def asCandles(normalized: DataFrame): DataFrame =
    normalized.select(
      col("symbol_clean").as("symbol"),
      to_timestamp(from_unixtime(col("timestamp_unix"))).as("ts"),
      col("open"), col("high"), col("low"), col("close"),
      col("volume").cast("double").as("volume"),
      col("fetch_timestamp"))
}
