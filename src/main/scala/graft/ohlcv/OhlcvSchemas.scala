package graft.ohlcv

import org.apache.spark.sql.types._

/** Data model of the OHLCV pipeline (SURVEY §1).
  *
  * Raw snapshot envelope (ingestion/lambda_ingestion.py:414-452): a
  * JSON document `{data: {symbolKey -> block}, metadata: {...}}` where
  * block = {symbol, resolution, candles, timestamp, total_records};
  * candles are 6-element positional arrays
  * [ts_unix, open, high, low, close, volume]
  * (ingestion/lambda_ingestion.py:500). A second "new" format puts the
  * symbol blocks at TOP level next to `metadata`
  * (api/api_handler.py:266-272).
  *
  * ⚠ The reference's own Spark schema declares candles as an array of
  * named structs (etl/glue_job.py:85-94) which cannot parse the actual
  * bare-number wire arrays — we declare `array<array<double>>` and cast
  * per position instead (SURVEY §1.2 quirk).
  */
object OhlcvSchemas {

  /** One symbol block inside a raw snapshot. */
  val symbolBlock: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("resolution", StringType),
    StructField("candles", ArrayType(ArrayType(DoubleType))),
    StructField("timestamp", StringType),
    StructField("total_records", LongType)))

  /** Envelope metadata (ingestion/lambda_ingestion.py:444-452). */
  val metadata: StructType = StructType(Seq(
    StructField("fetch_timestamp", StringType),
    StructField("total_symbols", LongType),
    StructField("source", StringType)))

  /** Old format: blocks under a `data` map. */
  val rawEnvelope: StructType = StructType(Seq(
    StructField("data", MapType(StringType, symbolBlock)),
    StructField("metadata", metadata)))

  /** New format: blocks at top level keyed by symbol — modeled as a
    * map of everything-but-metadata (read via a permissive map schema
    * and a metadata re-parse; see RawIngest). */
  val rawEnvelopeNew: StructType = StructType(Seq(
    StructField("metadata", metadata)))

  /** The normalized 16-column OHLCV record
    * (etl/lightweight_etl.py:63-80, CSV header :129-133). */
  val normalized: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("symbol_clean", StringType),
    StructField("resolution", StringType),
    StructField("timestamp_unix", LongType),
    StructField("timestamp_iso", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType),
    StructField("year", IntegerType),
    StructField("month", IntegerType),
    StructField("day", IntegerType),
    StructField("hour", IntegerType),
    StructField("fetch_timestamp", StringType),
    StructField("processed_at", StringType)))
}

/** A bare candle (positional wire format, typed). */
case class Candle(
    timestamp_unix: Long,
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Long)
