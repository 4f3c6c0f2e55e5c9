package graft.streaming

import graft.ohlcv.{Normalize, OhlcvSchemas}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Structured-Streaming ingestion of raw OHLCV snapshots — the engine
  * replacement for the reference's EventBridge-cron Lambda loop
  * (SURVEY §2.7): a file source over the raw-JSON landing directory,
  * the same Normalize transform as batch, watermarked dedup of the
  * overlapping-fetch duplicates (T4), and a latest-price materialized
  * view (T5).
  *
  * Scale notes: the file source scales by listing parallelism +
  * maxFilesPerTrigger backpressure; dedup state is bounded by the
  * watermark (1 day of (symbol, ts) keys); latest-price state is one
  * row per symbol. Batch and streaming share the SAME transform
  * function — no dual implementations to drift.
  */
object OhlcvStream {

  /** T1: streaming scan of raw envelopes landing in `path`. */
  def readRawStream(spark: SparkSession, path: String, maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .option("multiLine", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(OhlcvSchemas.rawEnvelope)
      .json(path)
      .withColumn("source_file", input_file_name())

  /** Raw stream → normalized stream — literally the batch code path
    * (`RawIngest.blocks` + `Normalize.normalize`), so the layers
    * cannot drift. */
  def normalized(raw: DataFrame, processedAt: String): DataFrame =
    Normalize.normalize(graft.ohlcv.RawIngest.blocks(raw), processedAt)

  /** T4: drop overlapping-fetch duplicates under a watermark — each
    * 5-min fetch re-downloads the whole day, so (symbol, ts) repeats
    * across files; state expires 1 day past the event time. Note
    * `dropDuplicates` keeps the FIRST arrival (stream-order), the
    * streaming analogue of the batch D2 contract — with in-order
    * landing files the first arrival is the earliest fetch, so batch
    * replays running keep-latest stay authoritative (lambda
    * architecture: stream = fresh view, daily batch = truth). */
  def dedupedStream(normalizedStream: DataFrame): DataFrame =
    normalizedStream
      .withColumn("event_time", to_timestamp(from_unixtime(col("timestamp_unix"))))
      .withWatermark("event_time", "1 day")
      // event_time MUST be in the subset: Spark only purges streaming
      // dedup state when the watermarked column is part of the dedup
      // key. It is functionally determined by timestamp_unix, so the
      // dedup semantics are unchanged — but without it the watermark
      // is a no-op for cleanup and state grows forever.
      .dropDuplicates("symbol_clean", "timestamp_unix", "event_time")

  /** T2: IST trading-hours predicate (09:15–15:30 Mon–Fri,
    * ingestion/lambda_ingestion.py:28-58) on event time. Session TZ is
    * UTC; IST = UTC+05:30 exactly, so shift by 19800 s rather than
    * depending on server timezone data. */
  def tradingHours(eventTimeUnix: org.apache.spark.sql.Column): DataFrame => DataFrame = { df =>
    val ist = to_timestamp(from_unixtime(eventTimeUnix + 19800L))
    val mins = hour(ist) * 60 + minute(ist)
    df.filter(
      dayofweek(ist).between(2, 6) && // Mon..Fri
        mins.between(9 * 60 + 15, 15 * 60 + 30))
  }

  /** T5: latest candle per symbol as an update-mode aggregation —
    * max_by over the whole stream, state = one struct per symbol. */
  def latestPerSymbol(normalizedStream: DataFrame): DataFrame = {
    val payload = struct(
      col("timestamp_unix"), col("open"), col("high"), col("low"),
      col("close"), col("volume"), col("fetch_timestamp"))
    normalizedStream
      .groupBy(col("symbol_clean"))
      .agg(max_by(payload, struct(col("timestamp_unix"), col("fetch_timestamp"))).as("latest"))
      .select(col("symbol_clean"), col("latest.*"))
  }

  /** Watermarked tumbling-window aggregation on the stream: per
    * (symbol, 1h window) OHLCV rollup — the streaming twin of the
    * batch resample (A6). The 1-day watermark bounds state and lets
    * late candles (re-fetches) update their window until expiry;
    * append mode emits a window once the watermark passes it. */
  def windowedCandles(normalizedStream: DataFrame, windowLength: String): DataFrame = {
    val ts  = to_timestamp(from_unixtime(col("timestamp_unix")))
    val ord = struct(col("timestamp_unix"), col("fetch_timestamp"))
    normalizedStream
      .withColumn("event_time", ts)
      .withWatermark("event_time", "1 day")
      .groupBy(col("symbol_clean"), window(col("event_time"), windowLength))
      .agg(
        min_by(col("open"), ord).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), ord).as("close"),
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_candles"))
      .select(
        col("symbol_clean"),
        col("window.start").as("window_start"),
        col("open"), col("high"), col("low"), col("close"), col("volume"), col("n_candles"))
  }

  /** Watermarked SESSION-window aggregation: gap-bounded activity
    * bursts per key, the streaming twin of the batch gap-sessionizer
    * ([[graft.operators.Sessionize]], T6). Native `session_window`
    * keeps per-key open-session state that merges on overlap and
    * closes once the watermark passes `gap` of silence — state is
    * bounded by (open sessions × keys), not history. Append mode
    * emits each session exactly once, on close. */
  def sessionizedStream(
      events: DataFrame,
      key: Column,
      eventTime: Column,
      value: Column,
      gap: String,
      watermark: String = "1 day"): DataFrame =
    events
      .withColumn("event_time", eventTime)
      .withWatermark("event_time", watermark)
      .groupBy(key.as("key"), session_window(col("event_time"), gap))
      .agg(
        count(lit(1)).as("n_events"),
        sum(value.cast("decimal(28,4)")).cast("double").as("sum_value"))
      .select(
        col("key"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Wire the deduped stream to a partitioned parquet sink (the
    * streaming twin of Storage.writeParquet) with a processing-time
    * trigger matching the reference's 5-min cadence. */
  def parquetSink(deduped: DataFrame, outPath: String, checkpoint: String): DataStreamWriter[Row] =
    deduped
      .drop("event_time")
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("year", "month", "day", "symbol_clean")
      .trigger(Trigger.ProcessingTime("5 minutes"))
      .outputMode(OutputMode.Append)

  // Compaction thresholds of the sinks: a partition past 8 files is
  // rewritten to one file per 128 MiB.
  private val CompactMaxFiles    = 8
  private val CompactTargetBytes = 128L * 1024 * 1024

  /** One micro-batch of an APPEND-style ingest (the [[parquetSink]]
    * semantics — one new file per touched partition per batch, the
    * pathological small-file producer) PLUS the scheduled compaction
    * tick ([[compactionTick]]). */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      outPath: String,
      partCols: Seq[String],
      compactEvery: Long,
      compactMaxFiles: Int = CompactMaxFiles,
      compactTargetBytes: Long = CompactTargetBytes): Unit = {
    batch.write.mode("append").partitionBy(partCols: _*).parquet(outPath)
    compactionTick(batch.sparkSession, batchId, outPath, partCols,
      compactEvery, compactMaxFiles, compactTargetBytes)
  }

  /** Streaming UPSERT sink: each micro-batch merges into the table at
    * `outPath`, partitioned by `partCols`, via [[graft.operators
    * .Maintenance.upsertPartitions]] instead of blind-appending — late
    * or re-fetched candles REPLACE their earlier versions in place, so
    * the table holds exactly one row per key at every point in time
    * (the append sink defers that to a read-side dedup contract). The
    * serving layout partitions by `(day, symbol_clean)` so the REST
    * layer's symbol + date-range filters prune directories on every
    * request (the same pruning PlanSpec pins for the batch table).
    *
    * The plain parquet streaming sink cannot express this (appends
    * only); `foreachBatch` is the standard Spark bridge from a stream
    * to a batch writer. Write amplification per batch = the batch's
    * partition fan-out, and each rewritten tuple is left as one file.
    * Exactly-once: the merge is idempotent (greater-version-wins is a
    * set union), so a replayed batch after a crash converges to the
    * same table. The compaction tick fires once a day (every 288
    * five-minute batches, [[upsertBatch]]). */
  def upsertSink(
      deduped: DataFrame,
      outPath: String,
      checkpoint: String,
      partCols: Seq[String],
      keyCols: Seq[String],
      version: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): DataStreamWriter[Row] =
    deduped
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, batchId, outPath, partCols, keyCols, version, compactEvery = 288L)
      }

  /** One micro-batch of the upsert sink — the merge (which bootstraps a
    * missing table) plus the scheduled compaction tick. Public so a caller
    * without a live stream (perfbench's `rest_live` writer) runs the
    * EXACT production batch body. */
  def upsertBatch(
      batch: DataFrame,
      batchId: Long,
      outPath: String,
      partCols: Seq[String],
      keyCols: Seq[String],
      version: String,
      compactEvery: Long): Unit = {
    graft.operators.Maintenance.upsertPartitions(
      batch.sparkSession, outPath, batch, partCols, keyCols, version)
    compactionTick(batch.sparkSession, batchId, outPath, partCols,
      compactEvery, CompactMaxFiles, CompactTargetBytes)
  }

  /** The scheduled small-file compaction riding the batch cadence:
    * every `compactEvery` committed batches (`<= 0` disables) the
    * fragmented partitions are rewritten in place, so a year of
    * 5-minute batches (~10⁵) keeps serving reads (`/latest`,
    * `/analytics`) flat in table age with NO manual pass (ServeScale
    * round-10: 720 files → 1.22 s vs 90 → 0.54 s on the same rows).
    * The reference schedules this externally
    * (`infra/main-mvp.tf:464-515` EventBridge crons). A failed tick is
    * logged and skipped, never fails the batch: the batch's own write
    * is already durable, [[graft.operators.Maintenance
    * .compactPartitions]] rewrites partition-by-partition through
    * dynamic overwrite (each rewrite crash-safe under the S3 contract —
    * S3ContractSpec), and the next due tick retries. */
  private def compactionTick(
      spark: SparkSession,
      batchId: Long,
      outPath: String,
      partCols: Seq[String],
      compactEvery: Long,
      maxFiles: Int,
      targetBytes: Long): Unit =
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      try {
        // the rewrites run eagerly inside compactPartitions; the
        // returned report relation is driver-local already
        graft.operators.Maintenance.compactPartitions(
          spark, outPath, partCols, maxFiles, targetBytes)
        ()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[ohlcv] compaction tick FAILED at batch $batchId ($outPath) — " +
              s"batch unaffected, next tick retries: $e")
      }
    }
}
