package graft.streaming

import graft.operators.{Multimodal, TextDedup}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType, TimestampType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming IMAGE ingestion — the multimodal twin of [[DocStream]]
  * (text) and [[VecStream]] (embeddings): images land continuously and
  * each micro-batch is perceptual-dedup-gated against the GROWING
  * index of every fingerprint already admitted. Stream and batch share
  * ONE definition of "near-duplicate image": [[Multimodal.aHash64]] +
  * the banded hamming machinery the batch path oracle-checks
  * (q163/q164).
  *
  * State lives in the fingerprint index TABLE (8 bytes per admitted
  * image + id), never the streaming state store — the gate is a
  * stateless banded join per batch, so streaming state cannot grow
  * with the corpus. Each image is DECODED EXACTLY ONCE per batch (the
  * hash relation is computed up front and reused by both dedup
  * layers); the index side joins on (band, value) keys, cost ∝
  * |batch| · collision rate, never |batch| · |index|.
  */
object MediaStream {

  /** Landed-media envelope: id, PNG payload, landing time. Parquet,
    * not JSON — binary payloads are first-class in parquet and the
    * file-stream source replays it exactly. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType),
    StructField("ingest_ts", TimestampType)))

  /** Schema'd streaming read of landed media parquet. */
  def readMediaStream(spark: SparkSession, glob: String, maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(mediaSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(glob)

  /** foreachBatch stage: aHash-gate each micro-batch against the
    * growing fingerprint index at `historyDir`, admit only perceptually
    * novel images, and land (doc_id, sh) under the batch's own
    * `batch_id=N` partition so the NEXT batch gates against them too.
    *
    * Two-layer contract per batch (the [[VecStream]] split):
    *  1. WITHIN the batch: keep-lowest-id per near-dup pair — a doc
    *     within `maxHamming` of any LOWER batch id drops (the
    *     keep-earliest chain [[graft.operators.Similarity.semDedupVerdicts]]
    *     uses);
    *  2. ACROSS runs: survivors probe the index
    *     ([[TextDedup.simhashProbeIndex]]) and drop on any hit.
    *
    * REPLAY-SAFE exactly like [[VecStream.semDedupGatedBatchSink]]:
    * the index is read EXCLUDING the current batch's own partition and
    * the write dynamic-partition-OVERWRITES that partition, so a
    * redelivered batch recomputes the same admit set in place. */
  def aHashGatedBatchSink(
      historyDir: String,
      maxHamming: Int,
      bands: Int = 8,
      cadence: IndexRead.Cadence = IndexRead.Cadence()): (DataFrame, Long) => Unit = { (batch, batchId) =>
    // decode once per image: the hash relation feeds THREE consumers
    // (the pair self-join, the index probe, the final write), and
    // Spark has no common-subtree reuse outside ReusedExchange — only
    // the persist makes the decode-once contract true
    hammingGateAndLand(Multimodal.aHash64(batch), historyDir, maxHamming, bands, batchId, cadence)
  }

  /** The audio twin of [[aHashGatedBatchSink]]: WAV clips land
    * continuously, each micro-batch is container-decoded ONCE
    * ([[Multimodal.decodeAudioFrames]] — real PCM), barcoded
    * ([[Multimodal.audioHash64]]) and gated through the IDENTICAL
    * two-layer hamming machinery against its own growing index.
    * Stream and batch share one definition of "near-duplicate clip"
    * (q201/q202's). */
  def audioGatedBatchSink(
      historyDir: String,
      maxHamming: Int,
      bands: Int = 8,
      cadence: IndexRead.Cadence = IndexRead.Cadence()): (DataFrame, Long) => Unit = { (batch, batchId) =>
    // the decoded-frames relation feeds envelopeHash64 TWICE (the
    // per-clip max aggregation AND the resampled join-back) — without
    // this persist every WAV payload is container-decoded twice per
    // batch; the persist in hammingGateAndLand lands only on the final
    // (doc_id, sh) fingerprints, AFTER both decodes would have run
    val frames = Multimodal.decodeAudioFrames(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try hammingGateAndLand(
      Multimodal.audioHash64(frames), historyDir, maxHamming, bands, batchId, cadence)
    finally { frames.unpersist(); () }
  }

  /** The video twin: AVI clips container-walked + frame-decoded ONCE
    * ([[Multimodal.decodeVideoFrames]]), barcoded over the luma
    * envelope ([[Multimodal.videoHash64]] — the same thermometer core
    * as audio), gated through the identical machinery. Every media
    * modality now has an ingest gate sharing one definition of
    * "near-duplicate" with its batch pair queries (q205/q206's). */
  def videoGatedBatchSink(
      historyDir: String,
      maxHamming: Int,
      bands: Int = 8,
      cadence: IndexRead.Cadence = IndexRead.Cadence()): (DataFrame, Long) => Unit = { (batch, batchId) =>
    // same decode-once persist as the audio sink — envelopeHash64
    // reads its input twice, and an AVI chunk-walk + per-frame PNG
    // decode is the most expensive step in the whole gate
    val frames = Multimodal.decodeVideoFrames(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try hammingGateAndLand(
      Multimodal.videoHash64(frames), historyDir, maxHamming, bands, batchId, cadence)
    finally { frames.unpersist(); () }
  }

  /** CROSS-MODAL video ingest gate — q209/q213's streaming twin: each
    * micro-batch of AVI clips is keyframe-sampled (pure container
    * walk, no transcode), the stills are aHashed in the IMAGE corpus's
    * own 64-bit space, and a clip is VETOED when any still near-dups
    *  (a) the admitted IMAGE index at `imageIndexDir` (a FOREIGN
    *      modality's committed index, read-only here), or
    *  (b) a keyframe of an already-admitted CLIP in this sink's own
    *      growing index at `historyDir`, or
    *  (c) a keyframe of a LOWER-id clip in the same batch (the
    *      keep-lowest within-batch rule every gate uses).
    * Survivors land their keyframe fingerprints (packed kf id, sh)
    * under `batch_id=N` — replay-safe like every gate: the own index
    * is read excluding the batch's partition and the write
    * dynamic-overwrites it. The image index may have GROWN between a
    * crash and its replay; the veto set only grows with it, so a
    * replay admits a subset and the overwrite keeps the partition
    * consistent — strictly-stricter, never a duplicate admission. */
  def keyframeVetoGatedBatchSink(
      historyDir: String,
      imageIndexDir: String,
      maxHamming: Int,
      everyK: Int = 4,
      bands: Int = 8,
      cadence: IndexRead.Cadence = IndexRead.Cadence()): (DataFrame, Long) => Unit = { (batch, batchId) =>
    val spark = batch.sparkSession
    import spark.implicits._
    // the FOREIGN index's absence must fail the batch LOUDLY: unlike
    // the own index (absent only before batch 0, then created by this
    // very sink), a missing/misconfigured image-index path is never
    // self-healing — gating against the empty fallback would admit
    // near-dups of every admitted image forever, silently (the exact
    // hazard the hammingGateAndLand contract documents). The batch
    // fails and replays until the path is fixed.
    require(
      new org.apache.hadoop.fs.Path(imageIndexDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(imageIndexDir)),
      s"image index not found at $imageIndexDir — a missing foreign index " +
        "would silently disable the cross-modal veto; fix the path (or land " +
        "the image index first)")
    val kf = Multimodal.videoKeyframes(batch, everyK)
    // one container walk + one hash pass per batch, reused by all
    // three veto layers AND the final landing write
    val kfHashes = Multimodal.aHash64(
        kf.select(
          Multimodal.keyframeId(col("doc_id"), col("frame_idx")).as("doc_id"),
          col("payload")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // EXACT layer first (the hammingGateAndLand discipline — a
      // dup-dense batch must never pay |group|² band candidates): one
      // rep per distinct hash; every batch clip holding a hash whose
      // rep belongs to a LOWER clip is exact-vetoed, and the banded
      // pair join + both index probes run on REPS only. Provably the
      // same veto set: reps carry every distinct hash, and group
      // members inherit their rep's collisions (identical hash).
      val reps = kfHashes.groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exactVeto = kfHashes.as("m")
        .join(reps.select(col("sh"), col("doc_id").as("__rep")), "sh")
        .filter(Multimodal.keyframeVideoId(col("m.doc_id")) =!=
          Multimodal.keyframeVideoId(col("__rep")))
        .select(Multimodal.keyframeVideoId(col("m.doc_id")).as("video_id"))
      // (c) within-batch cross-clip near-dups over reps: packed ids
      // order by (video, frame), so doc_a < doc_b implies
      // video_a <= video_b — the HIGHER clip drops
      val withinVeto = TextDedup
        .simhashPairsFromHashes(reps, maxHamming, bands)
        .filter(
          Multimodal.keyframeVideoId(col("doc_a")) =!=
            Multimodal.keyframeVideoId(col("doc_b")))
        .select(Multimodal.keyframeVideoId(col("doc_b")).as("video_id"))
      // a probe hit on a rep vetoes EVERY batch clip holding that
      // hash (group members share it), not just the rep's own clip
      def expandToVideos(hitReps: DataFrame): DataFrame =
        hitReps.join(reps, "doc_id").select(col("sh"))
          .join(kfHashes, "sh")
          .select(Multimodal.keyframeVideoId(col("doc_id")).as("video_id"))
      // (a) the foreign image index — committed view, nothing excluded
      // (image batch ids live in a different table's sequence)
      val imageIndex = IndexRead.committedParquet(spark, imageIndexDir, -999L)(
          Seq.empty[(Long, Long)].toDF("doc_id", "sh").withColumn("batch_id", lit(-1L)))
        .select(col("doc_id"), col("sh"))
      val imageVeto = expandToVideos(TextDedup
        .simhashProbeIndex(reps, imageIndex, maxHamming, bands)
        .select(col("doc_id")))
      // (b) own growing index of admitted clips' keyframes
      val ownIndex = IndexRead.committedParquet(spark, historyDir, batchId)(
          Seq.empty[(Long, Long)].toDF("doc_id", "sh").withColumn("batch_id", lit(-1L)))
        .select(col("doc_id"), col("sh"))
      val ownVeto = expandToVideos(TextDedup
        .simhashProbeIndex(reps, ownIndex, maxHamming, bands)
        .select(col("doc_id")))
      val vetoed = exactVeto.unionByName(withinVeto)
        .unionByName(imageVeto).unionByName(ownVeto).distinct()
      try {
        kfHashes
          .withColumn("video_id", Multimodal.keyframeVideoId(col("doc_id")))
          .join(vetoed, Seq("video_id"), "left_anti")
          .select(col("doc_id"), col("sh"))
          .withColumn("batch_id", lit(batchId))
          .write
          .partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(historyDir)
        IndexRead.commit(spark, historyDir, batchId)
        IndexRead.maintainAfterCommit(spark, historyDir, batchId, cadence)
      } finally { reps.unpersist(); () }
    } finally { kfHashes.unpersist(); () }
  }

  /** Shared gate body over a (doc_id, sh) fingerprint relation — the
    * image, audio and video sinks differ ONLY in how `sh` is computed. */
  private def hammingGateAndLand(
      fingerprints: DataFrame,
      historyDir: String,
      maxHamming: Int,
      bands: Int,
      batchId: Long,
      cadence: IndexRead.Cadence): Unit = {
    val spark = fingerprints.sparkSession
    import spark.implicits._
    val hashed = fingerprints
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // EXACT layer first (the text-dedup discipline): identical
      // fingerprints collapse to their keep-min representative in one
      // hash-agg BEFORE the banded pair join. Provably the same admit
      // set — the drop rule "∃ lower id within maxHamming" depends
      // only on (id, sh), and every exact group's representative
      // carries the group-minimum id with the identical hash — but a
      // dup-dense batch (the ingest steady state) no longer pays
      // |group|² candidates per hot band bucket: measured 43× at 10×
      // data without this (ScaleBench media_gate, SCALING.md).
      val reps = hashed.groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
      val withinDropped = TextDedup
        .simhashPairsFromHashes(reps, maxHamming, bands)
        .select(col("doc_b").as("doc_id"))
      val keepers = reps
        .join(withinDropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("sh"))
      // ONLY first-batch absence of the index dir is recoverable — a
      // transient read failure (throttle, corrupt footer) must fail
      // the batch loudly, or near-dups of admitted media are gated
      // against an empty index and admitted forever, silently.
      // committed-only view: a partition mid-write or orphaned by a
      // kill has no _commits marker and is invisible here (own
      // partition excluded for replay either way)
      val priorIndex = IndexRead.committedParquet(spark, historyDir, batchId)(
          Seq.empty[(Long, Long)].toDF("doc_id", "sh").withColumn("batch_id", lit(-1L)))
        .select(col("doc_id"), col("sh"))
      val dupIds = TextDedup
        .simhashProbeIndex(keepers, priorIndex, maxHamming, bands)
        .select(col("doc_id"))
      keepers
        .join(dupIds, Seq("doc_id"), "left_anti")
        .withColumn("batch_id", lit(batchId))
        .write
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(historyDir)
      // the partition is complete — one marker PUT makes it visible
      IndexRead.commit(spark, historyDir, batchId)
      IndexRead.maintainAfterCommit(spark, historyDir, batchId, cadence)
    } finally { hashed.unpersist(); () }
  }

  /** Wire [[aHashGatedBatchSink]] onto a media stream. */
  def startAHashIngest(
      media: DataFrame,
      historyDir: String,
      checkpointDir: String,
      maxHamming: Int,
      bands: Int = 8,
      cadence: IndexRead.Cadence = IndexRead.Cadence()): StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(aHashGatedBatchSink(historyDir, maxHamming, bands, cadence))
      .start()
}
