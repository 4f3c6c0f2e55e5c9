package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** INCREMENTAL paired-dataset curation — the streaming twin of q210's
  * mutual-margin pair mining (the last cross-modal batch query without
  * a live twin; the keyframe veto gate did it for dedup). Mutual
  * pairing is inherently two-sided, so the streamed object is the
  * BOUNDED decomposable stage: the capped candidate pair relation
  * ([[Similarity.cappedCandidatePairs]] — same-cell (caption, image)
  * pairs, cos_ppm > 0, image side cell-capped). Each modality's
  * micro-batch
  *
  *  1. lands its vectors into its OWN committed index (the IndexRead
  *     manifest protocol: marker-committed partitions, auto
  *     maintenance cadence, replay-safe dynamic overwrite), and
  *  2. probes the committed OTHER-modality index (manifest view —
  *     folded generations and all) for the capped candidate pairs its
  *     arrival creates, landing them replay-safely into its own pairs
  *     table.
  *
  * CONVERGENCE: a pair (a, b) is discovered by whichever side's batch
  * runs LATER — the earlier side is committed by then — so with the
  * two sinks' batches serialized in any order, the union of both pairs
  * tables equals the batch relation over the full corpora, each pair
  * discovered exactly once (a REPLAY against a since-grown other index
  * can re-discover pairs the other side also landed — a superset per
  * partition; the [[minedPairs]] view dedups on (a_id, b_id)).
  *
  * THE CAP is exact against the batch form when ids land in ascending
  * order (the mint-order landing convention): the image cap keeps the
  * lowest `cap` ids per cell, so under ascending arrival the
  * population prefix visible at any batch ranks every image exactly as
  * the final population does — the image sink ranks its batch within
  * committed ∪ batch ([[Similarity.cellCapSurvivors]]), never within
  * the batch alone. Under out-of-order landing the streamed relation
  * is still a valid capped relation (each discovery applied the cap
  * over the population visible at its time), but cap SLOTS can differ
  * from the batch form's — the spec pins the ascending contract.
  *
  * Scale shape per batch: one broadcast-codebook assignment of the
  * batch, one cell-keyed join against the other index (candidate mass
  * = |batch| · cell-capped other side — linear in the batch, never
  * |batch| · |index|), zero streaming state. The mutual top-1 / margin
  * resolution is an O(|pairs|) fold over [[minedPairs]] downstream —
  * re-runnable any time without touching a payload or an embedding. */
object PairStream {

  /** The caption-side sink: land caption vectors, discover pairs with
    * already-committed images (image side cell-capped within the
    * committed image population). */
  def captionPairBatchSink(
      captionIndexDir: String,
      imageIndexDir: String,
      pairsDir: String,
      codebook: DataFrame,
      maxCellCompare: Option[Long] = None,
      cadence: IndexRead.Cadence = IndexRead.Cadence()): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      val spark = batch.sparkSession
      landVectors(batch, captionIndexDir, batchId, cadence)
      val images = committedVectors(spark, imageIndexDir)
      // batch captions (A, uncapped) × committed images (B): the cap
      // ranks within the committed image population, which under
      // ascending arrival IS the final population's prefix
      val pairs = Similarity.cappedCandidatePairs(
        batch.select(col("vec_id"), col("embedding")), images, codebook, maxCellCompare)
      landPairs(pairs, pairsDir, batchId, cadence)
  }

  /** The image-side sink: land image vectors, discover pairs between
    * already-committed captions and the CAP-ELIGIBLE part of the batch
    * — eligibility ranked within committed ∪ batch, so a batch image
    * the population cap excludes never mints a pair. */
  def imagePairBatchSink(
      imageIndexDir: String,
      captionIndexDir: String,
      pairsDir: String,
      codebook: DataFrame,
      maxCellCompare: Option[Long] = None,
      cadence: IndexRead.Cadence = IndexRead.Cadence()): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      val spark = batch.sparkSession
      val own = batch.select(col("vec_id"), col("embedding"))
      landVectors(batch, imageIndexDir, batchId, cadence)
      val captions = committedVectors(spark, captionIndexDir)
      val eligibleBatch = maxCellCompare match {
        case None => own
        case Some(cap) =>
          // the landing above committed this batch, so the committed
          // view (own partition EXCLUDED, replay rule) ∪ batch is the
          // full image population at this point
          val population = committedVectorsExcluding(spark, imageIndexDir, batchId)
            .unionByName(own)
          own.join(
            Similarity.cellCapSurvivors(population, codebook, cap),
            Seq("vec_id"), "left_semi")
      }
      val pairs = Similarity.cappedCandidatePairs(
        captions, eligibleBatch, codebook, maxCellCompare = None)
      landPairs(pairs, pairsDir, batchId, cadence)
  }

  /** The union view of both sides' committed pairs tables, deduped on
    * (a_id, b_id) — replays against a since-grown other index can
    * re-discover a pair the other side also landed; cos_ppm is a pure
    * function of the two embeddings, so the full row dedups with it. */
  def minedPairs(spark: SparkSession, captionPairsDir: String, imagePairsDir: String): DataFrame = {
    import spark.implicits._
    def emptyPairs = Seq.empty[(Long, Long, Long)]
      .toDF("a_id", "b_id", "cos_ppm").withColumn("batch_id", lit(-1L))
    val cp = IndexRead.committedParquet(spark, captionPairsDir, -999L)(emptyPairs)
    val ip = IndexRead.committedParquet(spark, imagePairsDir, -999L)(emptyPairs)
    cp.unionByName(ip).select(col("a_id"), col("b_id"), col("cos_ppm")).distinct()
  }

  // ---- shared plumbing --------------------------------------------------

  private def emptyVectors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      .withColumn("batch_id", lit(-1L))
  }

  /** Committed manifest view of a vector index — the OTHER modality's
    * read path (nothing excluded: its batch-id sequence is a different
    * table's). Absent dir = that modality simply hasn't landed yet —
    * the one recoverable case (first batches); any read failure
    * propagates (the gate-contract rule). */
  private def committedVectors(spark: SparkSession, dir: String): DataFrame =
    IndexRead.committedParquet(spark, dir, -999L)(emptyVectors(spark))
      .select(col("vec_id"), col("embedding"))

  private def committedVectorsExcluding(
      spark: SparkSession, dir: String, batchId: Long): DataFrame =
    IndexRead.committedParquet(spark, dir, batchId)(emptyVectors(spark))
      .select(col("vec_id"), col("embedding"))

  /** Replay-safe landing of a batch's vectors under `batch_id=N` +
    * marker commit + maintenance tick — the standard gated-sink shape. */
  private def landVectors(
      batch: DataFrame, dir: String, batchId: Long, cadence: IndexRead.Cadence): Unit = {
    val spark = batch.sparkSession
    batch
      .select(col("vec_id"), col("embedding"))
      .withColumn("batch_id", lit(batchId))
      .write
      .partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(dir)
    IndexRead.commit(spark, dir, batchId)
    IndexRead.maintainAfterCommit(spark, dir, batchId, cadence)
  }

  private def landPairs(
      pairs: DataFrame, dir: String, batchId: Long, cadence: IndexRead.Cadence): Unit = {
    val spark = pairs.sparkSession
    pairs
      .withColumn("batch_id", lit(batchId))
      .write
      .partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(dir)
    IndexRead.commit(spark, dir, batchId)
    IndexRead.maintainAfterCommit(spark, dir, batchId, cadence)
  }
}
