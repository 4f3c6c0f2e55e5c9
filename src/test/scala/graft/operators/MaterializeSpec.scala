package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkInternals

/** The one materialization policy ([[Materialize]]): truncation is
  * reliable exactly when the deployment set a checkpoint directory,
  * and what an operator materializes is released — superseded rounds
  * as it goes, everything live when it throws. */
class MaterializeSpec extends SparkSpec {

  // a lost executor takes its blocks with it: free the blocks of the
  // RDD behind the truncation's leaf, as the loss would
  private def loseBlocks(df: DataFrame): Unit = df.queryExecution.logical match {
    case leaf: LogicalRDD => leaf.rdd.unpersist(blocking = true); ()
    case other            => fail(s"not a truncation leaf: ${other.nodeName}")
  }

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  test("truncate survives a lost block only when reliable") {
    val s = spark; import s.implicits._
    val sc   = spark.sparkContext
    val rows = spark.range(100).toDF("x")
    assert(sc.getCheckpointDir.isEmpty)
    val local = Materialize.truncate(rows, eager = true)
    loseBlocks(local)
    val e = intercept[Exception](local.collect())
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), e)

    sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    try {
      val reliable = Materialize.truncate(rows, eager = true)
      loseBlocks(reliable)
      assert(reliable.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L))
      // starContract's eager and lazy truncations take the same policy
      val pairs = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("doc_a", "doc_b")
      assert(TextDedup.starContract(pairs)._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
    } finally SparkInternals.clearCheckpointDir(sc)
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("starContract holds two truncations, not one per round") {
    val s = spark; import s.implicits._
    val chain  = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (labels, rounds) = TextDedup.starContract(chain)
    val held = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(rounds >= 3, s"the chain closed in $rounds rounds; it must need several")
    // the canonicalized input (selfOnly reads it) and the final round
    assert(held.size === 2, s"$rounds rounds left ${held.size} cached RDDs")
    assert(labels.count() === 100)
  }

  test("bpeTrain releases its vocab when it throws") {
    val s = spark; import s.implicits._
    val boom = udf { (t: String) =>
      if (t != null) throw new IllegalStateException("unreadable text")
      t
    }
    val docs   = Seq("aa ab", "ab ba").toDF("text")
    val before = SparkInternals.cachedEntries(spark)
    intercept[Exception](TextAnalysis.bpeTrain(docs, boom(col("text")), nMerges = 3, minCount = 1))
    assert(SparkInternals.cachedEntries(spark) === before)
  }
}
