package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one materialization policy: every intermediate it keeps
  * (query-pack artifacts, in-plan truncations, iterative rounds,
  * per-call and per-batch persists) takes its storage level, its kind
  * of lineage truncation and its release from here. */
object Materialize {

  /** Storage level of every materialization in this JVM: MEMORY_AND_DISK
    * by default; scale-suite runs set SPARK_GRAFT_ARTIFACT_LEVEL=DISK_ONLY
    * so the heap holds the working set, not the corpus-sized union. */
  lazy val level: StorageLevel =
    sys.env.get("SPARK_GRAFT_ARTIFACT_LEVEL").map(_.trim.toUpperCase(java.util.Locale.ROOT)) match {
      case Some("DISK_ONLY") => StorageLevel.DISK_ONLY
      case Some("MEMORY_AND_DISK") | None => StorageLevel.MEMORY_AND_DISK
      case Some(other) =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_ARTIFACT_LEVEL must be DISK_ONLY or MEMORY_AND_DISK (got '$other')")
    }

  /** Truncate `df`'s lineage to one leaf over its materialized rows.
    * Reliable (files that survive executor loss) when the deployment set
    * a checkpoint directory, local executor blocks at [[level]]
    * otherwise. Lazy (`eager = false`) lets the first action over the
    * result materialize it, one job where eager + action pays two. */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager, level)

  /** Run `use` over `df` persisted at [[level]] (a caller's own persist
    * is left to the caller) and release that persist on every exit. */
  def scoped[T](df: DataFrame)(use: DataFrame => T): T = {
    val own = df.storageLevel == StorageLevel.NONE
    if (own) df.persist(level)
    try use(df)
    finally if (own) df.unpersist(blocking = true)
  }

  /** Free `df`'s blocks, persisted or [[truncate]]d. `unpersist` alone
    * leaves a truncation's blocks: they belong to the RDD behind the
    * `LogicalRDD` leaf, which is freed only when `df`'s plan IS that
    * leaf, so releasing a frame derived from a truncation never frees
    * the truncation under it. */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = true)
    df.queryExecution.logical match {
      case leaf: LogicalRDD => leaf.rdd.unpersist(blocking = true); ()
      case _                => ()
    }
  }
}
