package graft.operators

import graft.ohlcv.Storage
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Table maintenance for partitioned parquet tables: partition-pruned
  * upsert (merge-on-write) and small-file compaction. Extension beyond
  * the reference — its Glue job rewrites whole tables; at 100 TB the
  * only affordable write amplification is "touch exactly the
  * partitions the batch touches".
  *
  * Both operators follow the same discipline:
  *   1. decide the affected partition tuples from the update batch
  *      (evaluated once) or from the file census — never a full-table
  *      scan;
  *   2. open the table once and read ONLY those tuples through one
  *      [[Storage.inPartitions]] set filter, which Spark turns into
  *      partition pruning (the mechanism PlanSpec pins for the OHLCV
  *      table); an upsert into a missing table has nothing to read;
  *   3. rewrite ONLY those tuples via dynamic partition overwrite
  *      (`partitionOverwriteMode=dynamic`), leaving every other
  *      partition's files physically untouched: one file per tuple for
  *      the upsert ([[Storage.clusteredWrite]]), ⌈bytes/target⌉ for
  *      compaction.
  *
  * Neither is expressible as a pure query (they are writers), so like
  * the other sinks (S7–S11) their contract is spec-pinned:
  * `MaintenanceSpec` asserts both the logical result AND that
  * untouched partitions keep their exact file lists.
  */
object Maintenance {

  /** Hard ceiling on an upsert batch's distinct-partition fan-out into
    * an existing table. The touched tuples are collected, carried as
    * literals in the scan's partition filter and rewritten by one
    * dynamic-overwrite job; past a few thousand a batch is a bulk
    * rewrite, which belongs to a first write or [[compactPartitions]],
    * not to a merge. */
  val MaxUpsertPartitionFanout = 4096

  /** Partition-pruned upsert: merge `updates` into the parquet table at
    * `path` partitioned by `partCols` — e.g. a serving table laid out
    * `(day, symbol_clean)` so the REST layer's symbol + range filters
    * prune at the directory level. Key identity is `keyCols`; when both
    * sides have a key, the row with the greater `version` wins (updates
    * win ties — the batch is the newer truth).
    *
    * The touched set is the batch's distinct partition TUPLES; only
    * those directories are read (one [[Storage.inPartitions]] set) and
    * rewritten, clustered by tuple ([[Storage.clusteredWrite]]): one
    * file per rewritten tuple. When `path` does not exist yet the merge
    * has no existing side, so the first write is the batch deduped by
    * the same rule, with no fan-out cap. `updates` is evaluated once:
    * unless the caller already persisted it, it is persisted for the
    * call and released on every exit (Spark's persist-write-unpersist
    * pattern for `foreachBatch`). Returns the rewritten tuples. */
  def upsertPartitions(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      partCols: Seq[String],
      keyCols: Seq[String],
      version: String): Seq[Seq[Any]] = {
    require(partCols.nonEmpty, "partCols must be non-empty")
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(
      partCols.forall(updates.columns.contains) && keyCols.forall(updates.columns.contains),
      s"updates must carry partition columns $partCols and keys $keyCols")
    val ownPersist = updates.storageLevel == StorageLevel.NONE
    if (ownPersist) updates.persist()
    try {
      val touched = updates.select(partCols.map(col): _*).distinct()
        .collect().map(_.toSeq).toIndexedSeq
      if (touched.isEmpty) return touched
      val root = new Path(path)
      val merged =
        if (!root.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(root))
          Dedup.keepLatest(updates, keyCols.map(col), Seq(col(version)))
        else {
          require(touched.size <= MaxUpsertPartitionFanout,
            s"upsert batch touches ${touched.size} partitions (> $MaxUpsertPartitionFanout); " +
              "split the batch or coarsen the partition key")
          val table    = spark.read.parquet(path)
          val existing = table.filter(Storage.inPartitions(table, partCols, touched))
          // updates win ties via a side marker ordered AFTER version
          Dedup.keepLatest(
            existing.withColumn("__src", lit(0))
              .unionByName(updates.withColumn("__src", lit(1))),
            keyCols.map(col),
            Seq(col(version), col("__src")))
            .drop("__src")
        }
      // per-write dynamic option, NOT a session conf set (a leaked
      // session-level 'dynamic' would change unrelated static writes)
      Storage.clusteredWrite(merged, partCols)
        .mode("overwrite") // dynamic: replaces ONLY partitions present in `merged`
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
      touched
    } finally if (ownPersist) updates.unpersist(blocking = true)
  }

  /** Per-partition file census of a Hive-partitioned table — the
    * metadata scan both maintenance ops and a human operator consult.
    * Returns (partition, n_files, total_bytes, min_bytes, max_bytes)
    * as a DISTRIBUTED relation: one level of `col=value` directories
    * per partition column, leaf stats per full tuple. `partition` is
    * the relative Hive path (`day=2024-01-01/sym=A`).
    *
    * Scale shape: the driver lists ONLY the first partition level
    * (its cardinality — days, typically — is the one a layout keeps
    * small); every level below is walked ON EXECUTORS, so a
    * ~500 k-partition/year census scales out instead of funneling one
    * listStatus RPC per partition through the driver. The result is a
    * DataFrame, not a driver collection — consumers decide what (if
    * anything) to materialize. Executors reach the filesystem via the
    * standard Hadoop config discovery (core-site on the classpath),
    * the same mechanism every executor-side read already relies on. */
  def partitionFileStats(spark: SparkSession, path: String, partCols: Seq[String]): DataFrame = {
    import spark.implicits._
    require(partCols.nonEmpty, "partCols must be non-empty")
    val fs   = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.resolvePath(new Path(path))
    val firstLevel = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(s"${partCols.head}="))
      .map(_.getPath.toString).toIndexedSeq
    val rootUri  = root.toUri
    val restCols = partCols.drop(1)
    // the SESSION's Hadoop config must reach the executor listings —
    // object-store credentials/endpoints usually live in spark.hadoop.*
    // (session conf), not classpath core-site; ship the entries and
    // rebuild (Configuration itself is not serializable)
    val confEntries: Seq[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b  = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    spark.sparkContext
      .parallelize(firstLevel, math.max(1, math.min(firstLevel.size, 64)))
      .flatMap { dirStr =>
        val top  = new Path(dirStr)
        val hc   = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => hc.set(k, v) }
        val efs = top.getFileSystem(hc)
        def leaves(q: Path, level: Int): Seq[Path] =
          if (level == restCols.length) Seq(q)
          else efs.listStatus(q).toIndexedSeq
            .filter(d => d.isDirectory && d.getPath.getName.startsWith(s"${restCols(level)}="))
            .flatMap(d => leaves(d.getPath, level + 1))
        leaves(top, 0).map { leaf =>
          val files = efs.listStatus(leaf)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          val sizes = files.map(_.getLen)
          (rootUri.relativize(leaf.toUri).getPath.stripSuffix("/"),
            files.length.toLong,
            sizes.sum,
            if (sizes.isEmpty) 0L else sizes.min,
            if (sizes.isEmpty) 0L else sizes.max)
        }
      }
      .toDF("partition", "n_files", "total_bytes", "min_bytes", "max_bytes")
  }

  /** Small-file compaction: rewrite every partition whose file count
    * exceeds `maxFiles` down to ⌈bytes/targetBytes⌉ files (≥ 1).
    * Partitions already compact are not read or written. The
    * pathological producer is streaming ingest (one file per
    * micro-batch per partition); the fix is this periodic rewrite,
    * exactly the strategy table formats run as "optimize".
    *
    * Returns (partition, files_before, files_target) for the rewritten
    * partitions. Rewrites go partition-by-partition through dynamic
    * overwrite with an explicit `repartition(n)` — n chosen from
    * MEASURED bytes, not a global constant, so a hot partition keeps
    * parallelism while a cold one collapses to one file. The table is
    * opened (listed) once per run: each partition is read before its
    * own rewrite and never after it.
    *
    * `partition` is the relative Hive path (`day=2024-01-01/sym=A`):
    * with the streaming upsert's serving layout `(day, symbol_clean)`
    * only the fragmented (day, symbol) tuples are rewritten. */
  def compactPartitions(
      spark: SparkSession,
      path: String,
      partCols: Seq[String],
      maxFiles: Int,
      targetBytes: Long,
      maxPartitionsPerRun: Int = 1024): DataFrame = {
    import spark.implicits._
    require(maxFiles >= 1 && targetBytes > 0, s"bad thresholds: $maxFiles/$targetBytes")
    require(maxPartitionsPerRun >= 1, s"maxPartitionsPerRun must be >= 1: $maxPartitionsPerRun")
    // Bounded planning: the census stays a distributed relation; the
    // driver materializes ONLY the `maxPartitionsPerRun` MOST
    // fragmented offenders (worst-first, deterministic tiebreak) —
    // never the full ~500 k-partition census. Anything left over is
    // simply picked up by the next run, which is exactly how a
    // periodic optimizer should drain a backlog.
    val todo = partitionFileStats(spark, path, partCols)
      .filter(col("n_files") > maxFiles)
      .orderBy(desc("n_files"), asc("partition"))
      .limit(maxPartitionsPerRun)
      .collect()
      .map { r =>
        val bytes = r.getAs[Long]("total_bytes")
        (r.getAs[String]("partition"),
          r.getAs[Long]("n_files"),
          math.max(1L, (bytes + targetBytes - 1) / targetBytes))
      }
    lazy val table = spark.read.parquet(path) // listed on the first rewrite, once
    todo.foreach { case (partPath, _, nOut) =>
      // `day=2024-01-01/sym=A` → the one tuple (2024-01-01, A)
      val (cols, values) = partPath.split("/").toIndexedSeq.map { seg =>
        val Array(c, v) = seg.split("=", 2)
        c -> java.net.URLDecoder.decode(v, "UTF-8")
      }.unzip
      val pred = Storage.inPartitions(table, cols, Seq(values))
      // per-write dynamic option, NOT a session conf set — a leaked
      // session-level 'dynamic' would silently change unrelated
      // static-overwrite writes for the rest of the job
      table
        .filter(pred)
        .repartition(nOut.toInt)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCols: _*).parquet(path)
    }
    todo.toIndexedSeq.toDF("partition", "files_before", "files_target")
  }

  // ---- Incremental materialized-aggregate maintenance --------------

  /** Partial-aggregate STATE of a per-key rollup: (key, n_rows,
    * sum_x100, min_x100, max_x100) with the value quantized to exact
    * integer centi-units (`round(v·100)` — the events/lineitem value
    * grid) — the MERGEABLE representation an incremental materialized
    * view stores. Every component is associative-commutative, so
    * state(old ∪ delta) == [[mergeAggregateStates]](state(old),
    * state(delta)) exactly, with no floating-point drift: the whole
    * point of keeping sums in int64 instead of doubles. */
  def aggregateState(rows: DataFrame, key: Column, value: Column): DataFrame =
    rows
      .select(key.as("key"), round(value * 100).cast("long").as("__x"))
      .groupBy(col("key"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("__x")).as("sum_x100"),
        min(col("__x")).as("min_x100"),
        max(col("__x")).as("max_x100"))

  /** Merge aggregate states — incremental view maintenance: the
    * nightly rollup absorbs a delta batch by merging two small state
    * relations instead of rescanning history. At 100 TB this is the
    * difference between an O(|delta|) refresh and an O(|table|)
    * recompute; correctness is oracle-gated against the full direct
    * aggregate (q148). One |keys|-sized shuffle, nothing else. */
  def mergeAggregateStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("key"))
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("sum_x100")).as("sum_x100"),
        min(col("min_x100")).as("min_x100"),
        max(col("max_x100")).as("max_x100"))

  /** Snapshot diff — the data-versioning audit between two table
    * versions: per key, `added` (new only), `removed` (old only) or
    * `changed` (payload differs); unchanged rows are suppressed.
    * `payload` is any comparable expression (typically a hash/struct
    * of the compared columns). One full-outer key join; at scale both
    * snapshots are key-partitioned so the join co-locates. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: Column, payload: Column): DataFrame = {
    // Presence is an EXPLICIT per-side flag, not payload nullness: a
    // present key whose payload evaluates to NULL must not read as
    // added/removed, and NULL-vs-value payloads must compare CHANGED
    // (=!= yields NULL there and would silently suppress the row) —
    // hence the null-safe <=> negated.
    val o = oldDf.select(key.as("key"), payload.as("__po"), lit(true).as("__eo"))
    val n = newDf.select(key.as("key"), payload.as("__pn"), lit(true).as("__en"))
    o.join(n, Seq("key"), "full_outer")
      .withColumn(
        "status",
        when(col("__eo").isNull, "added")
          .when(col("__en").isNull, "removed")
          .when(!(col("__po") <=> col("__pn")), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col("key"), col("status"))
  }
}
