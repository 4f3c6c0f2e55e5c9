package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, dir) materialized-intermediate cache — the local
  * analogue of a 100 TB pipeline's compute-once-read-forever stage
  * outputs (signatures, rollups, codebooks). Shared by the query packs.
  *
  * Entries for stopped sessions are pruned on every access: a
  * WeakHashMap alone never frees them, because the cached DataFrame
  * VALUES strongly reference their own SparkSession key (a value → key
  * strong reference defeats key weakness per the WeakHashMap
  * contract).
  *
  * LIFECYCLE (the round-12 ×100 heap finding): resident artifacts are
  * ∝ corpus, so a suite run over a big corpus must be able to (a) park
  * them on disk instead of heap — `SPARK_GRAFT_ARTIFACT_LEVEL=DISK_ONLY`
  * flips every artifact's storage level for the JVM, matching what a
  * real pipeline does with stage outputs (they live in the object
  * store, not executor memory) — and (b) RELEASE them between suite
  * chunks via [[DirCached.releaseAll]], once a chunk's last consumer
  * ran. Heap then sizes to the working set of one chunk, not the
  * union of every chunk's artifacts. */
private[graft] final class DirCached(val name: String) {
  DirCached.register(this)

  private val cache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, DataFrame]]

  def apply(s: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    cache.synchronized {
      val it = cache.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
      var perDir = cache.get(s)
      if (perDir == null) {
        perDir = scala.collection.mutable.Map.empty[String, DataFrame]
        cache.put(s, perDir)
      }
      perDir.getOrElseUpdate(dir, {
        // Materialize EAGERLY and time it (r15, VERDICT r14 item 2:
        // per-artifact build seconds, so warm-total improvements can't
        // silently come from shifting compute into untagged shared
        // artifacts). `build` runs first — nested artifact builds land
        // in their OWN timers — then the count forces this artifact's
        // cache batches; the cost still lands in the FIRST consumer's
        // run (apply is called at query-construction time, inside any
        // caller's timed region), it is just attributed by name now.
        // A build that fails is unpersisted before the error propagates,
        // so no cached copy outlives it and a retry persists only its own.
        val df = build.persist(DirCached.level)
        val t0 = System.nanoTime()
        try df.count()
        catch { case e: Throwable => df.unpersist(blocking = true); throw e }
        DirCached.recordBuild(name, dir, (System.nanoTime() - t0) / 1e9)
        df
      })
    }

  /** Unpersist + drop this cache's entries for `s`. Returns how many
    * artifacts were released. Blocking=false: the executor frees the
    * blocks asynchronously; the next consumer (if any — callers release
    * AFTER the last one) would simply rebuild. */
  private[graft] def release(s: SparkSession): Int =
    cache.synchronized {
      val perDir = cache.remove(s)
      if (perDir == null) 0
      else {
        perDir.values.foreach(df => scala.util.Try(df.unpersist(blocking = false)))
        perDir.size
      }
    }
}

private[graft] object DirCached {
  // every DirCached is a static singleton in a query pack (finite,
  // JVM-lifetime), so a plain strong registry cannot leak
  private val instances = scala.collection.mutable.ListBuffer.empty[DirCached]

  private def register(c: DirCached): Unit =
    instances.synchronized { instances += c; () }

  // (name, dir) → most recent build seconds for this JVM — the bench
  // reads this into its `artifact_build` field. A rebuild after
  // releaseAll overwrites (latest wins; the bench snapshots after the
  // suite, so what it reports is the builds that run paid for).
  private val buildLog =
    scala.collection.mutable.LinkedHashMap.empty[(String, String), Double]

  private def recordBuild(name: String, dir: String, sec: Double): Unit =
    buildLog.synchronized { buildLog((name, dir)) = sec; () }

  /** Per-artifact build seconds recorded so far, summed over dirs
    * (a bench run uses one dir; tests may touch several). */
  private[graft] def buildSeconds: Seq[(String, Double)] =
    buildLog.synchronized {
      buildLog.toSeq.groupBy(_._1._1).map { case (n, xs) => n -> xs.map(_._2).sum }
        .toSeq.sortBy(-_._2)
    }

  /** Artifact storage level for this JVM. Default MEMORY_AND_DISK (the
    * interactive/bench sweet spot at sf0.1); scale-suite runs set
    * SPARK_GRAFT_ARTIFACT_LEVEL=DISK_ONLY so the heap holds the
    * working set, not the corpus-proportional artifact union. */
  private[queries] lazy val level: org.apache.spark.storage.StorageLevel =
    sys.env.get("SPARK_GRAFT_ARTIFACT_LEVEL").map(_.trim.toUpperCase(java.util.Locale.ROOT)) match {
      case Some("DISK_ONLY") => org.apache.spark.storage.StorageLevel.DISK_ONLY
      case Some("MEMORY_AND_DISK") | None => org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      case Some(other) =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_ARTIFACT_LEVEL must be DISK_ONLY or MEMORY_AND_DISK (got '$other')")
    }

  /** Release every registered cache's artifacts for `s` (all query
    * packs). Call between suite chunks, after a chunk's last consumer. */
  def releaseAll(s: SparkSession): Int =
    instances.synchronized { instances.iterator.map(_.release(s)).sum }
}
