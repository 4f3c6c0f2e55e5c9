package graft.streaming

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared read/commit protocol for the growing-index tables the gated
  * batch sinks maintain (`historyDir` laid out as `batch_id=N`
  * partitions of parquet).
  *
  * EXACTLY-ONCE-VISIBLE appends: a parquet write into `batch_id=N` is
  * not atomic on an object store — a reader racing the write (or
  * scanning after a mid-batch kill) would see a PARTIAL partition and,
  * worse, the NEXT batch would gate against it and admit content that
  * the completed partition would have rejected. So each sink, after
  * its partition write succeeds, PUTs a single marker object
  * `_commits/batch-N` (one small object — atomic visibility, the
  * manifest pattern every table format uses), and every reader
  * resolves the index as "partitions WITH a marker": an uncommitted
  * partition — mid-write or orphaned by a kill — is invisible
  * everywhere until the stream's checkpoint replays the batch, whose
  * dynamic overwrite rewrites it in place and re-commits. The
  * visibility filter lands on the `batch_id` PARTITION column, so it
  * costs one `_commits/` listing (metadata-only), never a data scan.
  *
  * TWO compactions keep years of 5-minute batches (~10⁵/year) cheap:
  *  - [[compactCommits]] folds the marker OBJECTS into a checkpoint of
  *    contiguous ranges (bounds the manifest listing);
  *  - [[compactIndex]] folds the DATA partitions themselves into a
  *    generational BASE partition (`batch_id = -G`).
  *
  * CONCURRENCY: both folds commit through a VERSIONED checkpoint —
  * `_commits/checkpoint-<seq>`, claimed with `create(overwrite=false)`
  * (atomic on HDFS/local and on any store with conditional PUT; the
  * `S3LikeFileSystem` test double honors the same contract). The
  * create of seq+1 IS the linearization point: of any number of
  * concurrent folds that read seq, exactly ONE wins the create; every
  * loser aborts with [[ConcurrentFoldException]] BEFORE its flip is
  * visible and BEFORE any GC — its half-built base partition is an
  * invisible orphan the next successful fold sweeps. Base partitions
  * are keyed by a per-ATTEMPT unique generation id (never gen+1), so
  * even a zombie fold that resumes after an arbitrarily long pause
  * writes only its own orphan partition and then fails the checkpoint
  * create — it can never clobber the live base or GC live data. The
  * `fold-lease` object on top is purely an OPTIMIZATION (it stops two
  * schedulers from duplicating an O(index) rewrite); correctness never
  * depends on it.
  *
  * Crash consistency per fold: the new base is written to a FRESH
  * unique partition (invisible until the checkpoint create), the flip
  * is one atomic create, and GC runs strictly last (readers already
  * ignore what it deletes). A crash between any two steps leaves every
  * reader on exactly one consistent generation; leftovers are
  * collected by the next successful fold's sweep.
  *
  * ONLY the first-batch case — the index directory not existing yet —
  * is recoverable as an empty index. Every other failure (object-store
  * throttle, corrupt footer, permissions) PROPAGATES and fails the
  * batch: a dedup gate that silently falls back to an empty index
  * admits near-duplicates of already-admitted content forever, with
  * no error anywhere. A data directory WITHOUT any `_commits/` is a
  * legacy (pre-manifest) index: every partition is treated as
  * committed, with a stderr note — failing those reads would turn an
  * upgrade into a silent empty-index gate, the exact bug above. */
private[graft] object IndexRead {
  private val CommitsDir     = "_commits"
  private val CheckpointName = "checkpoint" // legacy in-place form = seq 0
  private val LeaseName      = "fold-lease"

  /** A fold lost the checkpoint CAS (or found another writer's live
    * lease) — the caller aborts and retries at the next cadence tick.
    * Nothing visible has changed and nothing was deleted. */
  final class ConcurrentFoldException(msg: String) extends RuntimeException(msg)

  /** Advisory duplicate-work guard shared by [[compactCommits]] /
    * [[compactIndex]]: an exclusive lease object under `_commits`
    * holding a writer-unique token. NOT correctness-bearing — the
    * versioned-checkpoint CAS is what makes concurrent folds safe —
    * so the residual races of lease-breaking (a live fold paused past
    * the TTL, the break-then-create window) cost at most a wasted
    * rewrite, never data.
    *
    *  - a FRESH foreign lease aborts the fold (skip the tick);
    *  - a lease older than `ttlMs` is a crashed fold's leftover and is
    *    broken with a loud note;
    *  - after creating our lease we READ IT BACK and require our own
    *    token — the break window admits a second create on stores
    *    where delete+create interleave, and whichever token persisted
    *    names the single advisory owner;
    *  - release deletes the lease ONLY if it still carries our token
    *    (never a successor's live lease). */
  private def withFoldLease[A](
      spark: SparkSession, dir: String, ttlMs: Long = 30L * 60 * 1000)(body: => A): A = {
    val lease = new org.apache.hadoop.fs.Path(commitsPath(dir), LeaseName)
    val f     = fs(spark, lease)
    val token = java.util.UUID.randomUUID().toString
    def leaseToken(): Option[String] =
      try {
        val in = f.open(lease)
        try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
      } catch { case _: java.io.IOException => None }
    if (f.exists(lease)) {
      // the owner may RELEASE between exists() and getFileStatus() —
      // a vanished lease means the coast is clear, so fall through to
      // the create attempt instead of surfacing FileNotFoundException
      // (maintainAfterCommit would log it as a spurious "maintenance
      // FAILED"; direct callers would crash)
      val age =
        try Some(System.currentTimeMillis() - f.getFileStatus(lease).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      age.foreach { a =>
        if (a <= ttlMs)
          throw new ConcurrentFoldException(
            s"another fold holds $lease (age ${a} ms ≤ ttl ${ttlMs} ms) — aborting instead of racing")
        System.err.println(s"[index] breaking STALE fold lease at $lease (age ${a} ms > ttl)")
        f.delete(lease, false)
      }
    }
    val out =
      try f.create(lease, false)
      catch {
        case e: java.io.IOException => // FileAlreadyExists and kin: lost the create race
          throw new ConcurrentFoldException(
            s"lost the fold-lease create race at $lease: ${e.getMessage}")
      }
    try out.write(token.getBytes("UTF-8"))
    finally out.close()
    if (!leaseToken().contains(token))
      throw new ConcurrentFoldException(
        s"fold lease at $lease carries another writer's token after our create — " +
          "lost the stale-break race, aborting")
    try body
    finally {
      // owner-verified release: never delete a successor's live lease
      if (leaseToken().contains(token)) { f.delete(lease, false); () }
    }
  }

  /** Manifest state: committed batch ids (markers ∪ checkpoint
    * ranges), the fold watermark (ids ≤ it live in the base
    * partition; Long.MinValue = nothing folded), the base GENERATION
    * (base partition = `batch_id = -gen`; 0 = no base — gen values are
    * per-attempt unique ids, NOT sequential), and the checkpoint
    * SEQUENCE this state was read from (-1 = no checkpoint file; the
    * CAS target is seq + 1). */
  private[streaming] final case class Manifest(
      ids: Set[Long], foldedUpTo: Long, gen: Long, seq: Long)

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitsPath(dir: String) =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(dir), CommitsDir)

  /** Per-attempt unique generation id: wall millis in the high bits,
    * 20 random bits below — two attempts (even cross-process, same
    * millisecond) collide with probability 2^-20, and a collision is
    * caught by the checkpoint CAS anyway (both would target the same
    * seq). Always > 0. */
  private def newAttemptGen(): Long =
    (System.currentTimeMillis() << 20) |
      java.util.concurrent.ThreadLocalRandom.current().nextInt(1 << 20).toLong

  /** Mark `batchId`'s partition COMMITTED (call strictly after the
    * partition write returns). One object PUT — idempotent under
    * replay (the marker is rewritten with the same content).
    *
    * FIRST commit on a pre-manifest (legacy) index ADOPTS the existing
    * partitions: without this, the moment one marker exists the
    * manifest branch takes over and every unmarked legacy partition —
    * the whole pre-upgrade history — silently vanishes from the gate,
    * which is exactly the re-admit-forever failure this object exists
    * to prevent. Legacy partitions were all visible under the old
    * semantics, so adoption preserves behavior bit-for-bit (including
    * any pre-manifest orphan, which had no protection then either). */
  def commit(spark: SparkSession, dir: String, batchId: Long): Unit = {
    val cdir = commitsPath(dir)
    if (!fs(spark, cdir).exists(cdir)) {
      val root = new org.apache.hadoop.fs.Path(dir)
      val legacy =
        if (!fs(spark, root).exists(root)) Seq.empty
        else fs(spark, root).listStatus(root).toSeq
          .flatMap(_.getPath.getName.stripPrefix("batch_id=").toLongOption)
          .filter(id => id >= 0 && id != batchId)
      if (legacy.nonEmpty) {
        System.err.println(
          s"[index] adopting ${legacy.size} legacy pre-manifest partition(s) at $dir")
        try casCheckpoint(spark, dir,
          Manifest(legacy.toSet, Long.MinValue, 0L, -1L))
        catch {
          // two first-commits racing the adoption: the loser's ids are
          // a subset of the winner's listing — nothing lost, proceed
          case e: ConcurrentFoldException =>
            System.err.println(s"[index] adoption raced another writer (kept theirs): ${e.getMessage}")
        }
      }
    }
    val p   = new org.apache.hadoop.fs.Path(cdir, s"batch-$batchId")
    val out = fs(spark, p).create(p, true)
    try out.write(batchId.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** None = no manifest at all (legacy index or first batch). The
    * effective checkpoint is the HIGHEST sequence present (`checkpoint`
    * = the legacy in-place file, read as seq 0). */
  private[streaming] def readManifest(spark: SparkSession, dir: String): Option[Manifest] = {
    val d = commitsPath(dir)
    if (!fs(spark, d).exists(d)) None
    else {
      val entries = fs(spark, d).listStatus(d).toSeq
      val markers = entries
        .flatMap(s => s.getPath.getName.stripPrefix("batch-").toLongOption)
        .toSet
      val cps = entries.flatMap { s =>
        val n = s.getPath.getName
        if (n == CheckpointName) Some(0L -> s.getPath)
        else n.stripPrefix(CheckpointName + "-").toLongOption
          .filter(_ => n.startsWith(CheckpointName + "-")).map(_ -> s.getPath)
      }
      // the suffixed form wins a seq tie (it is the CAS-written one)
      cps.sortBy { case (seq, p) => (seq, p.getName.length) }.lastOption match {
        case None => Some(Manifest(markers, Long.MinValue, 0L, -1L))
        case Some((seq, cp)) =>
          val in = fs(spark, cp).open(cp)
          val txt =
            try new String(in.readAllBytes(), "UTF-8").trim
            finally in.close()
          // current format: "ranges=…\nfolded=…\ngen=…"; a plain
          // ranges line (the pre-fold checkpoint format) still parses
          val lines = txt.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
          val kv = lines.flatMap { l =>
            l.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
          }.toMap
          val ranges =
            if (kv.contains("ranges")) parseRanges(kv("ranges"))
            else if (lines.nonEmpty && !lines.head.contains("=")) parseRanges(lines.head)
            else Set.empty[Long]
          Some(Manifest(
            markers ++ ranges,
            kv.get("folded").map(_.toLong).getOrElse(Long.MinValue),
            kv.get("gen").map(_.toLong).getOrElse(0L),
            seq))
      }
    }
  }

  /** The committed batch ids — the manifest's id set. */
  def committedIds(spark: SparkSession, dir: String): Option[Set[Long]] =
    readManifest(spark, dir).map(_.ids)

  /** The CAS commit point shared by both folds and the legacy
    * adoption: write `checkpoint-<m.seq + 1>` with
    * `create(overwrite=false)`. Exactly one writer that read sequence
    * `m.seq` can win; a loser throws [[ConcurrentFoldException]] with
    * NOTHING visible changed. Returns the sequence written. */
  private[streaming] def casCheckpoint(spark: SparkSession, dir: String, m: Manifest): Long = {
    val next = m.seq + 1
    val cp = new org.apache.hadoop.fs.Path(commitsPath(dir), s"$CheckpointName-$next")
    val txt = s"ranges=${formatRanges(m.ids.toSeq.sorted)}\n" +
      (if (m.gen > 0) s"folded=${m.foldedUpTo}\ngen=${m.gen}\n" else "")
    val out =
      try fs(spark, cp).create(cp, false)
      catch {
        case e: java.io.IOException =>
          throw new ConcurrentFoldException(
            s"lost the checkpoint CAS at $cp (another fold committed first): ${e.getMessage}")
      }
    try out.write(txt.getBytes("UTF-8"))
    finally out.close()
    next
  }

  /** Delete checkpoint files strictly older than `keepFrom` — the
    * winner's tail GC. The immediately superseded file is kept one
    * fold longer (`keepFrom - 1`): a reader that LISTED just before
    * the flip can still open it and union the markers from its own
    * listing (compactCommits absorbs markers into the checkpoint in
    * the same step it deletes them, so that stale read stays a
    * superset-correct view). */
  private def gcCheckpoints(spark: SparkSession, dir: String, keepFrom: Long): Unit = {
    val d = commitsPath(dir)
    fs(spark, d).listStatus(d).toSeq.foreach { s =>
      val n = s.getPath.getName
      val seq =
        if (n == CheckpointName) Some(0L)
        else if (n.startsWith(CheckpointName + "-"))
          n.stripPrefix(CheckpointName + "-").toLongOption
        else None
      seq.filter(_ < keepFrom - 1).foreach(_ => fs(spark, d).delete(s.getPath, false))
    }
  }

  /** "0-1523,1525" ⇄ Set — batch ids are contiguous in normal
    * operation (foreachBatch is sequential), so the checkpoint is
    * usually ONE range; gaps from never-committed batches stay gaps. */
  private def parseRanges(txt: String): Set[Long] =
    if (txt.isEmpty) Set.empty
    else txt.split(",").iterator.flatMap { part =>
      part.split("-", 2) match {
        // a leading '-' would be a negative id, which commit() never
        // writes — ranges are non-negative by construction
        case Array(a, b) => (a.trim.toLong to b.trim.toLong).iterator
        case Array(a)    => Iterator(a.trim.toLong)
      }
    }.toSet

  private[streaming] def formatRanges(ids: Seq[Long]): String =
    compressRanges(ids)
      .map { case (a, b) => if (a == b) s"$a" else s"$a-$b" }
      .mkString(",")

  /** Sorted ids → maximal contiguous (lo, hi) runs. */
  private[streaming] def compressRanges(sorted: Seq[Long]): Seq[(Long, Long)] =
    sorted.foldLeft(Vector.empty[(Long, Long)]) {
      case (acc :+ ((a, b)), id) if id == b + 1 => acc :+ (a, id)
      case (acc, id)                            => acc :+ (id, id)
    }

  /** Fold every committed id into the checkpoint and delete the
    * per-batch markers it covers — the MANIFEST's compaction (the data
    * partitions are [[compactIndex]]'s job). Write order makes it
    * race-free against readers: the checkpoint lands (covering the
    * ids) BEFORE any marker is deleted, and a reader unions checkpoint
    * ∪ markers, so every interleaving sees a superset of the committed
    * set — never an uncommitted id, never a lost one. Concurrent folds
    * are serialized by the checkpoint CAS (the loser aborts having
    * changed nothing); the lease on top avoids duplicate work.
    * Returns the markers deleted. */
  def compactCommits(spark: SparkSession, dir: String): Int =
    readManifest(spark, dir).filter(_.ids.nonEmpty) match {
      case None => 0
      case Some(_) => withFoldLease(spark, dir) {
        // re-read INSIDE the lease — a fold that finished between our
        // first read and the acquire may have moved the manifest
        val m = readManifest(spark, dir).get
        val d = commitsPath(dir)
        val markers = fs(spark, d).listStatus(d).toSeq
          .filter(s => s.getPath.getName.stripPrefix("batch-").toLongOption
            .exists(m.ids.contains))
        if (markers.isEmpty) 0 // nothing to fold: no CAS, no new seq
        else {
          val written = casCheckpoint(spark, dir, m)
          markers.foreach(mk => fs(spark, d).delete(mk.getPath, false))
          gcCheckpoints(spark, dir, keepFrom = written)
          markers.size
        }
      }
    }

  /** Fold the committed DATA partitions with id ≤ `upToBatch` into a
    * fresh base GENERATION — 10⁵ micro-batch directories become one
    * `batch_id=-G` partition. Crash-consistent AND concurrency-safe on
    * an object store with atomic create-no-overwrite:
    *
    *   1. the new base (old base ∪ folded partitions) is written to
    *      `batch_id = -g` where g is a per-ATTEMPT unique id — a fresh
    *      partition no other attempt ever targets, INVISIBLE until
    *      step 2 (readers resolve the base through the checkpoint's
    *      `gen` pointer);
    *   2. the checkpoint CAS ([[casCheckpoint]]) flips every reader to
    *      `folded=upToBatch, gen=g` in one atomic create — a
    *      concurrent or zombie fold that read the same prior sequence
    *      LOSES the create and aborts with its orphan base invisible
    *      and its GC never run;
    *   3. GC (winner only): folded raw partitions, every OTHER
    *      negative partition (prior bases + loser/crash orphans),
    *      covered markers, superseded checkpoint files.
    *
    * A crash after 1 leaves an invisible orphan the next successful
    * fold sweeps; a crash after 2 leaves garbage the next fold's sweep
    * removes. Rows carry no batch lineage into the base (gates consume
    * (id, fingerprint) membership only — transient duplication or lost
    * lineage cannot change a verdict).
    *
    * `upToBatch` MUST trail the stream's newest committed batch by at
    * least the replay horizon (a foreachBatch stream can only replay
    * its LAST batch) — folding a batch that later replays would make
    * the replay gate against its own folded rows and self-suppress.
    * [[committedParquet]] fails loudly if asked to exclude a folded
    * id. Cost: O(index size) rewrite per fold — run it at the
    * partition-compaction cadence, not per batch. Returns the number
    * of data partitions folded. */
  def compactIndex(spark: SparkSession, dir: String, upToBatch: Long): Int =
    readManifest(spark, dir) match {
      case None => 0
      case Some(m0) if m0.ids.isEmpty => 0 // manifest dir exists, nothing committed
      case Some(_) => withFoldLease(spark, dir) {
        // re-read inside the lease: the manifest we saw before the
        // acquire may predate a fold that just released
        val m = readManifest(spark, dir).get
        val maxCommitted = m.ids.max
        require(upToBatch < maxCommitted,
          s"upToBatch=$upToBatch must trail the newest committed batch " +
            s"($maxCommitted) by the replay horizon")
        val toFold = m.ids.filter(id => id > m.foldedUpTo && id <= upToBatch).toSeq.sorted
        if (toFold.isEmpty) 0
        else {
          val newGen = newAttemptGen()
          // 1. fresh-attempt base: old base ∪ folded partitions
          val srcPred = compressRanges(toFold)
            .map { case (a, b) =>
              if (a == b) col("batch_id") === a else col("batch_id").between(a, b)
            }
            .reduce(_ || _)
          val src =
            if (m.gen > 0) srcPred || (col("batch_id") === -m.gen) else srcPred
          // per-write dynamic option below — the global session conf
          // is NOT touched (a leaked 'dynamic' would silently change
          // unrelated static-overwrite writes for the rest of the job)
          spark.read.parquet(dir)
            .filter(src)
            .withColumn("batch_id", lit(-newGen))
            .write
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(dir)
          // 2. the CAS flip — losing it means another fold committed
          // since our manifest read: abort with our base an invisible
          // orphan; NOTHING is deleted on this path
          val written = casCheckpoint(spark, dir,
            m.copy(foldedUpTo = upToBatch, gen = newGen))
          // 3. GC (we won the CAS — every other in-flight fold that
          // read seq ≤ ours can no longer flip), GUARDED against the
          // zombie window (see foldGc)
          foldGc(spark, dir, written, newGen, absorbedGen = m.gen, upToBatch)
          toFold.size
        }
      }
    }

  /** Guard-3 age gate for [[foldGc]]'s orphan sweep — how old (by the
    * wall-clock embedded in its attempt-gen id) a foreign base
    * partition must be before a winner's sweep may delete it. A
    * concurrent fold writes its base BEFORE its checkpoint create, so
    * a too-eager sweep could delete a base that is about to become
    * live. 30 min (the fold-lease TTL); tests override with
    * -Dgraft.foldGcMinAgeMs. */
  private[streaming] def foldGcMinAgeMs: Long =
    sys.props.get("graft.foldGcMinAgeMs").flatMap(_.toLongOption)
      .getOrElse(30L * 60 * 1000)

  /** TEST SEAM (no-op in production): invoked with the candidate's gen
    * immediately AFTER the per-candidate liveness re-read passes and
    * BEFORE its delete — the exact residual zombie window foldGc's
    * post-delete re-read guards. IndexVisibilitySpec injects a
    * concurrent fold's CAS here to fire the hard-down throw
    * deterministically; nothing else may set it. */
  private[streaming] var foldGcBeforeDelete: Long => Unit = _ => ()

  /** The wall-clock millis an attempt-gen id was minted at (the high
    * bits of [[newAttemptGen]]'s layout). Legacy small-integer gens
    * decode to ~epoch-0 — i.e. "very old", which is the right answer
    * for the age gate. */
  private def genMillis(gen: Long): Long = gen >>> 20

  /** Step-3 GC for [[compactIndex]] — guarded against the ZOMBIE
    * window: a fold that wins its checkpoint CAS and then stalls
    * before this sweep can resume AFTER a later fold has committed,
    * and an unguarded "every other negative partition" sweep would
    * then delete the later fold's LIVE base — the checkpoint would
    * point at a deleted partition and every folded row would silently
    * vanish from [[committedParquet]] (silent duplicate admissions,
    * the exact failure this module exists to prevent). Three guards on
    * the negative-partition sweep:
    *
    *  1. the sweep runs only while OUR checkpoint is still the live
    *     one (manifest re-read; a moved seq means a later fold owns
    *     cleanup and our leftovers are its orphans);
    *  2. every candidate re-checks liveness immediately before ITS
    *     delete and never deletes the live checkpoint's gen — a fold
    *     that commits mid-sweep stops the sweep at that candidate;
    *  3. a foreign base younger than [[foldGcMinAgeMs]] is never
    *     swept — it may be a concurrent attempt's base written ahead
    *     of a CAS that hasn't happened yet (attempt-gen ids embed
    *     their mint time, so age reads straight from the name).
    *
    * `absorbedGen` (the base generation this fold unioned into its
    * own) is exempt from guards 2–3: any fold that still needed it
    * read a sequence ≤ ours and can no longer win a CAS, and a live
    * later checkpoint can never point at it (attempt gens are unique,
    * later folds absorb OUR gen or newer). Folded RAW partitions
    * (ids ≤ upToBatch), their markers and superseded checkpoint files
    * are safe under ANY later checkpoint (ids are monotone — every
    * later base absorbed them), so those sweeps stay unconditional.
    * Anything a guard skips is an invisible orphan the next
    * successful fold collects.
    *
    * KNOWN RESIDUAL WINDOW: guards 2–3 are check-then-act over a
    * manifest that a concurrent attempt can still move. If this
    * winner stalls past [[foldGcMinAgeMs]] between its CAS and the
    * sweep, a foreign base can be simultaneously old enough (guard 3)
    * and about to become live (its owner CASes the next seq after the
    * guard-2 read). The sweep re-reads the manifest AFTER each delete
    * and throws at the cause site if that happened; a commit landing
    * after even that re-read is caught by committedParquet's
    * existence require at the next read. Both paths are LOUD
    * (hard-down, named repair), never silent row loss. */
  private[streaming] def foldGc(
      spark: SparkSession,
      dir: String,
      written: Long,
      newGen: Long,
      absorbedGen: Long,
      upToBatch: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    def negDirs(): Seq[(org.apache.hadoop.fs.FileStatus, Long)] =
      fs(spark, root).listStatus(root).toSeq
        .flatMap(st => st.getPath.getName.stripPrefix("batch_id=").toLongOption
          .filter(_ < 0).map(id => (st, -id)))
    // folded raw partitions: safe under any later checkpoint
    fs(spark, root).listStatus(root).toSeq
      .filter(_.getPath.getName.stripPrefix("batch_id=").toLongOption
        .exists(id => id >= 0 && id <= upToBatch))
      .foreach(st => fs(spark, root).delete(st.getPath, true))
    // the base we absorbed: no reader or future winner can need it
    negDirs().filter(_._2 == absorbedGen).filter(_ => absorbedGen != newGen)
      .foreach(st => fs(spark, root).delete(st._1.getPath, true))
    def live(): Option[Manifest] = readManifest(spark, dir)
    if (!live().exists(l => l.seq == written && l.gen == newGen))
      System.err.println(
        s"[index] fold GC of stale bases SKIPPED at $dir — the checkpoint moved past " +
          s"seq $written (a later fold owns the sweep; our leftovers are its orphans)")
    else {
      val now = System.currentTimeMillis()
      negDirs()
        .filter { case (_, gen) => gen != newGen && gen != absorbedGen }
        .foreach { case (st, gen) =>
          val oldEnough = now - genMillis(gen) > foldGcMinAgeMs
          // per-delete liveness re-check (guard 2): readManifest here
          // is one small-file read — negative partitions are rare
          if (oldEnough && live().exists(l => l.seq == written && l.gen != gen)) {
            foldGcBeforeDelete(gen)
            fs(spark, root).delete(st.getPath, true)
            // RESIDUAL ZOMBIE WINDOW (documented, shrunk, not closed):
            // guard 3 only protects a foreign base younger than the
            // age gate. If WE stalled past the gate between our CAS
            // and this sweep, a concurrent attempt that read our
            // checkpoint, wrote its base, and stalled equally long can
            // win the NEXT seq after our liveness read above — its
            // now-live base deleted here. The post-delete re-read
            // below catches a commit that landed during the delete and
            // fails AT THE CAUSE (index is hard-down either way — the
            // committedParquet existence require would otherwise trip
            // at the next reader, far from the sweep that did it). A
            // commit landing after this re-read remains possible and
            // is caught loudly by that reader-side require; repair =
            // replay the swept batches (their markers are retained
            // until THIS fold's upToBatch). IndexVisibilitySpec
            // constructs this interleaving via foldGcBeforeDelete and
            // pins both the throw and the replay repair.
            if (live().exists(_.gen == gen))
              throw new IllegalStateException(
                s"[index] fold GC at $dir swept base gen=$gen that a concurrent fold " +
                  s"just committed as live (zombie CAS during the sweep). The index is " +
                  s"hard-down: restore the partition from a snapshot or replay batches " +
                  s"> foldedUpTo. Sweep owner: seq=$written gen=$newGen.")
          }
        }
    }
    val d = commitsPath(dir)
    fs(spark, d).listStatus(d).toSeq
      .filter(_.getPath.getName.stripPrefix("batch-").toLongOption
        .exists(_ <= upToBatch))
      .foreach(mk => fs(spark, d).delete(mk.getPath, false))
    gcCheckpoints(spark, dir, keepFrom = written)
  }

  /** Committed-only view of the index, with `excludeBatchId`'s own
    * partition removed (the replay rule): what every gate — and any
    * external reader — must resolve instead of a raw directory scan. */
  def committedParquet(spark: SparkSession, dir: String, excludeBatchId: Long)(
      empty: => DataFrame): DataFrame = {
    val p      = new org.apache.hadoop.fs.Path(dir)
    val exists = fs(spark, p).exists(p)
    // a COMMITTED batch that admitted zero rows writes no partition
    // dir at all — a legitimate state (e.g. a first batch entirely
    // vetoed by a foreign-modality index). With markers present but
    // ZERO data partitions, spark.read.parquet cannot infer a schema
    // and would throw, wedging every subsequent batch; the committed
    // content is genuinely empty, so SAY so. (With ≥1 data partition,
    // predicates on missing partitions simply match nothing.)
    def hasDataDirs: Boolean =
      fs(spark, p).listStatus(p).exists(_.getPath.getName.startsWith("batch_id="))
    if (!exists || !hasDataDirs) empty
    else readManifest(spark, dir) match {
      case Some(m) =>
        // excluding a FOLDED batch is the self-suppression hazard the
        // compactIndex contract exists to prevent — fail, don't guess
        require(!(m.ids.contains(excludeBatchId) && excludeBatchId <= m.foldedUpTo),
          s"batch $excludeBatchId is folded into the base generation — " +
            "a replay this old cannot be excluded (raise the fold's replay horizon)")
        // the base partition the checkpoint points at must EXIST: a
        // missing base (GC bug, manual deletion, a pathological zombie
        // race outside foldGc's guards) would silently match nothing
        // and the gate would re-admit every folded fingerprint forever
        // — the one failure mode that must be LOUD, not empty
        if (m.gen > 0) {
          val base = new org.apache.hadoop.fs.Path(p, s"batch_id=${-m.gen}")
          require(fs(spark, base).exists(base),
            s"index base partition batch_id=${-m.gen} is missing at $dir but the " +
              "checkpoint points at it — refusing to gate against a silently partial index")
        }
        val unfolded = (m.ids - excludeBatchId).filter(_ > m.foldedUpTo).toSeq.sorted
        // contiguous ids collapse to BETWEEN ranges — the predicate
        // stays a handful of terms after years of batches; it lands on
        // the PARTITION column, so directories prune either way
        val preds =
          (if (m.gen > 0) Seq(col("batch_id") === -m.gen) else Seq.empty) ++
            compressRanges(unfolded).map { case (a, b) =>
              if (a == b) col("batch_id") === a else col("batch_id").between(a, b)
            }
        if (preds.isEmpty) empty
        else spark.read.parquet(dir).filter(preds.reduce(_ || _))
      case None =>
        System.err.println(
          s"[index] $dir has data but no $CommitsDir manifest — legacy index, " +
            "treating every partition as committed")
        spark.read.parquet(dir).filter(col("batch_id") =!= excludeBatchId)
    }
  }

  /** Scheduled in-band maintenance cadence for a gate index — the
    * knobs [[maintainAfterCommit]] fires on. The reference's ops story
    * is fully scheduled (`infra/main-mvp.tf:464-515` — EventBridge
    * crons driving every maintenance Lambda); ours rides the batch
    * cadence itself so a year of 5-minute micro-batches (~10⁵) never
    * needs a manual pass.
    *
    *  - `commitsEvery`: fold commit MARKERS into the checkpoint every
    *    N committed batches — metadata-only, cheap, keeps the
    *    `_commits/` listing bounded at ≤ commitsEvery objects.
    *  - `foldEvery`: fold DATA partitions into the base generation
    *    every N batches — an O(index) rewrite, so the cadence is
    *    coarse; keeps the partition-directory count bounded at
    *    ≤ foldEvery + 1. Production tables fold daily (288 five-minute
    *    batches), not at the spec-friendly default.
    *  - `replayHorizon`: how many newest batches stay UNFOLDED — a
    *    foreachBatch stream can only replay its last batch, but the
    *    horizon is the safety margin the compactIndex contract
    *    requires (folding a batch that later replays would make the
    *    replay gate against its own rows and self-suppress).
    *
    * A field ≤ 0 disables that dimension. */
  final case class Cadence(
      commitsEvery: Long = 16L,
      foldEvery: Long = 64L,
      replayHorizon: Long = 2L) {
    require(replayHorizon >= 1, s"replayHorizon must be >= 1 (got $replayHorizon)")
  }
  object Cadence {
    /** No in-band maintenance — for callers that schedule their own. */
    val Off: Cadence = Cadence(commitsEvery = 0L, foldEvery = 0L)
  }

  /** The maintenance tick every gated sink fires right after its
    * [[commit]]: folds markers/partitions when the cadence says so,
    * and NEVER fails the batch over housekeeping —
    *  - [[ConcurrentFoldException]] (another writer holds the lease or
    *    won the checkpoint CAS) is EXPECTED under multi-stream
    *    contention: skip the tick, the next one retries;
    *  - any other failure is logged loudly and also skipped: the fold
    *    is crash-consistent by construction (fresh attempt-unique base
    *    → atomic checkpoint create → GC last), so a half-died fold
    *    cannot corrupt the index, and the batch's own data is already
    *    committed. A persistent failure re-logs on every due tick —
    *    visible, not silent. */
  def maintainAfterCommit(
      spark: SparkSession, dir: String, batchId: Long, cadence: Cadence): Unit = {
    def due(every: Long): Boolean = every > 0 && batchId > 0 && batchId % every == 0
    try {
      if (due(cadence.foldEvery)) {
        compactIndex(spark, dir, upToBatch = batchId - cadence.replayHorizon)
        compactCommits(spark, dir) // absorb the marker tail in the same tick
      } else if (due(cadence.commitsEvery)) {
        compactCommits(spark, dir); ()
      }
    } catch {
      case e: ConcurrentFoldException =>
        System.err.println(
          s"[index] maintenance tick skipped at batch $batchId ($dir): ${e.getMessage}")
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[index] maintenance FAILED at batch $batchId ($dir) — batch unaffected, " +
            s"next tick retries: $e")
    }
  }
}
