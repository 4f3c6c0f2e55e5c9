package graft.operators

import graft.SparkSpec
import graft.functions.Portable
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  private def docs = {
    val s = spark; import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "completely different words entirely here now today"),
      (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (4L, "xy zz")) // < 3 words → no shingles
      .toDF("doc_id", "text")
  }

  test("wordNgrams: distinct 3-grams; <n words yields empty not descending-sequence garbage") {
    val out = docs.select(col("doc_id"), TextDedup.wordNgrams(col("text"), 3).as("g")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(0L).contains("the quick brown"))
    assert(out(0L).size === 7) // 9 words → 7 grams, all distinct here
    assert(out(4L).isEmpty)
  }

  test("exactDupGroups groups identical fingerprints") {
    val out = TextDedup.exactDupGroups(docs, col("doc_id"), TextAnalysis.fingerprint(col("text")))
    val grp = out.filter(col("n_docs") === 2).collect()
    assert(grp.length === 1)
    assert(grp.head.getAs[Long]("keeper_doc_id") === 0L)
  }

  test("canonicalKeepers: highest quality wins its cluster, exact tie falls to smallest id, singletons self-keep") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0), // cluster 1: 2 and 3 tie on quality → keeper 2
      (4L, 7.0),                       // singleton
      (5L, 1.0), (6L, 3.0))            // cluster 5: keeper 6 (higher quality, larger id)
      .toDF("doc_id", "q")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)).toDF("doc_id", "cluster_id")
    val out = TextDedup.canonicalKeepers(d, col("doc_id"), col("q"), clusters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(2L) === ((1L, 2L, true)) && out(3L) === ((1L, 2L, false)) && out(1L) === ((1L, 2L, false)))
    assert(out(4L) === ((4L, 4L, true)))
    assert(out(6L) === ((5L, 6L, true)) && out(5L) === ((5L, 6L, false)))
  }

  test("paragraphDedup: lossless reassembly with no bans; exact dups fully erased; shared tail stripped, unique prefix kept") {
    val s = spark; import s.implicits._
    val tail = (1 to 30).map(i => s"tailword$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $tail"),
      (2L, s"delta epsilon zeta $tail"),
      (3L, "unique standalone document nothing shared here"),
      (4L, "copycat twin text body"),
      (5L, "copycat twin text body"))
      .toDF("doc_id", "text")

    // maxDocFreq = ∞ ⇒ nothing banned, reassembly must be lossless
    val loss = TextDedup.paragraphDedup(docs, col("doc_id"), col("text"), maxDocFreq = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r).toMap
    docs.collect().foreach { r =>
      val (idv, txt) = (r.getLong(0), r.getString(1))
      assert(loss(idv).getAs[Long]("n_dropped") === 0L)
      assert(loss(idv).getAs[String]("clean_text") === txt)
    }

    val out = TextDedup.paragraphDedup(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // exact dups: every segment has df 2 ⇒ both copies fully erased
    Seq(4L, 5L).foreach { d =>
      assert(out(d).getAs[Long]("n_dropped") === out(d).getAs[Long]("n_segments"))
      assert(out(d).getAs[String]("clean_text") === "")
    }
    // unique doc untouched
    assert(out(3L).getAs[Long]("n_dropped") === 0L)
    assert(out(3L).getAs[String]("clean_text") === "unique standalone document nothing shared here")
    // shared-tail docs: unique prefixes survive, interior tail segments
    // (content-defined ⇒ aligned across both docs despite the shift) drop
    Seq(1L -> "alpha", 2L -> "delta").foreach { case (d, w) =>
      assert(out(d).getAs[Long]("n_dropped") > 0L, out(d).toString)
      assert(out(d).getAs[String]("clean_text").contains(w))
    }
    assert(!out(1L).getAs[String]("clean_text").contains("tailword20"))
    assert(!out(2L).getAs[String]("clean_text").contains("tailword20"))
  }

  test("bloomDedupGate equals the exact membership join, even with false positives forced (fpp 0.5)") {
    val s = spark; import s.implicits._
    // 200 history docs, 100 new docs of which every 4th is an exact dup
    val hist = (0 until 200).map(i => (i.toLong, s"history document number $i body"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val newB = (0 until 100).map { i =>
      val text = if (i % 4 == 0) s"history document number ${i * 2} body" else s"fresh document $i"
      (1000L + i, text)
    }.toDF("doc_id", "text")

    def run(fpp: Double) = TextDedup.bloomDedupGate(
      newB, col("doc_id"), TextAnalysis.fingerprint(col("text")), hist, fpp)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap

    val exact = newB
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .join(hist.distinct().withColumn("__h", lit(true)), Seq("fp"), "left")
      .collect().map(r => r.getAs[Long]("doc_id") -> !r.isNullAt(2)).toMap

    assert(exact.count(_._2) === 25) // the planted dups
    // tight bloom and a deliberately leaky one (false positives flood
    // the gated join) both return exactly the true membership answer
    assert(run(0.01) === exact)
    assert(run(0.5) === exact)
  }

  test("jaccardPairs finds the near-dup pair and not the unrelated doc") {
    val pairs = TextDedup.jaccardPairs(docs, col("doc_id"), TextDedup.wordNgrams(col("text"), 3), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // exact dup → jaccard 1.0
    assert(pairs.contains((0L, 1L))) // near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("prefixJaccardPairs equals the uncapped exact self-join, including under a hot shingle") {
    val s = spark; import s.implicits._
    // every doc shares the hot "aa bb cc" shingle; only 0/1 and 2/3
    // are true near-dups — the prefix filter must keep exactly those
    val hot = Seq(
      (0L, "aa bb cc dd ee ff gg"),
      (1L, "aa bb cc dd ee ff hh"),
      (2L, "aa bb cc xx yy zz ww"),
      (3L, "aa bb cc xx yy zz vv"),
      (4L, "aa bb cc qq rr ss tt uu ii jj kk ll mm nn oo pp"))
      .toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.6, 0.8)) {
      val shRows = hot.select(col("doc_id"), explode(TextDedup.wordNgrams(col("text"), 3)).as("s"))
      val exact = TextDedup.jaccardPairsFromRows(shRows, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = TextDedup.prefixJaccardPairs(shRows, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref === exact, s"threshold $t")
    }
  }

  test("prefixJaccardPairs: exact-dup pairs (jaccard 1.0) survive the t=1.0 edge") {
    val shRows = docs.select(col("doc_id"), explode(TextDedup.wordNgrams(col("text"), 3)).as("s"))
    val out = TextDedup.prefixJaccardPairs(shRows, 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out === Set((0L, 3L, 1.0)))
  }

  test("minhash: identical docs get identical signatures; signature values < P") {
    val sigs = TextDedup.minhashSignatures(docs, col("doc_id"), TextDedup.wordNgrams(col("text"), 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) === sigs(3L))
    assert(sigs(0L) !== sigs(2L))
    assert(!sigs.contains(4L)) // no shingles → dropped
    assert(sigs.values.flatten.forall(v => v >= 0 && v < Portable.P))
  }

  test("lshPairs surfaces the exact-dup pair with est_jaccard 1.0") {
    val sigs = TextDedup.minhashSignatures(docs, col("doc_id"), TextDedup.wordNgrams(col("text"), 3))
    val out = TextDedup.lshPairs(sigs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((0L, 3L)) === 1.0)
  }

  test("lshPairs hot-band cap drops giant exact-dup buckets; cap=∞ bit-identical to no cap") {
    val s = spark; import s.implicits._
    // 12 exact duplicates → identical signatures → ONE bucket of df 12
    // in EVERY band: the pathological group LSH banding cannot thin
    // (uncapped candidate volume C(12,2)=66, once per band). Two
    // near-dup docs (100, 101) survive the cap and still pair — the
    // result must stay non-empty, else AQE's empty-relation
    // propagation elides the CollectMetrics node (see lshPairs doc).
    val d = ((0 until 12).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog")) ++
      Seq(
        (100L, "completely different words entirely here now today"),
        (101L, "completely different words entirely here now tomorrow"))).toDF("doc_id", "text")
    val sigs = TextDedup.minhashSignatures(d, col("doc_id"), TextDedup.wordNgrams(col("text"), 3))
      .persist()
    try {
      val uncapped = TextDedup.lshPairs(sigs, 0.5)
      assert(uncapped.count() === 67) // C(12,2) dup-group pairs + (100,101)

      import org.apache.spark.sql.execution.QueryExecution
      import org.apache.spark.sql.util.QueryExecutionListener
      @volatile var dropped = -1L
      @volatile var kept    = -1L
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, dur: Long): Unit =
          qe.observedMetrics.get("lsh_band_cap").foreach { r =>
            dropped = r.getAs[Long]("dropped_buckets")
            kept    = r.getAs[Long]("kept_buckets")
          }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val capped = TextDedup.lshPairs(sigs, 0.5, maxBandDf = Some(5L)).collect()
        // the giant group's pairs are gone; the small near-dup bucket survives
        assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((100L, 101L)))
        val deadline = System.currentTimeMillis() + 10000
        while (dropped < 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
        assert(dropped === 8L) // the dup group's bucket in each of 8 bands
        assert(kept >= 8L)     // docs 100/101's own buckets (8..16 depending on collisions)
      } finally spark.listenerManager.unregister(listener)

      // cap = ∞ is bit-identical to no cap (q33 oracle contract)
      val inf = TextDedup.lshPairs(sigs, 0.5, Some(Long.MaxValue))
      assert(inf.exceptAll(uncapped).count() === 0)
      assert(uncapped.exceptAll(inf).count() === 0)
    } finally sigs.unpersist()
  }

  test("incremental dedup: new batch probes the index; re-ingest pairs at est 1.0; agrees with batch") {
    val s = spark; import s.implicits._
    // index = even ids, new batch = odd ids. Doc 1 re-ingests doc 0's
    // text; doc 3 is novel; doc 5 is a near-dup of doc 2.
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different words entirely here now today"),
      (4L, "one more indexed document with its own content"),
      (1L, "the quick brown fox jumps over the lazy dog"), // re-ingest of 0
      (3L, "novel text that matches nothing in the index at all"),
      (5L, "completely different words entirely here now tomorrow")) // near-dup of 2
      .toDF("doc_id", "text")
    val sigs = TextDedup.minhashSignatures(d, col("doc_id"), TextDedup.wordNgrams(col("text"), 3))
      .persist()
    try {
      val idx = sigs.filter(col("doc_id") % 2 === 0)
      val neu = sigs.filter(col("doc_id") % 2 === 1)
      val out = TextDedup.lshPairsAgainstIndex(neu, idx, 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(out((1L, 0L)) === 1.0)          // exact re-ingest detected
      assert(out.contains((5L, 2L)))         // near-dup detected
      assert(!out.keys.exists(_._1 == 3L))   // novel doc pairs with nothing
      // consistency with the batch path: incremental pairs = the
      // cross-parity subset of the full self-join's pairs
      val batch = TextDedup.lshPairs(sigs, 0.3).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      out.foreach { case ((n, i), est) =>
        val key = if (n < i) (n, i) else (i, n)
        assert(batch(key) === est, s"pair ($n,$i)")
      }
      // index-side hot-bucket cap: capping at 0 effective df kills all
      // pairs but the machinery stays observable
      assert(TextDedup.lshPairsAgainstIndex(neu, idx, 0.3, maxBandDf = Some(0L)).count() === 0)
    } finally sigs.unpersist()
  }

  test("incremental exact layer: new fingerprints probe the exact-dup index") {
    val s = spark; import s.implicits._
    val existing = Seq((0L, "Hello, World!"), (2L, "other content")).toDF("doc_id", "text")
    val index = TextDedup.exactDupGroups(existing, col("doc_id"), TextAnalysis.fingerprint(col("text")))
    val fresh = Seq((11L, "hello world"), (13L, "brand new")).toDF("doc_id", "text") // 11 ≈ 0 after normalization
    val out = TextDedup.exactDupsAgainstIndex(
      fresh, col("doc_id"), TextAnalysis.fingerprint(col("text")), index)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(11L -> 0L)) // 13 is genuinely new
  }

  test("lshRescoredPairs ⊆ exact jaccard pairs with IDENTICAL scores (recall-bounded, exact-scored)") {
    val shRows = docs.select(col("doc_id"), explode(TextDedup.wordNgrams(col("text"), 3)).as("s"))
    val exact = TextDedup.jaccardPairsFromRows(shRows, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rescored = TextDedup.lshRescoredPairs(shRows, estThreshold = 0.3, threshold = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every rescored pair exists in the exact set with the SAME score
    rescored.foreach { case (k, j) => assert(exact(k) === j, s"pair $k") }
    // the exact-dup pair always collides in some band → never missed
    assert(rescored.contains((0L, 3L)) && rescored((0L, 3L)) === 1.0)
  }

  test("jaccard hot-shingle cap bounds the candidate explosion from skewed shingles") {
    val s = spark; import s.implicits._
    // 12 docs share ONE planted hot 3-gram ("common shingle here");
    // every other shingle is unique per doc. Uncapped, the hot posting
    // list alone generates C(12,2)=66 candidate pairs.
    val docs = (0 until 12).map(i => (i.toLong, s"common shingle here u${i}a u${i}b"))
      .toDF("doc_id", "text")
    val rows = TextDedup.shingleRows(docs, col("doc_id"), col("text"), 3)

    val uncapped = TextDedup.jaccardPairsFromRows(rows, 0.01)
    assert(uncapped.count() === 66)

    // cap below the hot shingle's df → posting list dropped, zero
    // candidates survive (docs share nothing else)
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var dropped = -1L
    @volatile var kept    = -1L
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.get("jaccard_shingle_cap").foreach { r =>
          dropped = r.getAs[Long]("dropped_shingles")
          kept    = r.getAs[Long]("kept_shingles")
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(TextDedup.jaccardPairsFromRows(rows, 0.01, Some(5L)).count() === 0)
      // QueryExecutionListener delivery is async — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (dropped < 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(dropped === 1L) // exactly the planted hot shingle
      assert(kept === 24L)   // 2 unique shingles × 12 docs survive
    } finally spark.listenerManager.unregister(listener)

    // cap = ∞ is bit-identical to no cap (q31/q53 oracle contract)
    val inf = TextDedup.jaccardPairsFromRows(rows, 0.01, Some(Long.MaxValue))
    assert(inf.exceptAll(uncapped).count() === 0)
    assert(uncapped.exceptAll(inf).count() === 0)
  }

  test("winnowOverlapPairs: containment scores high where Jaccard dilutes; df cap filters boilerplate") {
    val s = spark; import s.implicits._
    val long = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val d = Seq(
      (0L, long),
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"), // contained prefix of 0
      (2L, "uniform victor whiskey xray yankee zulu unrelated entirely"))
      .toDF("doc_id", "text")
    val out = TextDedup.winnowOverlapPairs(d, col("doc_id"), col("text"), minOverlap = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // short doc 1 is a prefix of 0: nearly all its fps appear in 0
    assert(out.keySet === Set((0L, 1L)))
    assert(out((0L, 1L)) > 0.8)
    // a df cap of 1 kills every shared fingerprint → no pairs
    assert(TextDedup.winnowOverlapPairs(d, col("doc_id"), col("text"), maxFpDf = 1L).count() === 0)
  }

  test("contaminationFlags: only docs sharing a benchmark n-gram are flagged") {
    val s = spark; import s.implicits._
    val bench = Seq((100L, "the secret benchmark phrase appears here verbatim")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "prefix words then the secret benchmark phrase appears here verbatim and more"),
      (1L, "totally clean document with none of those words at all present"))
      .toDF("doc_id", "text")
    val out = TextDedup.contaminationFlags(
      corpus, col("doc_id"), col("text"), bench, col("text"), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 0 contains the full 7-word phrase → 3 distinct 5-grams hit
    assert(out === Map(0L -> 3L))
  }

  test("dedupVerdicts: exact dups drop to the keeper, near dups to the cluster min, rest keep") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "completely different words entirely here now today"),
      (3L, "The quick brown fox jumps over the lazy dog!"), // exact dup of 0 (normalized)
      (4L, "xy zz"), (5L, "xy zz")) // exact dups, too short to shingle
      .toDF("doc_id", "text")
    val rows = TextDedup.shingleRows(d, col("doc_id"), col("text"), 3)
    val out = TextDedup.dedupVerdicts(
      d, col("doc_id"), TextAnalysis.fingerprint(col("text")),
      TextDedup.jaccardPairsFromRows(rows, 0.5))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(0L) === ((0L, "keep")))       // cluster {0,1,3} minimum
    assert(out(1L) === ((0L, "drop_near")))  // its own fp's keeper, but near-dup of 0
    assert(out(2L) === ((2L, "keep")))       // unique
    assert(out(3L) === ((0L, "drop_exact"))) // exact dup of 0
    assert(out(4L) === ((4L, "keep")))       // short exact group: keeper
    assert(out(5L) === ((4L, "drop_exact"))) // short exact group: dropped
  }

  test("dedupClusters: chains and triangles collapse to the component minimum") {
    val s = spark; import s.implicits._
    // components: {1,2,3,4} via chain 1-2-3-4, {7,9} pair, triangle
    // {10,11,12}; 20 appears ONLY in a degenerate self-pair and must
    // still be labeled (its own singleton), 2 has a redundant self-pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L), (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 20L), (2L, 2L))
      .toDF("doc_a", "doc_b")
    val out = TextDedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L))
  }

  test("starContract: 100-node chain converges in O(log n) rounds, not O(diameter)") {
    val s = spark; import s.implicits._
    // worst case for label propagation: a pure chain 0-1-2-…-99
    // (diameter 99). Star contraction must close it in ≤ ⌈log2 100⌉ = 7.
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = TextDedup.starContract(chain)
    assert(rounds <= 7, s"took $rounds rounds — not logarithmic")
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 100)
    assert(out.values.forall(_ === 0L)) // one component, min label 0
  }

  test("simhash: identical text → identical 32-bit hash; near-dup → small hamming") {
    val sh = TextDedup.simhashes(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) === sh(3L))
    assert(sh.values.forall(v => v >= 0 && v < (1L << 32)))
    val hammingNear = java.lang.Long.bitCount(sh(0L) ^ sh(1L))
    val hammingFar  = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(hammingNear < hammingFar)
  }

  test("simhashPairs returns (pair, hamming) under the radius") {
    val out = TextDedup.simhashPairs(docs, col("doc_id"), col("text"), 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.contains((0L, 3L, 0)))
  }
}

class SimilaritySpec extends SparkSpec {
  private def embs = {
    val s = spark; import s.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)),
      (4L, Array(1.0f, 0.0f, 0.001f)))
      .toDF("vec_id", "embedding")
  }

  private def pqEmbs = {
    val s = spark; import s.implicits._
    // 4 dims → 2 subspaces × 2 dims; ids 0/1 seed the 2-codeword books
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.1f, 0.9f)),  // near 0
      (3L, Array(0.1f, 0.9f, 0.9f, 0.1f)),  // near 1
      (4L, Array(1.0f, 0.0f, 0.0f, 1.0f)))  // exact dup of 0
      .toDF("vec_id", "embedding")
  }

  test("pqCodebooks: iters=0 returns the seed slices; one round keeps (sub,cell) grid shape") {
    val seeds = Similarity.pqCodebooks(pqEmbs, dim = 4, m = 2, k = 2, iters = 0).collect()
    assert(seeds.length === 4) // 2 subs × 2 cells
    assert(seeds.forall(_.getSeq[Long](2).length === 2))
    val trained = Similarity.pqCodebooks(pqEmbs, dim = 4, m = 2, k = 2).collect()
    assert(trained.map(r => (r.getAs[Int]("sub"), r.getAs[Long]("cell"))).toSet
      === Set((0, 0L), (0, 1L), (1, 0L), (1, 1L)))
  }

  test("pqEncode: identical vectors get identical codes; near vectors share the seed's cell") {
    val cb = Similarity.pqCodebooks(pqEmbs, dim = 4, m = 2, k = 2)
    val codes = Similarity.pqEncode(pqEmbs, dim = 4, m = 2, codebooks = cb)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub")) ->
        (r.getAs[Long]("code"), r.getAs[Long]("d2"))).toMap
    assert(codes((0L, 0)) === codes((4L, 0)) && codes((0L, 1)) === codes((4L, 1)))
    assert(codes((2L, 0))._1 === codes((0L, 0))._1) // near-0 doc in 0's cell
    assert(codes((3L, 0))._1 === codes((1L, 0))._1)
    assert(codes.forall(_._2._2 >= 0L)) // quantization error is a true squared distance
  }

  test("pqTopKWith: ADC ranks the exact duplicate of the query first") {
    val cb = Similarity.pqCodebooks(pqEmbs, dim = 4, m = 2, k = 2)
    val out = Similarity.pqTopKWith(pqEmbs, cb, Seq(0L), dim = 4, m = 2, k = 3)
      .collect().sortBy(_.getAs[Long]("rk"))
    // ADC distance to a same-coded vector is the sum of the query's own
    // per-subspace minima — the smallest value any candidate can reach.
    // Doc 2 shares BOTH codes with the query (ADC cannot see inside a
    // cell — the quantizer's resolution limit), so it ties the exact
    // dup and the deterministic cid tie-break orders 2 before 4.
    val minD = out.map(_.getAs[Long]("adc_dist2")).min
    val tied = out.filter(_.getAs[Long]("adc_dist2") == minD).map(_.getAs[Long]("cid")).toSeq
    assert(tied === Seq(2L, 4L), out.mkString(";"))
    assert(out.head.getAs[Long]("adc_dist2") === minD)
    assert(!out.exists(_.getAs[Long]("cid") == 0L)) // self excluded
  }

  test("pqTopKWith plan: codes join a broadcast distance table; no full-vector shuffle in serving") {
    val cb  = Similarity.pqCodebooks(pqEmbs, dim = 4, m = 2, k = 2)
    val df  = Similarity.pqTopKWith(pqEmbs, cb, Seq(0L), dim = 4, m = 2, k = 3)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"), s.take(3000))
  }

  test("bruteForceTopK ranks by cosine; self excluded") {
    val out = Similarity.bruteForceTopK(embs, Seq(0L), 4).collect()
    val order = out.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("cid")).toSeq
    assert(order === Seq(4L, 1L, 2L, 3L)) // near-parallel, close, orthogonal, opposite
    val cosines = out.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
    assert(cosines.head > 0.999)
    assert(cosines.last < -0.999)
    assert(!out.exists(_.getAs[Long]("cid") == 0L))
  }

  test("cosine of identical vectors is exactly 1.0 after quantization") {
    val s = spark; import s.implicits._
    val two = Seq((0L, Array(0.3f, 0.4f)), (1L, Array(0.3f, 0.4f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(two, Seq(0L), 1).collect().head
    assert(out.getAs[Double]("cosine") === 1.0)
  }

  test("kmeansAssign: one Lloyd step separates axis clusters; seeds define cells") {
    val s = spark; import s.implicits._
    // seeds: vec 0 → x-axis, vec 1 → y-axis; remaining points hug one axis
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.1f, 0.9f)),
      (4L, Array(0.8f, 0.05f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssign(e, 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out.size === 5)
    assert(Seq(0L, 2L, 4L).map(out(_).getAs[Long]("cluster_id")).toSet === Set(0L))
    assert(Seq(1L, 3L).map(out(_).getAs[Long]("cluster_id")).toSet === Set(1L))
    // every member scores high against its refined centroid
    out.values.foreach(r => assert(r.getAs[Double]("cosine") > 0.9))
  }

  test("kmeansAssign is deterministic and keeps one row per vector on real data") {
    val e = graft.Tables.embeddings(spark, sf())
    val a = Similarity.kmeansAssign(e, 4).collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"), r.getAs[Double]("cosine")))
    val b = Similarity.kmeansAssign(e, 4).collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"), r.getAs[Double]("cosine")))
    assert(a.sortBy(_._1).toSeq === b.sortBy(_._1).toSeq)
    assert(a.map(_._1).distinct.length === a.length)
    assert(a.map(_._2).toSet.subsetOf((0L until 4L).toSet))
  }

  test("kmeansCentroids: iters=0 returns the exact seeds; iterating keeps ≤ k cells") {
    val e = graft.Tables.embeddings(spark, sf())
    val seeds = Similarity.kmeansCentroids(e, 4, iters = 0).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Seq[Long]]("cv")).toMap
    val raw = Similarity.seedCentroids(e, 4).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Seq[Long]]("cv")).toMap
    assert(seeds === raw)
    val trained2 = Similarity.kmeansCentroids(e, 4, iters = 2).collect()
    assert(trained2.length <= 4 && trained2.nonEmpty)
    assert(trained2.map(_.getAs[Long]("cell")).toSet.subsetOf((0L until 4L).toSet))
  }

  test("ivfTopKWith trained codebook: k rows per query, exact brute-force cosines") {
    val e = graft.Tables.embeddings(spark, sf())
    val brute = Similarity.bruteForceTopK(e, Seq(0L), 200).collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Double]("cosine")).toMap
    val out = Similarity.ivfTopKWith(e, Similarity.kmeansCentroids(e, 8), Seq(0L), 2, 5).collect()
    assert(out.length === 5)
    out.foreach { r =>
      val cid = r.getAs[Long]("cid")
      if (brute.contains(cid)) assert(brute(cid) === r.getAs[Double]("cosine"))
    }
  }

  test("lshTopK: bucket ids deterministic; results are a subset of brute force ranking") {
    val e = graft.Tables.embeddings(spark, sf())
    val brute = Similarity.bruteForceTopK(e, Seq(0L), 50).collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Double]("cosine")).toMap
    val ann = Similarity.lshTopK(e, Seq(0L), dim = 64, k = 5).collect()
    // every ANN hit must carry the exact cosine brute force computed
    ann.foreach { r =>
      val cid = r.getAs[Long]("cid")
      if (brute.contains(cid)) assert(brute(cid) === r.getAs[Double]("cosine"))
    }
    // bucket assignment is stable across runs
    val b1 = Similarity.lshTopK(e, Seq(0L), 64, 5).collect().map(_.getAs[Long]("bucket")).toSet
    val b2 = Similarity.lshTopK(e, Seq(0L), 64, 5).collect().map(_.getAs[Long]("bucket")).toSet
    assert(b1 === b2)
  }

  test("lshTopKMultiProbe: candidates ⊇ single-bucket, scores exact vs brute force") {
    val e   = graft.Tables.embeddings(spark, sf())
    val qs  = Seq(0L, 1L, 2L)
    val one = Similarity.lshTopK(e, qs, 64, 5).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val multiRows = Similarity.lshTopKMultiProbe(e, qs, 64, 5).collect()
    val multi = multiRows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    // top-k under a SUPERSET of candidates can only displace a hit
    // with a better-scoring one — count per query never shrinks
    val oneN   = one.groupBy(_._1).view.mapValues(_.size).toMap
    val multiN = multi.groupBy(_._1).view.mapValues(_.size).toMap
    qs.foreach(q => assert(multiN.getOrElse(q, 0) >= oneN.getOrElse(q, 0)))
    // exact scores: every multi-probe hit carries brute force's cosine
    val brute = Similarity.bruteForceTopK(e, qs, 200).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("cosine")).toMap
    multiRows.foreach { r =>
      val k = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      brute.get(k).foreach(c => assert(c === r.getAs[Double]("cosine")))
    }
  }

  test("semDedupVerdicts: drop iff a lower-id cell-mate is within tau; survivor = lowest") {
    val s = spark; import s.implicits._
    // seeds: 0 → x-axis cell, 1 → y-axis cell
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)),   // cell 0, cos(2,0) ≈ 0.994 → drop, survivor 0
      (3L, Array(0.1f, 0.9f)),   // cell 1, cos(3,1) ≈ 0.994 → drop, survivor 1
      (4L, Array(0.7f, -0.7f)))  // cell 0, cos(4,0) ≈ 0.707 < 0.8 → keep
      .toDF("vec_id", "embedding")
    val out = Similarity
      .semDedupVerdicts(e, Similarity.seedCentroids(e, 2), tau = 0.8)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[String]("verdict"), Option(r.getAs[java.lang.Long]("survivor_id")))).toMap
    assert(out.size === 5)
    assert(out(0L)._1 === "keep" && out(1L)._1 === "keep" && out(4L)._1 === "keep")
    assert(out(2L) === ("drop_semantic", Some(0L)))
    assert(out(3L) === ("drop_semantic", Some(1L)))
    assert(out(4L)._2 === None)
  }

  test("semDedupVerdicts: greedy chain — a survivor may itself defer to a lower id") {
    val s = spark; import s.implicits._
    // one cell; vectors at 0°, 20°, 40°: tau = 0.9 ≈ cos 25.8° links
    // only neighbors, so 2's survivor is 1 — which itself dropped to 0
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9397f, 0.342f)),
      (2L, Array(0.766f, 0.6428f)))
      .toDF("vec_id", "embedding")
    val out = Similarity
      .semDedupVerdicts(e, Similarity.seedCentroids(e, 1), tau = 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[String]("verdict"), Option(r.getAs[java.lang.Long]("survivor_id")))).toMap
    assert(out(0L)._1 === "keep")
    assert(out(1L) === ("drop_semantic", Some(0L)))
    assert(out(2L) === ("drop_semantic", Some(1L)))
  }

  test("semDedupVerdicts: clustering IS the blocking — similar pairs in different cells both keep") {
    val s = spark; import s.implicits._
    // 2 and 3 are at 34.5°/55.5°: cos(2,3) ≈ 0.93 ≥ tau, but they hug
    // different centroids, so the pair is never compared — the
    // documented recall trade every blocked dedup makes
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.8f, 0.55f)),
      (3L, Array(0.55f, 0.8f)))
      .toDF("vec_id", "embedding")
    val out = Similarity
      .semDedupVerdicts(e, Similarity.seedCentroids(e, 2), tau = 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[String]("verdict"), r.getAs[Long]("cluster_id"))).toMap
    assert(out(2L)._2 !== out(3L)._2)
    assert(out(2L)._1 === "keep" && out(3L)._1 === "keep")
  }

  test("semDedup hot-cell cap: candidate volume bounded to |cell|·cap, verdicts exact when cap covers the cell") {
    val s = spark; import s.implicits._
    // ONE deliberately hot cell: 40 near-identical vectors (tiny angle
    // fan around the x-axis) all assigned to the single seed cell —
    // uncapped pairing would be 40·39/2 = 780 candidates
    val n = 40
    val e = (0L until n.toLong).map { i =>
      val a = 0.001f * i
      (i, Array(1.0f, a))
    }.toDF("vec_id", "embedding")
    val m = Similarity.assignedCorpus(e, Similarity.seedCentroids(e, 1))
    val uncapped = Similarity.semDedupCandidates(m, None).count()
    assert(uncapped === n.toLong * (n - 1) / 2)
    // cap = 4: each vector compares only against the cell's 4 lowest
    // ids → at most (n-1)·cap candidates, linear in cell population
    val capped = Similarity.semDedupCandidates(m, Some(4L)).count()
    assert(capped === (3 + 2 + 1) + (n - 4) * 4L) // ids 1..3 see <4 lower ids
    // verdict semantics survive the cap here: every vector matches the
    // id-head (all are near-dups of vector 0), so survivor chains are
    // identical to the uncapped run
    val full = Similarity.semDedupVerdicts(e, Similarity.seedCentroids(e, 1), tau = 0.9)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("verdict"),
        Option(r.getAs[java.lang.Long]("survivor_id")))).sortBy(_._1).toSeq
    val cap4 = Similarity.semDedupVerdicts(e, Similarity.seedCentroids(e, 1), tau = 0.9,
        maxCellCompare = Some(4L))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("verdict"),
        Option(r.getAs[java.lang.Long]("survivor_id")))).sortBy(_._1).toSeq
    assert(cap4 === full)
    // cap ≥ cell size ⇒ bit-identical to uncapped by construction
    val capBig = Similarity.semDedupVerdicts(e, Similarity.seedCentroids(e, 1), tau = 0.9,
        maxCellCompare = Some(4096L))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("verdict"),
        Option(r.getAs[java.lang.Long]("survivor_id")))).sortBy(_._1).toSeq
    assert(capBig === full)
  }

  test("semDedupAgainstIndex: new-batch dup of an index member dropped, novel kept; index head-cap bounds the join side") {
    val s = spark; import s.implicits._
    val index = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.97f, 0.05f))) // same cell as 0
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, Array(0.95f, 0.1f)),  // cell 0, cos vs 0 ≈ 0.994 → drop, dup_of 0
      (11L, Array(0.7f, -0.7f)),  // cell 0, cos vs 0 ≈ 0.707 < 0.8 → keep
      (12L, Array(0.05f, 0.99f))) // cell 1, cos vs 1 ≈ 0.999 → drop, dup_of 1
      .toDF("vec_id", "embedding")
    val cb = Similarity.seedCentroids(index, 2)
    val out = Similarity.semDedupAgainstIndex(batch, index, cb, tau = 0.8)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[String]("verdict"), Option(r.getAs[java.lang.Long]("dup_of")))).toMap
    assert(out.size === 3)
    assert(out(10L) === ("drop_semantic", Some(0L)))
    assert(out(11L) === ("keep", None))
    assert(out(12L) === ("drop_semantic", Some(1L)))
    // head-cap = 1: only the cell's lowest index id (0) is compared —
    // 10 still drops against 0; 2 is never on the comparison side
    val capped = Similarity.semDedupAgainstIndex(batch, index, cb, tau = 0.8,
        maxCellCompare = Some(1L))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[String]("verdict"), Option(r.getAs[java.lang.Long]("dup_of")))).toMap
    assert(capped(10L) === ("drop_semantic", Some(0L)))
    assert(capped(12L) === ("drop_semantic", Some(1L)))
  }

  test("ANN query-relation overloads agree with the Seq sugar (and with each other)") {
    val e  = graft.Tables.embeddings(spark, sf())
    val qr = e.filter(col("vec_id") < 3)
    val qs = Seq(0L, 1L, 2L)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(
      key(Similarity.bruteForceTopK(e, qr, 5).collect())
        === key(Similarity.bruteForceTopK(e, qs, 5).collect()))
    assert(
      key(Similarity.ivfTopK(e, qr, nCells = 8, nProbe = 2, k = 5).collect())
        === key(Similarity.ivfTopK(e, qs, nCells = 8, nProbe = 2, k = 5).collect()))
    assert(
      key(Similarity.lshTopKMultiProbe(e, qr, dim = 64, k = 5).collect())
        === key(Similarity.lshTopKMultiProbe(e, qs, dim = 64, k = 5).collect()))
    val cb = Similarity.pqCodebooks(e, 64, 4, 8)
    assert(
      key(Similarity.pqTopKWith(e, cb, qr, 64, 4, 5).collect())
        === key(Similarity.pqTopKWith(e, cb, qs, 64, 4, 5).collect()))
  }
}

class TextAnalysisSpec extends SparkSpec {
  test("qualityMetrics computes token counts and ratios") {
    val s = spark; import s.implicits._
    val d = Seq((0L, "the cat sat on the mat, happily!")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityMetrics(d, col("doc_id"), col("text")).collect().head
    assert(r.getAs[Long]("n_tokens") === 7)
    // the|cat|sat|on|the|mat|,|happily|! → 9 BPE-ish tokens
    assert(r.getAs[Long]("n_bpe_tokens") === 9)
    assert(r.getAs[Long]("punct_count") === 2)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 7) < 1e-12) // the ×2
    assert(r.getAs[Double]("quality_score") > 0)
  }

  test("language ID votes: en/de/fr texts classified; ties → en") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "the cat is in the house and it is warm", "en"),
      (1L, "der hund ist nicht mit der katze und das ist gut", "de"),
      (2L, "le chat est dans la maison et il est pour toi", "fr"),
      (3L, "zzz qqq www", "xx")) // no votes anywhere → tie → en
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.withLanguageId(d, col("text"))
      .select("lang", "predicted_lang").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("en") === "en"); assert(out("de") === "de")
    assert(out("fr") === "fr"); assert(out("xx") === "en")
  }

  test("fingerprint is invariant to case/punctuation/whitespace edits") {
    val s = spark; import s.implicits._
    val d = Seq((0L, "Hello, World!"), (1L, "hello   world"), (2L, "other")).toDF("doc_id", "text")
    val fps = d.select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("winnowing: coverage guarantee (a selection in every window), normalization invariance") {
    val s = spark; import s.implicits._
    val text = "The quick brown fox jumps over the lazy dog again and again"
    val d = Seq(
      (0L, text),
      (1L, text.toUpperCase.replace(" ", "  ") + "!!!"), // same normalized content
      (2L, "short")) // < 8 normalized chars → no fingerprints
      .toDF("doc_id", "text")
    val out = TextAnalysis.winnowingFingerprints(d, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1)
    // winnowing guarantee: consecutive selected positions ≤ w apart,
    // first within the first window, last within the last
    val pos = byDoc(0L).map(_._2).sorted
    val m = text.toLowerCase.replaceAll("[^a-z0-9]+", "").length - 7
    assert(pos.head <= 4 && pos.last > m - 4)
    assert(pos.sliding(2).forall(p => p.length < 2 || p(1) - p(0) <= 4))
    // normalization: doc 1 selects the exact same (pos, fp) set
    assert(byDoc(0L).map(t => (t._2, t._3)).toSet === byDoc(1L).map(t => (t._2, t._3)).toSet)
    assert(!byDoc.contains(2L))
  }

  test("winnowing: equal-hash window picks the RIGHTMOST minimum") {
    val s = spark; import s.implicits._
    // 10 a's → 3 identical 8-grams, one (clamped) window of 3 equal
    // hashes → the single selection must be the rightmost, pos 3
    val d = Seq((0L, "aaaaaaaaaa")).toDF("doc_id", "text")
    val out = TextAnalysis.winnowingFingerprints(d, col("doc_id"), col("text")).collect()
    assert(out.map(_.getInt(1)).toSeq === Seq(3))
  }

  test("winnowing: docs sharing a long substring share a fingerprint") {
    val s = spark; import s.implicits._
    val shared = "completely identical plagiarized passage of text"
    val d = Seq(
      (0L, "left context before " + shared),
      (1L, shared + " different right tail here"),
      (2L, "nothing in common with either document at all zzz"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowingFingerprints(d, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2))
    val f0 = fps.filter(_._1 == 0L).map(_._2).toSet
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    assert((f0 & f1).nonEmpty) // shared substring ≥ k+w−1 chars ⇒ shared fp
    assert((f0 & f2).isEmpty)
  }

  test("repetitionMetrics: dup fractions, top bigram with count-desc/bigram-asc tie-break") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "a a a b"), // dup tokens 2/4; bigrams [a a, a a, a b]: dup 1/3, top "a a"×2
      (1L, "b a b"),   // bigrams [b a, a b] tie at 1 → asc → "a b"
      (2L, "solo"))    // 1 token → no bigrams → nulls
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionMetrics(d, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("n_tokens") === 4)
    assert(out(0L).getAs[Double]("dup_token_frac") === 0.5)
    assert(math.abs(out(0L).getAs[Double]("dup_bigram_frac") - 1.0 / 3) < 1e-15)
    assert(out(0L).getAs[String]("top_bigram") === "a a")
    assert(out(0L).getAs[Long]("top_bigram_cnt") === 2)
    assert(out(0L).getAs[Double]("top_bigram_char_frac") === 2 * 3.0 / 7)
    assert(out(1L).getAs[String]("top_bigram") === "a b")
    assert(out(2L).isNullAt(out(2L).fieldIndex("top_bigram")))
    assert(out(2L).isNullAt(out(2L).fieldIndex("dup_bigram_frac")))
  }
}

class TopNgramsAndPiiSpec extends SparkSpec {
  test("topNgramsPerGroup: per-group counts with count-desc/gram-asc tie-break") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "en", "a b a b c"), // bigrams: "a b"×2, "b a"×1, "b c"×1
      (1L, "en", "a b"),       // "a b"×1 → en total "a b"×3
      (2L, "de", "x y"),
      (3L, "de", "solo"))      // 1 token → no bigrams
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.topNgramsPerGroup(d, col("lang"), col("text"), n = 2, k = 2)
      .collect().map(r => (r.getString(0), r.getInt(3)) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(("en", 1)) === ("a b", 3L))
    assert(out(("en", 2)) === ("b a", 1L)) // tie with "b c" → gram asc
    assert(out(("de", 1)) === ("x y", 1L))
    assert(out.size === 3)
  }

  test("topNgramsPerGroup: minCount prunes the singleton tail before ranking") {
    val s = spark; import s.implicits._
    val d = Seq((0L, "en", "a b a b c")).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.topNgramsPerGroup(d, col("lang"), col("text"), 2, 5, minCount = 2L)
      .collect().map(r => r.getString(1))
    assert(out.toSeq === Seq("a b"))
  }

  test("piiScrub counts and redacts emails, IPv4s, and phones in order") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "mail bob@example.org and 10.1.2.3 then call 555-1234 end"),
      (1L, "clean text with no pii at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(d, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r0 = out(0L)
    assert(r0.getAs[Long]("n_emails") === 1)
    assert(r0.getAs[Long]("n_ips") === 1)
    assert(r0.getAs[Long]("n_phones") === 1)
    val expected = "mail <EMAIL> and <IP> then call <PHONE> end"
    assert(r0.getAs[Long]("redacted_len") === expected.length.toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r0.getAs[String]("redacted_hash") === hex)
    // clean doc: untouched text, zero counts
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_emails") + r1.getAs[Long]("n_ips") + r1.getAs[Long]("n_phones") === 0)
    assert(r1.getAs[Long]("redacted_len") === "clean text with no pii at all".length.toLong)
  }

  test("piiScrub: counts see the original text; redaction order keeps passes independent") {
    val s = spark; import s.implicits._
    // an IP embedded in an email domain: counted as BOTH (counts are
    // defined on the original text), but redacted ONCE — the email
    // pass runs first and swallows the dotted host
    val d = Seq((0L, "a@10.1.2.3.org and 192.168.0.1")).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(d, col("doc_id"), col("text")).collect().head
    assert(r.getAs[Long]("n_emails") === 1)
    assert(r.getAs[Long]("n_ips") === 2)
    assert(r.getAs[Long]("redacted_len") === "<EMAIL> and <IP>".length.toLong)
  }
}

class PackingSpec extends SparkSpec {

  test("fimSplit: PSM parts reassemble to the original text; split points in range; non-FIM rows pass through") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(41)
    val docs = (1L to 200L).map(i =>
      (i, rnd.alphanumeric.take(rnd.nextInt(80)).mkString)) // includes empty texts
    val byId = docs.toMap
    val out = Packing.fimSplit(docs.toDF("doc_id", "text"), col("doc_id"), col("text"))
      .collect()
    assert(out.length === 200)
    var nFim = 0
    out.foreach { r =>
      val id   = r.getAs[Long]("doc_id")
      val orig = byId(id)
      assert(r.getAs[Long]("n_chars") === orig.length.toLong)
      if (r.getAs[Boolean]("fim")) {
        nFim += 1
        val (lo, hi) = (r.getAs[Long]("p_lo"), r.getAs[Long]("p_hi"))
        assert(0L <= lo && lo <= hi && hi <= orig.length.toLong, s"doc $id points")
        val t = r.getAs[String]("fim_text")
        // <PRE>prefix<SUF>suffix<MID>middle → reassemble exactly
        val pre = t.indexOf("<PRE>"); val suf = t.indexOf("<SUF>"); val mid = t.indexOf("<MID>")
        assert(pre === 0 && suf > 0 && mid > suf, s"doc $id markers: $t")
        val prefix = t.substring(5, suf)
        val suffix = t.substring(suf + 5, mid)
        val middle = t.substring(mid + 5)
        assert(prefix + middle + suffix === orig, s"doc $id reassembly")
        assert(prefix.length.toLong === lo && middle.length.toLong === hi - lo)
      } else {
        assert(r.getAs[String]("fim_text") === orig, s"doc $id must pass through")
        assert(r.isNullAt(r.fieldIndex("p_lo")) && r.isNullAt(r.fieldIndex("p_hi")))
      }
    }
    assert(nFim > 50 && nFim < 150, s"~50% gate, got $nFim/200") // hash-gated rate
  }

  test("fimSplit: rate 0 transforms nothing; rate 10000 transforms everything") {
    val s = spark; import s.implicits._
    val d = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
    val none = Packing.fimSplit(d, col("doc_id"), col("text"), rateBps = 0L).collect()
    assert(none.forall(!_.getAs[Boolean]("fim")))
    val all = Packing.fimSplit(d, col("doc_id"), col("text"), rateBps = 10000L).collect()
    assert(all.forall(_.getAs[Boolean]("fim")))
    // empty text still produces the marker skeleton deterministically
    val empty = all.find(_.getAs[Long]("doc_id") == 2L).get
    assert(empty.getAs[String]("fim_text") === "<PRE><SUF><MID>")
  }

  test("packSequences: exact global offsets, bin ids, and boundary spans") {
    val s = spark; import s.implicits._
    val weights = (0L until 100L).map(i => (i, i % 7 + 1))
    val d = weights.toDF("doc_id", "w")
    val out = Packing.packSequences(d, col("doc_id"), col("w"), capacity = 10L, shards = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("start_offset"),
          r.getAs[Long]("bin_id"), r.getAs[Long]("n_bins"))).toMap
    // reference single-threaded scan
    var off = 0L
    weights.foreach { case (id, w) =>
      val (nt, so, bin, nb) = out(id)
      assert(nt === w)
      assert(so === off, s"doc $id offset")
      assert(bin === so / 10)
      assert(nb === ((so + w - 1) / 10 - so / 10 + 1))
      off += w
    }
  }

  test("packSequences: shard count does not change the result; sparse ids ok") {
    val s = spark; import s.implicits._
    // sparse, shuffled ids with gaps
    val d = Seq((3L, 5L), (90L, 7L), (17L, 2L), (1000L, 11L), (4L, 1L))
      .toDF("doc_id", "w")
    def run(sh: Int) = Packing.packSequences(d, col("doc_id"), col("w"), 8L, shards = sh)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_offset"),
        r.getAs[Long]("bin_id"), r.getAs[Long]("n_bins"))).sortBy(_._1).toSeq
    assert(run(1) === run(4))
    assert(run(4) === run(256))
    // id order defines the packing: 3,4,17,90,1000
    assert(run(1).map(_._2) === Seq(0L, 5L, 6L, 8L, 15L))
  }

  test("packSequences: zero-weight docs occupy no tokens and one bin") {
    val s = spark; import s.implicits._
    val d = Seq((0L, 4L), (1L, 0L), (2L, 6L)).toDF("doc_id", "w")
    val out = Packing.packSequences(d, col("doc_id"), col("w"), 5L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("start_offset"), r.getAs[Long]("n_bins"))).toMap
    assert(out(1L) === (4L, 1L))
    assert(out(2L) === (4L, 2L)) // 4..9 crosses the 5-token boundary
  }

  test("dsirWeights: target-like raw docs outscore off-distribution ones; short docs absent") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "alpha beta gamma alpha beta", true),   // target
      (1L, "alpha beta gamma beta gamma", true),   // target
      (2L, "alpha beta gamma alpha", false),       // raw, target-like
      (3L, "zork quux blarg zork quux", false),    // raw, off-distribution
      (4L, "single", false))                       // < 2 tokens → absent
      .toDF("doc_id", "text", "tgt")
    val out = TextAnalysis.dsirWeights(d, col("doc_id"), col("text"), col("tgt"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("dsir_ppm"), r.getAs[Boolean]("is_target"))).toMap
    assert(!out.contains(4L))
    assert(out(0L)._1 === 4L) // 5 tokens → 4 bigrams
    assert(out(2L)._2 > out(3L)._2, s"target-like ${out(2L)} should outscore ${out(3L)}")
    assert(out(0L)._3 && !out(2L)._3)
  }

  test("sourceDrift: identical sources drift only by rounding; a skewed source reports its top token") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "alpha beta gamma delta", "a"),
      (1L, "alpha beta gamma delta", "b"),
      (2L, "spam spam spam spam", "c"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceDrift(d, col("doc_id"), col("text"), col("source"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct_tokens"),
          r.getAs[Long]("l1_ppm"), r.getAs[String]("top_token"))).toMap
    assert(out.keySet === Set("a", "b", "c"))
    assert(out("a") === out("b").copy(_1 = out("a")._1)) // same profile, same drift
    // exact floor-div ppm: a = 4·|250000−166666| + |0−333333| = 666669;
    // c = |10⁶−333333| + 4·|0−166666| = 1333331 — the drifted source
    // doubles the uniform sources' L1
    assert(out("a")._3 === 666669L)
    assert(out("c")._3 === 1333331L)
    assert(out("c")._4 === "spam")
    assert(out("c")._2 === 1L && out("c")._1 === 4L)
  }

  test("dsirWeights: with no target docs the smoothed score is flat, never a crash") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "alpha beta gamma", false),
      (1L, "zork quux blarg", false))
      .toDF("doc_id", "text", "tgt")
    val out = TextAnalysis.dsirWeights(d, col("doc_id"), col("text"), col("tgt"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sum_target_ppm")).toMap
    // every occupied cell gets the same uniform smoothed target mass
    assert(out(0L) === out(1L))
  }
}

class MultimodalSpec extends SparkSpec {
  test("real WAV round trip: decoded per-frame energies equal the manifest amp^2 exactly") {
    val s = spark; import s.implicits._
    val ids = Seq(0L, 1L, 7L, 42L, 9999L)
    val d = ids.toDF("doc_id")
    val rows = Multimodal
      .decodeAudioFrames(Multimodal.syntheticAudio(d, col("doc_id")))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        ((r.getAs[Long]("n_frames"), r.getAs[Long]("rms_sq"))))
      .toMap
    // every manifest frame came back — through a REAL RIFF/WAVE
    // container parse, not a formula shortcut — with the exact energy
    val expected = ids.flatMap(id => (0 until Multimodal.audioManifestFrames(id)).map(f => (id, f.toLong)))
    assert(rows.keySet === expected.toSet)
    expected.foreach { case (id, f) =>
      val (nf, e) = rows((id, f))
      assert(nf === Multimodal.audioManifestFrames(id).toLong)
      val a = Multimodal.audioManifestAmp(id, f).toLong
      assert(e === a * a, s"doc $id frame $f")
    }
  }

  test("decodeAudioFrames is a real decoder: a corrupt container fails loudly with the doc id") {
    val s = spark; import s.implicits._
    val good = Multimodal.syntheticAudio(Seq(3L).toDF("doc_id"), col("doc_id"))
      .collect()(0).getAs[Array[Byte]]("payload")
    // WAV sanity: RIFF....WAVE magic present in the real container
    assert(new String(good.take(4), "US-ASCII") === "RIFF")
    assert(new String(good.slice(8, 12), "US-ASCII") === "WAVE")
    val corrupt = good.clone(); corrupt(0) = 'X'.toByte // break the RIFF magic
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudioFrames(
        Seq((77L, corrupt)).toDF("doc_id", "payload")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("doc 77")), msgs(e).mkString(" | "))
  }

  test("real AVI round trip: container chunk walk + PNG frame decode equal the manifest exactly") {
    val s = spark; import s.implicits._
    val ids = Seq(0L, 1L, 6L, 42L, 9999L)
    val rows = Multimodal
      .decodeVideoFrames(Multimodal.syntheticVideo(ids.toDF("doc_id"), col("doc_id")))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        ((r.getAs[Long]("n_frames"), r.getAs[Long]("mean_luma"))))
      .toMap
    val expected = ids.flatMap(id =>
      (0 until Multimodal.videoManifestFrames(id)).map(f => (id, f.toLong)))
    assert(rows.keySet === expected.toSet)
    expected.foreach { case (id, f) =>
      val (nf, luma) = rows((id, f))
      assert(nf === Multimodal.videoManifestFrames(id).toLong)
      val sum = (for (y <- 0 until Multimodal.VideoH; x <- 0 until Multimodal.VideoW)
        yield Multimodal.videoManifestPixel(id, f, x, y).toLong).sum
      assert(luma === sum / (Multimodal.VideoW * Multimodal.VideoH), s"doc $id frame $f")
    }
  }

  test("videoKeyframes: extracted stills decode to the exact manifest pixels, sampled every K, no transcode") {
    val s = spark; import s.implicits._
    val ids = Seq(0L, 6L, 42L) // n_frames = 2, 8, 2
    val kf = Multimodal.videoKeyframes(
        Multimodal.syntheticVideo(ids.toDF("doc_id"), col("doc_id")), everyK = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        r.getAs[Array[Byte]]("payload"))
      .toMap
    // frames sampled: every 4th of 0 until n_frames
    val expected = ids.flatMap(id =>
      (0 until Multimodal.videoManifestFrames(id) by 4).map(f => (id, f.toLong)))
    assert(kf.keySet === expected.toSet) // clip 6 yields frames 0 AND 4
    expected.foreach { case (id, f) =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(kf((id, f))))
      assert(img.getWidth === Multimodal.VideoW && img.getHeight === Multimodal.VideoH)
      for (y <- 0 until Multimodal.VideoH; x <- 0 until Multimodal.VideoW)
        assert(img.getRaster.getSample(x, y, 0) ===
          Multimodal.videoManifestPixel(id, f, x, y), s"doc $id frame $f ($x,$y)")
    }
  }

  test("cross-modal near-dup: a keyframe planted in the image corpus is found at hamming 0 through the shared machinery; unrelated stills are not") {
    val s = spark; import s.implicits._
    // images = clip 6's frame-4 still (the planted cross-modal dup)
    // plus a genuinely different manifest image
    val kf6 = Multimodal.videoKeyframes(
        Multimodal.syntheticVideo(Seq(6L).toDF("doc_id"), col("doc_id")), everyK = 4)
      .filter(col("frame_idx") === 4L)
      .select(lit(1000L).as("doc_id"), col("payload"))
    val other = Multimodal.syntheticImages(Seq(7L).toDF("doc_id"), col("doc_id"))
      .select(lit(2000L).as("doc_id"), col("payload"))
    val imageHashes = Multimodal.aHash64(kf6.unionByName(other))
    // probe ALL of clip 6's keyframes (frames 0 and 4) against it
    val kfAll = Multimodal.videoKeyframes(
      Multimodal.syntheticVideo(Seq(6L).toDF("doc_id"), col("doc_id")), everyK = 4)
    val probe = TextDedup.simhashProbeIndex(
        Multimodal.aHash64(
          kfAll.select(
            Multimodal.keyframeId(col("doc_id"), col("frame_idx")).as("doc_id"), col("payload"))),
        imageHashes, maxHamming = 0, bands = 8)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("index_id")))
    // frame 4 (id 6*16+4=100) hits the planted image at hamming 0;
    // nothing hits the unrelated image
    assert(probe.contains((100L, 1000L)))
    assert(!probe.exists(_._2 == 2000L))
  }

  test("decodeVideoFrames is a real container parser: corrupt magic and truncated movi fail loudly with the doc id") {
    val s = spark; import s.implicits._
    val good = Multimodal.syntheticVideo(Seq(5L).toDF("doc_id"), col("doc_id"))
      .collect()(0).getAs[Array[Byte]]("payload")
    // AVI sanity: RIFF....AVI magic present in the real container
    assert(new String(good.take(4), "US-ASCII") === "RIFF")
    assert(new String(good.slice(8, 12), "US-ASCII") === "AVI ")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else String.valueOf(t.getMessage) +: msgs(t.getCause)
    // broken magic
    val corrupt = good.clone(); corrupt(0) = 'X'.toByte
    val e1 = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeVideoFrames(
        Seq((77L, corrupt)).toDF("doc_id", "payload")).collect()
    }
    assert(msgs(e1).exists(_.contains("doc 77")), msgs(e1).mkString(" | "))
    // truncated container: chop the last frame chunk — the declared
    // avih frame count no longer matches the frames found
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length - 40)
    val e2 = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeVideoFrames(
        Seq((78L, truncated)).toDF("doc_id", "payload")).collect()
    }
    assert(msgs(e2).exists(_.contains("doc 78")), msgs(e2).mkString(" | "))
  }

  test("vadSegmentsFromEnergies: islands match a host-side recompute; threshold edges") {
    val s = spark; import s.implicits._
    val ids = (0L to 40L)
    val frames = Multimodal.decodeAudioFrames(
      Multimodal.syntheticAudio(ids.toDF("doc_id"), col("doc_id")))
    val out = Multimodal.vadSegmentsFromEnergies(frames).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segments"), r.getAs[Long]("n_active"), r.getAs[Long]("longest_seg"))))
      .toMap
    // host-side recompute straight from the manifest
    ids.foreach { id =>
      val nf = Multimodal.audioManifestFrames(id)
      val voiced = (0 until nf).map(f => Multimodal.audioManifestAmp(id, f.toLong) >= 500)
      val runs = voiced.foldLeft(List.empty[Int]) {
        case (acc, true) if acc.nonEmpty && acc.head > 0 => (acc.head + 1) :: acc.tail
        case (acc, true)  => 1 :: acc
        case (acc, false) => 0 :: acc
      }.filter(_ > 0)
      if (runs.isEmpty) assert(!out.contains(id), s"all-silent clip $id must drop")
      else assert(out(id) === ((runs.size.toLong, runs.sum.toLong, runs.max.toLong)), s"doc $id")
    }
    // threshold 0: every frame voiced, one full-span segment per clip
    val all = Multimodal.vadSegmentsFromEnergies(frames, threshold = 0L).collect()
    assert(all.length === ids.size &&
      all.forall(r => r.getAs[Long]("n_segments") === 1L &&
        r.getAs[Long]("voiced_ppm") === 1000000L))
    // threshold above max possible energy (999^2): nothing admitted
    assert(Multimodal.vadSegmentsFromEnergies(frames, threshold = 999L * 999L + 1L)
      .collect().isEmpty)
  }

  test("decodeFeatures: md5-derived stub features, full row count, deterministic") {
    val s = spark; import s.implicits._
    val d = Seq((0L, "abc"), (1L, "defg"), (2L, "hi")).toDF("doc_id", "text")
    val out = Multimodal.decodeFeatures(Multimodal.asMediaTable(d, col("doc_id"), col("text")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size === 3)
    val r0 = out(0L)
    assert(r0.getAs[String]("format") === "mp4")
    assert(r0.getAs[Long]("n_bytes") === 3L)
    // md5("abc") = 900150983cd24fb0... → first 15 hex digits
    val h = java.lang.Long.parseLong("900150983cd24fb".take(15), 16)
    assert(r0.getAs[Long]("feat_hash") === h)
    assert(r0.getAs[Long]("width") === 64L + h % 1217L)
    assert(out(1L).getAs[String]("format") === "mkv")
    assert(out(2L).getAs[String]("format") === "wav")
  }

  test("decodeImages: real PNG round trip recovers manifest dims and pixels exactly") {
    val s = spark; import s.implicits._
    val ids = Seq(0L, 1L, 7L, 12L, 25L, 142L)
    val d   = ids.toDF("doc_id")
    val out = Multimodal.decodeImages(Multimodal.syntheticImages(d, col("doc_id")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size === ids.size)
    ids.foreach { id =>
      val (w, h) = Multimodal.manifestDims(id)
      val r = out(id)
      assert(r.getAs[String]("format") === "png")
      assert(r.getAs[Long]("width") === w.toLong, s"id=$id")
      assert(r.getAs[Long]("height") === h.toLong, s"id=$id")
      // expected hash from the manifest, independent of the codec
      val expect = (for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.manifestPixel(id, x, y).toLong * (y.toLong * w + x + 1)).sum
      assert(r.getAs[Long]("pixel_sum") === expect, s"id=$id")
    }
  }

  test("decodeImages: corrupt payload throws with the doc id, not a silent skip") {
    val s = spark; import s.implicits._
    val bad = Seq((5L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeImages(bad).collect()
    }
    assert(e.getMessage.contains("doc_id=5") ||
      Option(e.getCause).exists(_.getMessage.contains("doc_id=5")))
  }

  test("resizeImages: aspect-fit bounds, nearest-neighbor hash matches a direct recomputation") {
    val s = spark; import s.implicits._
    val ids = Seq(3L, 8L, 15L, 141L) // spans width-bound and height-bound cases
    val d   = ids.toDF("doc_id")
    val out = Multimodal.resizeImages(Multimodal.syntheticImages(d, col("doc_id")), 8L, 6L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    ids.foreach { id =>
      val (w, h) = Multimodal.manifestDims(id)
      val r = out(id)
      assert(r.getAs[Long]("width") === w.toLong && r.getAs[Long]("height") === h.toLong)
      val (nw, nh) = (r.getAs[Long]("new_width"), r.getAs[Long]("new_height"))
      assert(nw <= 8 && nh <= 6 && nw >= 1 && nh >= 1)
      assert(nh === math.max(1L, nw * h / w) || nw === math.max(1L, nh * w / h))
      // recompute the nearest-neighbor hash straight from the manifest
      val expect = (for (y <- 0L until nh; x <- 0L until nw) yield {
        val p = Multimodal.manifestPixel(id, (x * w / nw).toInt, (y * h / nh).toInt)
        p.toLong * (y * nw + x + 1)
      }).sum
      assert(r.getAs[Long]("resized_sum") === expect, s"id=$id")
    }
  }

  test("sampleFrames strides over n_frames") {
    val s = spark; import s.implicits._
    val d = Seq((0L, "x" * 1024)).toDF("doc_id", "text") // 1+1024/256 = 5 frames
    val dec = Multimodal.decodeFeatures(Multimodal.asMediaTable(d, col("doc_id"), col("text")))
    val idx = Multimodal.sampleFrames(dec, 2).select("frame_idx").collect().map(_.getLong(0)).toSeq
    assert(idx === Seq(0L, 2L, 4L))
  }

  test("vadSegments: segments match a host-side recomputation of the stub energies") {
    val s = spark; import s.implicits._
    // 301, 5, 3 and 1 frame(s): real run structure plus edge sizes
    val items = Seq((1L, "z" * 76800), (2L, "y" * 1200), (3L, "x " * 300), (4L, "hello"))
    val d = items.toDF("doc_id", "text")
    val dec = Multimodal.decodeFeatures(Multimodal.asMediaTable(d, col("doc_id"), col("text")))
    val out = Multimodal.vadSegments(dec).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def energy(id: Long, i: Long): Long = {
      val md  = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${id}_$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 1000L
    }
    items.foreach { case (id, text) =>
      val nFrames = 1L + text.getBytes("UTF-8").length.toLong / 256L
      val voiced  = (0L until nFrames).filter(i => energy(id, i) >= 600L)
      val runs = voiced.foldLeft(Vector.empty[Vector[Long]]) { (acc, i) =>
        if (acc.nonEmpty && acc.last.last == i - 1) acc.init :+ (acc.last :+ i)
        else acc :+ Vector(i)
      }
      if (voiced.isEmpty) assert(!out.contains(id), s"all-silent item $id must drop")
      else {
        val r = out(id)
        assert(r.getAs[Long]("n_frames") === nFrames)
        assert(r.getAs[Long]("n_segments") === runs.size.toLong)
        assert(r.getAs[Long]("n_active") === voiced.size.toLong)
        assert(r.getAs[Long]("longest_seg") === runs.map(_.size).max.toLong)
        assert(r.getAs[Long]("voiced_ppm") === voiced.size.toLong * 1000000L / nFrames)
      }
    }
  }

  test("vadSegments: threshold 0 is one full-span segment; threshold 1000 admits nothing") {
    val s = spark; import s.implicits._
    val d = Seq((7L, "a" * 2560)).toDF("doc_id", "text") // 11 frames
    val dec = Multimodal.decodeFeatures(Multimodal.asMediaTable(d, col("doc_id"), col("text")))
    val all = Multimodal.vadSegments(dec, threshold = 0L).collect()
    assert(all.length === 1)
    assert(all.head.getAs[Long]("n_segments") === 1L)
    assert(all.head.getAs[Long]("longest_seg") === 11L)
    assert(all.head.getAs[Long]("voiced_ppm") === 1000000L)
    assert(Multimodal.vadSegments(dec, threshold = 1000L).collect().isEmpty)
  }
}
