package graft.operators

import graft.functions.Portable
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Document-deduplication operators for large-scale training-data
  * pipelines: exact (hash-groupBy), n-gram Jaccard, MinHash + LSH
  * banding, and SimHash. Extension beyond the reference (whose only
  * dedup is row-level by timestamp, `api/api_handler.py:418-425` —
  * see [[Dedup]]); these are the document-level analogues.
  *
  * Scale design:
  *  - Signatures (minhash, simhash) are computed WHOLE-ROW with
  *    higher-order functions (`transform`/`aggregate`) — zero shuffle,
  *    no UDF, no collect; embarrassingly parallel at any scale.
  *  - Pair generation shuffles only on the blocking key (shingle /
  *    LSH band / simhash byte), never all-pairs: candidate volume is
  *    O(docs sharing a block), the standard LSH trade-off.
  *  - All hashes are md5-derived ([[Portable]]) so the DuckDB oracle
  *    reproduces them bit-for-bit.
  */
object TextDedup {

  /** Whitespace tokenization (with multiplicity, order kept). */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word n-gram shingles; empty array when fewer than n
    * words (mirrors the oracle's CASE guard — Spark's `sequence(1,0)`
    * would otherwise count DOWN).
    *
    * ⚠ Column form, for per-row use on SHORT texts only: free
    * subexpressions inside higher-order-function lambdas are
    * re-evaluated per element, so `ws` (the split) runs ~once per
    * gram. For corpus-scale shingling use [[shingleRows]]. */
  def wordNgrams(text: Column, n: Int): Column =
    wordNgramsFromWords(words(text), n)

  /** [[wordNgrams]] over an already-materialized words-array COLUMN
    * (an attribute reference, e.g. `words(text).as("__ws")` in a prior
    * select): the per-element lambda then reads the attribute instead
    * of re-evaluating the split, making gram construction O(n) per
    * gram — this is the corpus-scale column form. */
  def wordNgramsFromWords(ws: Column, n: Int): Column =
    array_distinct(wordNgramsAllFromWords(ws, n))

  /** Multiplicity-KEEPING word n-grams from a materialized words-array
    * column — the single gram-construction core (also behind
    * [[TextAnalysis.topNgramsPerGroup]] and the bigram builders).
    * Fewer than n words yields empty, not a counted-down sequence. */
  def wordNgramsAllFromWords(ws: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(ws) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + lit(j))): _*))
    when(size(ws) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /** [[wordNgramsAllFromWords]] hashed INSIDE the per-row projection —
    * the explode-longs discipline (q189's 16×-at-×100 lesson: grams
    * must leave the row as int64 hashes, never as exploded strings).
    * The gram string exists only transiently inside the lambda. */
  def hashedNgramsAllFromWords(ws: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(ws) - (n - 1)),
      i => Portable.hash60(
        concat_ws(" ", (0 until n).map(j => element_at(ws, i + lit(j))): _*)))
    when(size(ws) >= n, grams).otherwise(array().cast("array<bigint>"))
  }

  /** Corpus-scale shingling: one (doc_id, shingle) row per word
    * n-gram occurrence, built relationally — posexplode the words
    * once, then window `lead` to stitch grams. One shuffle on doc_id
    * (which the downstream minhash aggregate needs anyway) instead of
    * O(grams) re-splits per document; everything stays codegen.
    * NOT distinct — minhash is multiplicity-insensitive; Jaccard
    * callers dedup themselves. */
  def shingleRows(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until n).map(j => lead(col("w"), j).over(w).as(s"w$j"))
    docs
      .select(id.as("doc_id"), posexplode(words(text)).as(Seq("pos", "w")))
      .select(col("doc_id") +: col("w") +: leads: _*)
      .filter(col(s"w${n - 1}").isNotNull) // trailing partial grams
      .select(col("doc_id"), concat_ws(" ", (0 until n).map(j => if (j == 0) col("w") else col(s"w$j")): _*).as("s"))
  }

  /** Top boilerplate shingles by DOCUMENT frequency — the review
    * relation behind every df-cap in the dedup family
    * ([[jaccardPairsFromRows]]' `maxShingleDf`, the banded paths'
    * `maxBandDf`): before capping hot shingles away, an operator reads
    * WHAT is hot (stop-phrases, boilerplate headers/footers) and tunes
    * the cap against it. Input is a (doc_id, s) shingle relation
    * (e.g. [[shingleRows]] — shared/persisted); df counts each doc
    * once.
    *
    * Scale shape: one distinct + one map-side-combined hash-agg on the
    * shingle, then TakeOrderedAndProject for the top-k (per-partition
    * heaps + a k-row driver merge — never a global sort). */
  def boilerplateShingles(shingles: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive (got $k)")
    val df = shingles.select(col("doc_id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("s")).limit(k)
    // rank assigned AFTER the limit: the window sees k rows, not the
    // shingle universe
    df.withColumn(
      "rk", row_number().over(Window.orderBy(desc("df"), asc("s"))).cast("int"))
  }

  /** Inter-source distinct-shingle overlap matrix — for every source
    * pair, how much distinct-shingle mass they share (containment vs
    * the smaller side, exact ppm): the "is CC already inside C4"
    * dataset-analysis question, asked before mixing. Per-shingle
    * fan-out is bounded by C(|sources|,2), so hot shingles never skew
    * a single key the way they do in doc-pair joins — but total cost
    * is ∝ DISTINCT-SHINGLE MASS (measured superlinear across scale
    * decades, ×5.0 per ×10 — SCALING.md), and `keepShingles` is the
    * same production rail every other shingle consumer has
    * ([[jaccardPairsFromRows]]' df cap): only shingles in the keep set
    * ([[rareShingles]]: df ≤ cap) survive to the join. Capped,
    * containment is measured over the capped universe (totals count
    * only surviving shingles — a true containment of the reduced
    * sets, the [[jaccardPairsFromRows]] rule), which is also the more
    * honest overlap signal: corpus-wide boilerplate (what the cap
    * drops) says nothing about whether two sources carry the same
    * CONTENT.
    *
    * `shingleRows` = (doc_id, s) occurrences ([[shingleRows]]);
    * `docSources` = (doc_id, source). */
  def sourceOverlapMatrix(
      shingles: DataFrame,
      docSources: DataFrame,
      keepShingles: Option[DataFrame] = None): DataFrame = {
    // keepShingles is a PRE-BUILT artifact (see [[rareShingles]]):
    // computing exact doc-frequency costs a full (s, doc_id) dedup
    // pass — measured ~2× this whole query at ×100 — so the capped
    // production path builds the keep set ONCE per corpus snapshot
    // (the sign-once lifecycle every other df-cap consumer models).
    // The keep set's SIZE depends on the corpus: tiny on a dup-dense
    // ingest (every shingle's df ≥ copies), but on a diverse corpus
    // "df ≤ cap" is the distinct-shingle LONG TAIL — most of the
    // universe — so the semi-join is NOT pinned to a broadcast (a
    // corpus-sized broadcast is the exact failure the doc→source join
    // below avoids); AQE broadcasts it when it measures small.
    val sh0 = shingles.select(col("doc_id"), col("s"))
    val sh  = keepShingles.fold(sh0)(keep =>
      sh0.join(keep.select(col("s")), Seq("s"), "left_semi"))
    // the doc→source map is CORPUS-SIZED (one row per document) — a
    // "small side" only relative to the shingle relation. Pre-AQE size
    // estimates broadcast it (measured: the ×100 corpus's 500 k-row
    // broadcast build OOM'd an 8 GB driver already holding the shingle
    // cache), and at 100 TB broadcasting a per-document relation is
    // wrong outright — pin the shuffled hash join, build side = the
    // per-partition slice of the source map. The (source, s) distinct
    // right after is the shape that keeps the shuffle slim: map-side
    // partial aggregation collapses occurrences to the tiny
    // (source, shingle) key space before anything moves.
    val srcSh = sh
      .join(docSources.select(col("doc_id"), col("source")).hint("shuffle_hash"), "doc_id")
      .select(col("source"), col("s")).distinct()
    val totals = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    srcSh.as("a")
      .join(srcSh.as("b"), col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(totals.select(col("source").as("source_a"), col("n").as("n_a"))), "source_a")
      .join(broadcast(totals.select(col("source").as("source_b"), col("n").as("n_b"))), "source_b")
      .select(
        col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_shared"),
        expr("(n_shared * 1000000) div least(n_a, n_b)").as("containment_ppm"))
  }

  /** RARE-shingle keep set for [[sourceOverlapMatrix]]'s df cap:
    * shingles in at most `maxDf` DOCUMENTS. One (s, doc_id) dedup +
    * count — the expensive half of any exact doc-frequency cap, built
    * ONCE per corpus snapshot and reused by every capped consumer
    * (the q162 boilerplate review reads the same distribution). */
  def rareShingles(shingles: DataFrame, maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1 (got $maxDf)")
    shingles.select(col("doc_id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("s"))
  }

  /** Exact-duplicate groups by an arbitrary content key (use
    * [[TextAnalysis.fingerprint]] for normalized text): one row per
    * distinct key with the surviving doc id and group size.
    * Single hash-aggregate, one shuffle on the key. */
  def exactDupGroups(docs: DataFrame, id: Column, key: Column): DataFrame =
    docs
      .groupBy(key.as("fp"))
      .agg(min(id).as("keeper_doc_id"), count(lit(1)).as("n_docs"))

  /** The end-to-end dedup DECISION list — what a pipeline actually
    * consumes: per document, `keep` / `drop_exact` / `drop_near` and
    * the survivor it defers to. Exact groups (by `key`) keep their
    * minimum id; near-dup clusters (connected components over `pairs`,
    * [[dedupClusters]]) keep the cluster minimum. When `pairs` comes
    * from a similarity at a threshold exact duplicates always clear
    * (Jaccard/containment = 1 for identical keys), a cluster contains
    * whole exact groups, so the cluster minimum is itself an exact
    * keeper — precedence is exact first, then near. Exact groups too
    * short to shingle fall back to the exact layer alone.
    *
    * Scale shape: one hash-agg on the fingerprint + a fp-partitioned
    * keeper join + one left join against the (pairs-sized, small
    * relative to the corpus) cluster labels. */
  def dedupVerdicts(docs: DataFrame, id: Column, key: Column, pairs: DataFrame): DataFrame =
    dedupVerdictsFromClusters(docs, id, key, dedupClusters(pairs))

  /** [[dedupVerdicts]] over precomputed cluster labels
    * ([[dedupClusters]] output) — pass a PERSISTED one when the same
    * clustering feeds several consumers (labels are the expensive,
    * iterative stage; the verdict itself is two cheap joins). */
  def dedupVerdictsFromClusters(
      docs: DataFrame,
      id: Column,
      key: Column,
      clusters: DataFrame): DataFrame = {
    val fps     = docs.select(id.as("doc_id"), key.as("fp"))
    val keepers = fps.groupBy("fp").agg(min(col("doc_id")).as("__exact_keeper"))
    val clus    = clusters.withColumnRenamed("cluster_id", "__cluster_min")
    val survivor = coalesce(col("__cluster_min"), col("__exact_keeper"))
    fps
      .join(keepers, "fp")
      .join(clus, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        survivor.as("survivor_doc_id"),
        when(col("doc_id") === survivor, "keep")
          .when(col("doc_id") =!= col("__exact_keeper"), "drop_exact")
          .otherwise("drop_near")
          .as("verdict"))
  }

  /** Quality-aware canonical selection: within each near-dup cluster
    * keep the HIGHEST-QUALITY member (ties → smallest doc_id) instead
    * of [[dedupVerdicts]]' smallest-id convention — the production
    * keeper rule when duplicate copies differ (truncation, OCR noise,
    * boilerplate): dropping by id throws away the clean copy half the
    * time; dropping by quality never does.
    *
    * Plan shape: `clusters` holds ONLY clustered docs (tiny vs the
    * corpus → its join broadcasts); unclustered docs are their own
    * group via coalesce. The argmax is `max(struct(quality, -doc_id))`
    * — one shuffle on the group key with map-side partial max, no
    * window, no per-group sort. Returns one row per doc:
    * (doc_id, group_id, keeper_doc_id, is_keeper). */
  def canonicalKeepers(
      docs: DataFrame,
      id: Column,
      quality: Column,
      clusters: DataFrame): DataFrame = {
    val grouped = docs
      .select(id.as("doc_id"), quality.as("__q"))
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("__grp", coalesce(col("cluster_id"), col("doc_id")))
    val keepers = grouped
      .groupBy(col("__grp"))
      // struct max orders by quality first, then by -doc_id — i.e.
      // highest quality, smallest id on ties; exact integer tie-break,
      // so the argmax is engine-portable
      .agg(max(struct(col("__q"), (-col("doc_id")).as("__neg"))).as("__best"))
      .select(col("__grp"), (-col("__best.__neg")).as("keeper_doc_id"))
    grouped
      .join(keepers, "__grp")
      .select(
        col("doc_id"),
        col("__grp").as("group_id"),
        col("keeper_doc_id"),
        (col("doc_id") === col("keeper_doc_id")).as("is_keeper"))
  }

  /** CCNet/Dolma-style GLOBAL paragraph dedup (boilerplate removal):
    * segment every document, ban segments whose corpus-wide document
    * frequency exceeds `maxDocFreq`, and reassemble each document from
    * its surviving segments. This is the removal counterpart of the
    * pair-finding dedup ops: headers, cookie banners, license blurbs
    * shared by thousands of pages are deleted in place while unique
    * prose survives — within-doc repetition is [[TextAnalysis]]'
    * Gopher metrics; this is the ACROSS-doc analogue.
    *
    * Segmentation is CONTENT-DEFINED: a word whose 32-bit hash is
    * ≡ 0 (mod `breakDivisor`) ENDS a segment (mean length ≈
    * `breakDivisor` words). On corpora with layout, break on blank
    * lines instead (CCNet splits on '\n'); content-defined breakpoints
    * are the shift-invariant equivalent for text without structure —
    * identical passages segment identically regardless of their offset
    * in each host document, the same property [[TextAnalysis.dupSpans]]
    * relies on for its anchors. A fixed-stride grid would misalign
    * every shifted copy and ban nothing.
    *
    * Scale shape: tokenization and boundary flags are map-side
    * expressions; ONE token-scale exchange on doc_id feeds the
    * prefix-sum window, and the per-segment re-agg and the final
    * per-doc assembly both REUSE that partitioning (hash(doc_id)
    * satisfies their clustering — no further corpus exchange). The
    * document-frequency agg shuffles (hash, doc) pairs at segment
    * scale; the banned list (df > maxDocFreq — boilerplate only, by
    * construction a vanishing fraction of distinct segments) broadcasts
    * back. Nothing is all-pairs.
    *
    * Returns one row per non-empty doc:
    * (doc_id, n_segments, n_dropped, clean_text). */
  def paragraphDedup(
      docs: DataFrame,
      id: Column,
      text: Column,
      breakDivisor: Int = 4,
      maxDocFreq: Long = 1): DataFrame = {
    val toks = docs
      .select(
        id.as("doc_id"),
        posexplode(filter(words(text), w => w =!= "")).as(Seq("__pos", "__w")))
      .withColumn(
        "__brk",
        (pmod(Portable.hash32(col("__w")), lit(breakDivisor.toLong)) === 0).cast("long"))
    // seg index of a word = breaks STRICTLY BEFORE it (a breaking word
    // ends its own segment), i.e. an exclusive running sum
    val prior = Window.partitionBy("doc_id").orderBy("__pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val segs = toks
      .withColumn("__seg", coalesce(sum(col("__brk")).over(prior), lit(0L)))
      .groupBy(col("doc_id"), col("__seg"))
      .agg(
        min(col("__pos")).as("__start"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__w")))),
            s => s("__w")),
          " ").as("__stext"))
      .withColumn("__h", Portable.hash60(col("__stext")))
    val banned = segs
      .groupBy(col("__h"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select(col("__h"), lit(true).as("__banned"))
    segs
      .join(broadcast(banned), Seq("__h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__banned"), 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips the nulls `when` leaves on banned rows
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__banned").isNull, struct(col("__start"), col("__stext"))))),
            s => s("__stext")),
          " ").as("clean_text"))
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle,
    * thresholded. The shingle-key join IS the blocking step: pairs
    * with zero overlap are never materialized. `shingles` must be a
    * distinct-element array column.
    *
    * At 100 TB this is the rescoring stage after LSH ([[lshPairs]]);
    * standalone it is exact and suits corpora where the shingle
    * posting lists stay short. For skewed corpora pass `maxShingleDf`:
    * a single shingle shared by 10^6 docs otherwise yields 10^12
    * candidate rows out of the self-join (quadratic in the posting
    * list — AQE skew-split only spreads the explosion, it cannot
    * shrink it).
    */
  def jaccardPairs(
      docs: DataFrame,
      id: Column,
      shingles: Column,
      threshold: Double,
      maxShingleDf: Option[Long] = None): DataFrame =
    jaccardPairsFromRows(docs.select(id.as("doc_id"), explode(shingles).as("s")), threshold, maxShingleDf)

  /** [[jaccardPairs]] over a (doc_id, s) shingle-occurrence relation
    * (e.g. [[shingleRows]]); dedups occurrences itself.
    *
    * `maxShingleDf` (off by default — exact semantics) drops shingles
    * whose document frequency exceeds the cap BEFORE the self-join,
    * bounding every posting list to ≤ cap docs and therefore the
    * candidate volume to ≤ cap²/2 per shingle. Standard near-dup
    * practice: a shingle in half the corpus carries ~no similarity
    * signal but all of the join cost. With the cap on, Jaccard is
    * measured over the capped shingle universe — per-doc sizes count
    * only surviving shingles, so the estimate stays a true Jaccard of
    * the reduced sets rather than a mixed-denominator hybrid. The
    * dropped/kept counts are published as observable metrics
    * (`jaccard_shingle_cap`: dropped_shingles, kept_shingles) readable
    * via a QueryExecutionListener — no extra job to account for them. */
  def jaccardPairsFromRows(
      shRaw: DataFrame,
      threshold: Double,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val sh0 = shRaw.select(col("doc_id"), col("s")).distinct()
    val sh = maxShingleDf match {
      case None => sh0
      case Some(cap) =>
        val keep = sh0
          .groupBy("s").agg(count(lit(1)).as("__df"))
          .observe(
            "jaccard_shingle_cap",
            count(when(col("__df") > cap, 1)).as("dropped_shingles"),
            count(when(col("__df") <= cap, 1)).as("kept_shingles"))
          .filter(col("__df") <= cap)
          .select("s")
        // left-semi: the doc-frequency relation never widens the rows
        sh0.join(keep, Seq("s"), "left_semi")
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Dedup-threshold TUNING SWEEP over a scored pair relation
    * (doc_a, doc_b, jaccard): pair mass and affected-doc count at each
    * candidate threshold — the curve an operator reads before fixing
    * the near-dup bar (too low deletes real content, too high keeps
    * duplicates; this makes the trade a number per bar). Score ONCE at
    * the LOOSEST bar you'd consider and sweep the tighter ones here.
    * Returns (threshold, n_pairs, n_docs_affected).
    *
    * Scale shape: the pair relation is orders of magnitude below the
    * corpus; the |thresholds|-way explode multiplies only the slim
    * (jaccard) / (doc, jaccard) projections, and both rollups are
    * map-side-combined hash-aggs to |thresholds| rows. */
  def thresholdSweep(pairs: DataFrame, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val th = thresholds.distinct.sorted
    val nPairs = pairs
      .select(col("jaccard"), explode(typedlit(th)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(count(when(col("jaccard") >= col("threshold"), 1)).as("n_pairs"))
    val nDocs = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"), col("jaccard"))
      .select(col("doc_id"), col("jaccard"), explode(typedlit(th)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(countDistinct(when(col("jaccard") >= col("threshold"), col("doc_id"))).as("n_docs_affected"))
    nPairs.join(nDocs, "threshold")
  }

  /** EXACT thresholded Jaccard for a CANDIDATE pair list only — the
    * rescoring tail shared by every blocked path ([[lshRescoredPairs]],
    * [[prefixJaccardPairs]]): intersection counts come from joining the
    * candidate list to the occurrence relation per side (the candidate
    * side is usually broadcastable — AQE decides), one pair-keyed
    * hash-agg; the quadratic posting-list self-join never appears. */
  private def rescoreCandidates(
      cands: DataFrame,
      sh: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id") && col("a.s") === col("b.s"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Prefix-filtered EXACT set-similarity self-join (the prefix-filter
    * principle of Chaudhuri et al., ICDE 2006; PPJoin family, Xiao et
    * al., WWW 2008): every pair with true Jaccard ≥ `threshold` over
    * the FULL shingle universe — no df-cap, no LSH recall loss — with
    * the posting-list explosion tamed by ORDERING instead of dropping.
    *
    * Tokens are globally ordered by (document frequency asc, token) —
    * rarest first — and each doc indexes only its first
    * `n − ⌈t·n⌉ + 1` tokens. Exactness: if |A∩B| ≥ α, the globally
    * smallest common element has rank ≤ |A|−α+1 in A and ≤ |B|−α+1 in
    * B (α−1 more common elements follow it in both), so it lies in
    * BOTH prefixes; Jaccard ≥ t forces α ≥ ⌈t·max(|A|,|B|)⌉, which
    * covers each side's own prefix bound. A corpus-wide boilerplate
    * trigram (the [[jaccardPairsFromRows]] job-killer) sits LAST in
    * the global order and enters a prefix only for docs with almost
    * no rarer token, so hot posting lists shrink instead of explode.
    * FP guard: the ⌈t·n⌉ bounds are computed as `ceil(t·n − 1e-9)` —
    * an ulp error can only LENGTHEN a prefix / WIDEN the length
    * filter (more candidates, never a lost true pair).
    *
    * The length filter (t·|A| ≤ |B|) prunes candidates before the
    * pair-dedup; survivors are rescored exactly by
    * [[rescoreCandidates]]. Worst case — a giant group of identical
    * sets — is quadratic in the OUTPUT, inherent to exact semantics;
    * corpora where that happens should run [[exactDupGroups]] first
    * (identical sets are exact dups of the normalized text) or accept
    * the LSH recall trade of [[lshRescoredPairs]].
    *
    * Scale shape: one df aggregate on the occurrence relation, one
    * per-doc window (rank within doc by global order), the slim
    * (doc_id, s, n) prefix self-join, then the candidate-only rescore.
    */
  def prefixJaccardPairs(shRaw: DataFrame, threshold: Double): DataFrame =
    prefixJaccardPairsImpl(shRaw, threshold, anchorGate = None)

  /** [[prefixJaccardPairs]] restricted to hash-sampled ANCHORS — the
    * exact-truth side of the 100 TB audit ([[recallAuditSampled]]'s
    * contract) with the cost actually proportional to the sample: the
    * [[graft.functions.Portable.sampleGate]] is applied to the ANCHOR
    * (doc_a) side of the pair-forming self-join, BELOW the join — not
    * as a post-filter on the full pair relation. The relation is
    * identical to `prefixJaccardPairs(sh, t).filter(gate(doc_a))`
    * (doc_a is always the join's `a.doc_id`, and the rescore group key
    * leads with doc_a), but the quadratic candidate join runs
    * gated-prefix × full-prefix instead of full × full, and the
    * rescore moves only the sampled anchors' candidate pairs. The
    * global df ordering and per-doc prefix bounds are still computed
    * over the FULL universe — required for exactness of the sampled
    * anchors' pairs. The round-12 ×100 run measured the difference:
    * the post-filter form (gated above a materialized full-truth
    * relation) DNF'd on shuffle-spill disk (∝ K² bytes); this form's
    * spill is ∝ sample. */
  def prefixJaccardPairsSampled(
      shRaw: DataFrame,
      threshold: Double,
      rateBps: Int,
      seed: String = "audit"): DataFrame = {
    require(rateBps > 0 && rateBps <= 10000, s"rateBps must be in (0, 10000]: $rateBps")
    prefixJaccardPairsImpl(
      shRaw, threshold,
      anchorGate = Some(id => Portable.sampleGate(id, rateBps, seed)))
  }

  /** [[prefixJaccardPairs]] restricted to a TWO-SIDED hash sample —
    * the audit truth that stays FLAT on variant-heavy corpora. The
    * one-sided gate ([[prefixJaccardPairsSampled]]) divides pair mass
    * by its rate, but each sampled anchor still pairs with ALL K
    * members of its duplicate group: per-group sampled pair mass is
    * ~rate·K², so at any fixed rate a ×K corpus grows quadratically
    * (the round-13 69 GB spill at the 50% fixture rate — exact
    * collapse, q216's dial, only removes the EXACT-copy half). Gating
    * BOTH sides with INDEPENDENT gates makes pair mass
    * rate_a·rate_b·K²: scale both rates ∝ 1/K and the pair budget is
    * FIXED at any K, while anchors per group (rate_a·K) stay
    * populated. Identical relation to
    * `prefixJaccardPairs(sh, t).filter(gateA(doc_a) && gateB(doc_b))`
    * (each gate pushed below the pair-forming join on its own side —
    * doc_a ≡ a.doc_id, doc_b ≡ b.doc_id), and both prefixes still use
    * the FULL-universe df order and bounds, so sampled pairs carry
    * their exact Jaccard. The same gated pair UNIVERSE must be applied
    * to the candidate relation ([[lshRescoredPairsSampledBoth]], same
    * rates/seeds) — then recall over the sample estimates recall over
    * all pairs without bias (every pair is included with the same
    * probability rate_a·rate_b, independent of whether LSH finds it).
    * The trade is variance, not cost: fewer sampled pairs ⇒ wider
    * error bars on recall_ppm — the production posture picks rates for
    * a target pair budget, not a target doc count. */
  def prefixJaccardPairsSampledBoth(
      shRaw: DataFrame,
      threshold: Double,
      rateABps: Int,
      rateBBps: Int,
      seedA: String = "audit",
      seedB: String = "partner"): DataFrame = {
    require(rateABps > 0 && rateABps <= 10000, s"rateABps must be in (0, 10000]: $rateABps")
    require(rateBBps > 0 && rateBBps <= 10000, s"rateBBps must be in (0, 10000]: $rateBBps")
    prefixJaccardPairsImpl(
      shRaw, threshold,
      anchorGate  = Some(id => Portable.sampleGate(id, rateABps, seedA)),
      partnerGate = Some(id => Portable.sampleGate(id, rateBBps, seedB)))
  }

  private def prefixJaccardPairsImpl(
      shRaw: DataFrame,
      threshold: Double,
      anchorGate: Option[Column => Column],
      partnerGate: Option[Column => Column] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1] (got $threshold)")
    val sh    = shRaw.select(col("doc_id"), col("s")).distinct()
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("__df"))
    val wDoc  = Window.partitionBy(col("doc_id")).orderBy(col("__df").asc, col("s").asc)
    val ranked = sh
      .join(dfreq, Seq("s"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("__r", row_number().over(wDoc))
    val alpha  = ceil(lit(threshold) * col("n") - lit(1e-9))
    val prefix = ranked
      .filter(col("__r") <= col("n") - alpha + 1)
      .select(col("doc_id"), col("s"), col("n"))
    // anchor gate BELOW the pair join: doc_a ≡ a.doc_id, so gating the
    // a-side prefix is exactly a doc_a post-filter — minus the K² join.
    // The partner gate (two-sided mode) is the same move on the b-side
    // — and the joint candidate volume per hot shingle shrinks to
    // rate_a·rate_b·df², the flat-at-any-K budget.
    val prefixA = anchorGate.fold(prefix)(g => prefix.filter(g(col("doc_id"))))
    val prefixB = partnerGate.fold(prefix)(g => prefix.filter(g(col("doc_id"))))
    val cands = prefixA.as("a")
      .join(
        prefixB.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // J ≥ t needs |A∩B| ≥ t·max(n_a,n_b) and |A∩B| ≤ min(n_a,n_b)
          col("b.n") >= lit(threshold) * col("a.n") - lit(1e-9) &&
          col("a.n") >= lit(threshold) * col("b.n") - lit(1e-9))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    rescoreCandidates(cands, sh, threshold)
  }

  /** Partial-overlap / containment pairs from winnowing fingerprints
    * ([[TextAnalysis.winnowingFingerprints]]): two docs pair when they
    * share fingerprints, scored by the containment coefficient
    * |shared| / min(|fps_a|, |fps_b|) — which catches a short document
    * embedded in a long one, exactly the case Jaccard dilutes toward 0.
    *
    * All quantities are computed over the df-capped fingerprint
    * universe, and `maxFpDf` is ON by default: winnowing grams are
    * only k chars, so boilerplate fingerprints recur corpus-wide
    * (measured max df 1302 across 5k docs; a cap of 64 cut candidate
    * volume 12×) and carry no overlap signal. Dropped/kept counts are
    * published via the `winnow_fp_cap` observation. The join is
    * banded by fingerprint — posting lists ≤ cap ⇒ candidate volume
    * ≤ cap²/2 per fingerprint, never all-pairs. */
  def winnowOverlapPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 8,
      w: Int = 4,
      maxFpDf: Long = 64L,
      minOverlap: Double = 0.5): DataFrame =
    winnowOverlapPairsFromFps(
      TextAnalysis.winnowingFingerprints(docs, id, text, k, w),
      maxFpDf,
      minOverlap)

  /** [[winnowOverlapPairs]] over a precomputed (doc_id, …, fp)
    * fingerprint relation — pass a PERSISTED one when several queries
    * consume the same fingerprints (the fingerprint pipeline otherwise
    * recomputes once per plan reference: sizes + both join sides). */
  def winnowOverlapPairsFromFps(
      fpRows: DataFrame,
      maxFpDf: Long = 64L,
      minOverlap: Double = 0.5): DataFrame =
    winnowPairsFromKept(winnowKeptFps(fpRows, maxFpDf), minOverlap)

  /** The df-capped fingerprint universe: distinct (doc_id, fp) whose
    * fp's document frequency is ≤ the cap, with the dropped/kept
    * distinct-fp counts published via the `winnow_fp_cap`
    * observation. Shared by [[winnowOverlapPairsFromFps]] and the
    * reps-first form (whose within-group scores need the SAME capped
    * universe the pair path uses — one definition, one plan subtree,
    * the fp exchange reused across both consumers). */
  private[operators] def winnowKeptFps(fpRows: DataFrame, maxFpDf: Long): DataFrame = {
    val fp0 = fpRows.select(col("doc_id"), col("fp")).distinct()
    // POSTING-LIST pair generation. Order matters for memory safety:
    // the per-fp document frequency is computed by a windowed count on
    // ONE fp exchange and the cap filters BEFORE any list is
    // collected — a corpus-wide boilerplate fingerprint must never
    // build its full doc array in an aggregation buffer. (The windowed
    // count replaces a groupBy-df + semi-join formulation: same
    // semantics, one exchange of the occurrence relation instead of
    // two plus a join — measured 3.6 s → 2.5 s at sf0.1.) The
    // surviving (≤ cap-id) posting lists are then collected — that
    // groupBy rides the window's fp partitioning, no extra exchange —
    // and the i<j pairs are generated MAP-SIDE from each sorted list
    // instead of a fp-key self-join, so colliding rows never
    // materialize through a join operator. Candidate volume is
    // identical (≤ cap²/2 per fingerprint). The dropped/kept distinct-
    // fp counts are observed on the rn=1 marker rows pre-filter —
    // identical values to the old aggregate form.
    val wFp = Window.partitionBy(col("fp"))
    val marked = fp0
      .withColumn("__df", count(lit(1)).over(wFp))
      .withColumn("__rn", row_number().over(wFp.orderBy(col("doc_id"))))
      .observe(
        "winnow_fp_cap",
        count(when(col("__rn") === 1 && col("__df") > maxFpDf, 1)).as("dropped_fps"),
        count(when(col("__rn") === 1 && col("__df") <= maxFpDf, 1)).as("kept_fps"))
    marked.filter(col("__df") <= maxFpDf).select(col("doc_id"), col("fp"))
  }

  /** The posting-list pair generation + containment scoring over an
    * already-capped (doc_id, fp) universe — see
    * [[winnowOverlapPairsFromFps]] for the memory-safety argument. */
  private[operators] def winnowPairsFromKept(
      kept: DataFrame,
      minOverlap: Double): DataFrame = {
    val lists = kept
      .groupBy("fp")
      .agg(array_sort(collect_list(col("doc_id"))).as("__ds"))
      .select(col("__ds"))
    val sizes = kept
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"))
    // all i<j pairs of the sorted list ⇒ doc_a < doc_b by construction
    val pairs = lists.select(
      explode(flatten(transform(
        col("__ds"),
        (a, i) => transform(
          slice(col("__ds"), i + lit(2), size(col("__ds"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
    val shared = pairs
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("sa.n"), col("sb.n"))).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** [[winnowOverlapPairs]]'s reps-first production form, with the
    * fp df-cap measured over DISTINCT CONTENT: collapse exact
    * duplicates under [[TextAnalysis.fingerprint]] (the q105
    * normalized-content contract — winnowing normalizes text the SAME
    * way, so equal fingerprints ⇒ byte-identical (gram_pos, fp)
    * streams), run the whole posting-list machinery on one
    * representative per group, and expand rep pairs back through
    * [[expandRepPairs]] (cross-group pairs carry the rep pair's
    * n_shared/overlap — members' kept-fp sets ARE their reps'; a
    * within-group pair shares its rep's every kept fp: n_shared =
    * |kept(rep)|, overlap = 1.0 exactly; groups whose rep loses ALL
    * fps to the cap expand to nothing, mirroring the direct form).
    *
    * This is DELIBERATELY not [[winnowOverlapPairs]] under
    * duplication: there df counts DOCUMENTS, so 1 000 copies of one
    * page flood a fingerprint past the cap and erase the overlap
    * signal for every OTHER document sharing it (copy-flooding).
    * Counting df over reps makes the boilerplate verdict a property
    * of distinct content — a fingerprint is corpus-wide boilerplate
    * because many DIFFERENT documents carry it, not because one
    * document was copied. On a corpus with no exact duplicates among
    * fp-bearing docs the two forms are identical
    * (Round14OperatorsSpec pins both laws).
    *
    * Scale shape: the df window, posting-list collect and map-side
    * pair generation all run on the rep relation (∝ distinct
    * content); the expansion is three output-bound equi-joins — the
    * same discipline as [[lshRescoredPairsViaReps]]. */
  def winnowOverlapPairsViaReps(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 8,
      w: Int = 4,
      maxRepFpDf: Long = 64L,
      minOverlap: Double = 0.5): DataFrame =
    winnowOverlapPairsViaRepsFromFps(
      docs, id, text,
      TextAnalysis.winnowingFingerprints(docs, id, text, k, w),
      maxRepFpDf, minOverlap)

  /** [[winnowOverlapPairsViaReps]] over a precomputed (doc_id, …, fp)
    * fingerprint relation — pass the PERSISTED corpus fingerprints
    * (q54's shared artifact) so the expensive winnowing pass is
    * shared, exactly like [[winnowOverlapPairsFromFps]]. */
  /** doc → exact-group keeper map under [[TextAnalysis.fingerprint]],
    * restricted to docs present in `fpRows` (docs that emit no winnow
    * fingerprint appear in no pair relation, so their groups must not
    * expand). Returns (doc_id, rep_id); rep = min doc_id, the q105
    * keeper contract. The [[wordSeqMembers]] sibling for the
    * normalized-content collapse key — same sign-once lifecycle
    * artifact shape. */
  def fingerprintMembers(
      docs: DataFrame,
      id: Column,
      text: Column,
      fpRows: DataFrame): DataFrame = {
    val m = docs.select(id.as("doc_id"), TextAnalysis.fingerprint(text).as("__nfp"))
      .join(fpRows.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val reps = m.groupBy(col("__nfp")).agg(min(col("doc_id")).as("rep_id"))
    m.join(reps, Seq("__nfp")).select(col("doc_id"), col("rep_id"))
  }

  def winnowOverlapPairsViaRepsFromFps(
      docs: DataFrame,
      id: Column,
      text: Column,
      fpRows: DataFrame,
      maxRepFpDf: Long = 64L,
      minOverlap: Double = 0.5,
      precomputedMembers: Option[DataFrame] = None): DataFrame = {
    val members = precomputedMembers.getOrElse(fingerprintMembers(docs, id, text, fpRows))
    val repIds  = members.filter(col("doc_id") === col("rep_id")).select(col("doc_id"))
    val repFps  = fpRows.join(repIds, Seq("doc_id"), "left_semi")
    // ONE capped universe feeds both the pair path and the
    // within-group scores (same subtree ⇒ the fp exchange is reused)
    val kept     = winnowKeptFps(repFps, maxRepFpDf)
    val repPairs = winnowPairsFromKept(kept, minOverlap)
    // a rep's kept-fp count under the SAME rep-level df-cap — the
    // within-group pair's n_shared (identical sets share everything)
    val self = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id").as("rep_id"), col("n_shared"), lit(1.0).as("overlap"))
      .filter(col("overlap") >= minOverlap)
    expandRepPairs(repPairs, members, self, Seq("n_shared", "overlap"), "doc_a", "doc_b")
  }

  /** Benchmark decontamination: flag every corpus document sharing at
    * least one word n-gram with a benchmark/eval set, with the count
    * of distinct contaminated grams — the standard pre-training
    * hygiene pass (n = 13 in public practice; parameterized here).
    *
    * Scale shape: the benchmark side is eval sets — thousands of
    * documents against a 100 TB corpus — so its distinct grams are
    * BROADCAST and the corpus-side shingle stream never shuffles for
    * the join; the only exchange is the per-doc count aggregate. If a
    * benchmark ever outgrows broadcast, drop the hint and Spark falls
    * back to a shuffled join on the gram key. */
  def contaminationFlags(
      corpus: DataFrame,
      corpusId: Column,
      corpusText: Column,
      bench: DataFrame,
      benchText: Column,
      n: Int = 5): DataFrame = {
    // corpus side: the map-only n-gram explode (distinct within each
    // doc already), NOT the windowed shingleRows — the broadcast join
    // needs no co-partitioning, so the only exchange in the plan is
    // the final per-doc count's. Words are materialized to a column
    // first so the gram lambda reads an attribute, not a re-split.
    val corpusGrams = corpus
      .select(corpusId.as("doc_id"), words(corpusText).as("__ws"))
      .select(col("doc_id"), explode(wordNgramsFromWords(col("__ws"), n)).as("s"))
    val benchGrams = bench
      .select(words(benchText).as("__ws"))
      .select(explode(wordNgramsFromWords(col("__ws"), n)).as("s"))
      .distinct()
    corpusGrams
      .join(broadcast(benchGrams), Seq("s"), "inner")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated_grams"))
  }

  /** Number of minhash permutations (signature length). */
  val MinhashK = 16

  /** LSH banding: 8 bands × 2 rows over the 16-slot signature. */
  val LshBands = 8

  /** Per-document minhash signature as a length-16 array: explode
    * shingles, hash each ONCE (60-bit md5 → mod P), then one
    * hash-aggregate with 16 `min(perm_k(h))` columns. One shuffle on
    * doc_id with map-side partial mins — O(shingles) md5 calls total.
    * (A whole-row `transform(sequence(0,15), k -> array_min(...))`
    * form is shuffle-free but CollapseProject inlines the shingle/md5
    * subtree into all 16 branches → 16× the hash work; measured 200s
    * vs ~2s at sf0.1. Min over the affine permutation is insensitive
    * to shingle multiplicity, so no distinct needed here.)
    * Docs with no shingles are dropped (their signature is undefined —
    * and the row-exploded oracle omits them too). */
  def minhashSignatures(docs: DataFrame, id: Column, shingles: Column): DataFrame =
    minhashSignaturesFromRows(docs.select(id.as("doc_id"), explode(shingles).as("s")))

  /** [[minhashSignatures]] over a (doc_id, s) shingle-occurrence
    * relation (e.g. [[shingleRows]]). */
  def minhashSignaturesFromRows(shRows: DataFrame): DataFrame = {
    val sh = shRows.select(col("doc_id"), pmod(Portable.hash60(col("s")), lit(Portable.P)).as("h"))
    val aggs = (0 until MinhashK).map(k => min(Portable.minhashPermAt(k, col("h"))).as(s"m$k"))
    sh.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until MinhashK).map(k => col(s"m$k")): _*).as("sig"))
  }

  /** MinHash-LSH near-duplicate pairs: band the signature (2 rows per
    * band → band key = sig[2j]·P + sig[2j+1], collision-free since
    * sig values < P), self-join per band on SLIM (doc_id, band,
    * band_key) rows, dedup the candidate pairs, then join the
    * signatures back — once per side, candidates only — to estimate
    * Jaccard as the fraction of equal slots and threshold.
    *
    * The slim band relation is the scale point: the 16-slot signature
    * array must NOT ride the band self-join exchange (each doc would
    * ship its array once per band per side — 16× the shuffle bytes;
    * measured 4.6 s → ~1 s at sf0.1 for the slim form). Candidate
    * pairs are tiny relative to the banded relation, so the two
    * signature joins are broadcast-shaped under AQE. est_jaccard =
    * n_equal/16 is exact rational arithmetic in double, deterministic.
    *
    * `maxBandDf` (off by default — exact LSH recall) drops band
    * BUCKETS whose document frequency exceeds the cap before the
    * self-join. A giant exact-duplicate group collides in EVERY band
    * and re-creates the quadratic blowup LSH exists to avoid (a
    * 10^6-doc boilerplate cluster → 8·10^12 candidate rows); such
    * groups belong to the exact-dedup layer ([[exactDupGroups]]),
    * which handles them in one hash-agg. Dropped/kept bucket counts
    * are published via the `lsh_band_cap` observation. The windowed
    * count rides the same (band, band_key) exchange the self-join
    * needs, so the cap adds no extra shuffle of the banded relation.
    * (Observation caveat: if the capped result is fully EMPTY, AQE's
    * empty-relation propagation replaces the subtree — CollectMetrics
    * included — with an empty scan during runtime re-optimization, so
    * the metric is not delivered for that run. Cosmetic: the data
    * outcome is correct; only the accounting row is absent.)
    */
  def lshPairs(
      sigs: DataFrame,
      estThreshold: Double,
      maxBandDf: Option[Long] = None): DataFrame =
    lshPairsImpl(sigs, estThreshold, maxBandDf, anchorGate = None)

  private def lshPairsImpl(
      sigs: DataFrame,
      estThreshold: Double,
      maxBandDf: Option[Long],
      anchorGate: Option[Column => Column],
      partnerGate: Option[Column => Column] = None): DataFrame = {
    val bands0 = bandRows(sigs)
    val bands = maxBandDf match {
      case None => bands0
      case Some(cap) =>
        val wB = Window.partitionBy(col("band"), col("band_key"))
        bands0
          .withColumn("__df", count(lit(1)).over(wB))
          .withColumn("__rn", row_number().over(wB.orderBy(col("doc_id"))))
          .observe(
            "lsh_band_cap",
            count(when(col("__rn") === 1 && col("__df") > cap, 1)).as("dropped_buckets"),
            count(when(col("__rn") === 1 && col("__df") <= cap, 1)).as("kept_buckets"))
          .filter(col("__df") <= cap)
          .select("doc_id", "band", "band_key")
    }
    // anchor gate BELOW the band join (sampled-audit mode): doc_a is
    // always a.doc_id, so gating the a-side band rows pre-join is
    // exactly a doc_a post-filter on the candidate relation — but the
    // band self-join and the rescore only ever see sampled anchors.
    // The df cap above is computed over the FULL band relation first,
    // so capped-bucket semantics are gate-invariant. The partner gate
    // (two-sided mode) mirrors the move on the b-side band rows.
    val bandsA = anchorGate.fold(bands)(g => bands.filter(g(col("doc_id"))))
    val bandsB = partnerGate.fold(bands)(g => bands.filter(g(col("doc_id"))))
    val cands = bandsA.as("a")
      .join(
        bandsB.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val nEqual = size(filter(zip_with(col("sa.sig"), col("sb.sig"), (x, y) => x === y), b => b))
    cands
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), (nEqual.cast("double") / MinhashK).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
  }

  /** INCREMENTAL near-dup candidates: a NEW batch against an EXISTING
    * signature index — the steady-state ingest path at 100 TB, where
    * re-self-joining the whole corpus per arriving batch would be
    * O(corpus) per batch for an O(batch)-sized question. Bands of the
    * new side join bands of the index side on (band, band_key) — cost
    * scales with the BATCH, the index is only probed on colliding
    * buckets — then signatures rejoin once per side to score (same
    * slim-exchange discipline as [[lshPairs]]). Returns
    * (doc_id, index_doc_id, est_jaccard ≥ estThreshold); a doc already
    * in the index pairs with itself at est 1.0, so this same relation
    * answers "is this new doc a re-ingest?".
    *
    * `maxBandDf` caps INDEX band buckets (the side that can be huge):
    * a giant boilerplate cluster in the index would otherwise pair
    * with every matching new doc once per band. Metrics published as
    * `lsh_index_band_cap`. */
  def lshPairsAgainstIndex(
      newSigs: DataFrame,
      indexSigs: DataFrame,
      estThreshold: Double,
      maxBandDf: Option[Long] = None): DataFrame = {
    val newBands = bandRows(newSigs)
    val idxBands0 = bandRows(indexSigs)
    val idxBands = maxBandDf match {
      case None => idxBands0
      case Some(cap) =>
        val wB = Window.partitionBy(col("band"), col("band_key"))
        idxBands0
          .withColumn("__df", count(lit(1)).over(wB))
          .withColumn("__rn", row_number().over(wB.orderBy(col("doc_id"))))
          .observe(
            "lsh_index_band_cap",
            count(when(col("__rn") === 1 && col("__df") > cap, 1)).as("dropped_buckets"),
            count(when(col("__rn") === 1 && col("__df") <= cap, 1)).as("kept_buckets"))
          .filter(col("__df") <= cap)
          .select("doc_id", "band", "band_key")
    }
    val cands = newBands.as("a")
      .join(
        idxBands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("__dn"), col("b.doc_id").as("__di"))
      .dropDuplicates("__dn", "__di")
    val nEqual = size(filter(zip_with(col("sa.sig"), col("sb.sig"), (x, y) => x === y), b => b))
    cands
      .join(newSigs.as("sa"), col("__dn") === col("sa.doc_id"))
      .join(indexSigs.as("sb"), col("__di") === col("sb.doc_id"))
      .select(
        col("__dn").as("doc_id"), col("__di").as("index_doc_id"),
        (nEqual.cast("double") / MinhashK).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
  }

  /** Incremental EXACT layer: new docs whose content fingerprint
    * already exists in the index — one broadcast-or-shuffled equi-join
    * on the 128-bit key, O(batch) probe work. Pairs with
    * [[lshPairsAgainstIndex]] exactly like [[exactDupGroups]] pairs
    * with [[lshPairs]] in the batch path. */
  def exactDupsAgainstIndex(
      newDocs: DataFrame,
      id: Column,
      key: Column,
      index: DataFrame): DataFrame =
    newDocs
      .select(id.as("doc_id"), key.as("fp"))
      .join(index.select(col("fp"), col("keeper_doc_id")), Seq("fp"), "inner")
      .select(col("doc_id"), col("keeper_doc_id"), col("fp"))

  /** Slim banded relation of a signature table — shared by the batch
    * self-join and the incremental index probe. */
  private def bandRows(sigs: DataFrame): DataFrame = {
    val bandKeys = transform(
      sequence(lit(0), lit(LshBands - 1)),
      j => element_at(col("sig"), j * 2 + 1) * lit(Portable.P) + element_at(col("sig"), j * 2 + 2))
    sigs.select(col("doc_id"), posexplode(bandKeys).as(Seq("band", "band_key")))
  }

  /** The PRODUCTION near-dup path the docstrings above describe:
    * MinHash-LSH blocking ([[lshPairs]]) to generate candidates, then
    * EXACT n-gram Jaccard computed for the candidate pairs ONLY —
    * never the full shingle self-join of [[jaccardPairsFromRows]].
    * Exactness of the score with the recall of LSH: a pair missed by
    * every band is missed here too (recall < 1 by construction), but
    * every emitted pair carries the true Jaccard, so `threshold` is a
    * real guarantee, not an estimate.
    *
    * Scale shape: candidates are band-join-bounded (tiny relative to
    * the corpus); the rescoring joins the candidate list to the
    * shingle relation on each side — the candidate side is usually
    * broadcastable (AQE decides), and the intersection count is one
    * (doc_a, doc_b)-keyed hash-agg. The full posting-list self-join —
    * quadratic on hot shingles — never appears in the plan. */
  def lshRescoredPairs(
      shRows: DataFrame,
      estThreshold: Double,
      threshold: Double,
      maxBandDf: Option[Long] = None,
      precomputedSigs: Option[DataFrame] = None): DataFrame = {
    val sh = shRows.select(col("doc_id"), col("s")).distinct()
    // Signatures are an index artifact — a caller holding a
    // materialized signature relation (the sign-once lifecycle)
    // passes it here instead of paying the signing shuffle again.
    val sigs = precomputedSigs.getOrElse(minhashSignaturesFromRows(shRows))
    val cands = lshPairs(sigs, estThreshold, maxBandDf)
      .select(col("doc_a"), col("doc_b"))
    rescoreCandidates(cands, sh, threshold)
  }

  /** [[lshRescoredPairs]] restricted to hash-sampled ANCHORS — the
    * candidate side of the sampled recall audit
    * ([[recallAuditSampled]]'s contract) with the gate applied BELOW
    * the band self-join (the a-side of the band relation), so band
    * candidates and the exact rescore both move only the sampled
    * anchors' pairs. Identical relation to
    * `lshRescoredPairs(...).filter(gate(doc_a))` — doc_a is always the
    * band join's `a.doc_id` and leads the rescore group key. */
  def lshRescoredPairsSampled(
      shRows: DataFrame,
      estThreshold: Double,
      threshold: Double,
      rateBps: Int,
      seed: String = "audit",
      maxBandDf: Option[Long] = None,
      precomputedSigs: Option[DataFrame] = None): DataFrame = {
    require(rateBps > 0 && rateBps <= 10000, s"rateBps must be in (0, 10000]: $rateBps")
    val sh   = shRows.select(col("doc_id"), col("s")).distinct()
    val sigs = precomputedSigs.getOrElse(minhashSignaturesFromRows(shRows))
    val cands = lshPairsImpl(
      sigs, estThreshold, maxBandDf,
      anchorGate = Some(id => Portable.sampleGate(id, rateBps, seed)))
      .select(col("doc_a"), col("doc_b"))
    rescoreCandidates(cands, sh, threshold)
  }

  /** [[lshRescoredPairs]] restricted to the TWO-SIDED hash sample —
    * the candidate side of the fixed-budget audit
    * ([[prefixJaccardPairsSampledBoth]] holds the why): the anchor
    * gate filters the a-side band rows and the partner gate the
    * b-side, both BELOW the band self-join, so candidates and the
    * exact rescore move only the doubly-sampled pair universe.
    * Identical relation to
    * `lshRescoredPairs(...).filter(gateA(doc_a) && gateB(doc_b))`;
    * the df cap stays computed over the FULL band relation, so
    * capped-bucket semantics are gate-invariant. */
  def lshRescoredPairsSampledBoth(
      shRows: DataFrame,
      estThreshold: Double,
      threshold: Double,
      rateABps: Int,
      rateBBps: Int,
      seedA: String = "audit",
      seedB: String = "partner",
      maxBandDf: Option[Long] = None,
      precomputedSigs: Option[DataFrame] = None): DataFrame = {
    require(rateABps > 0 && rateABps <= 10000, s"rateABps must be in (0, 10000]: $rateABps")
    require(rateBBps > 0 && rateBBps <= 10000, s"rateBBps must be in (0, 10000]: $rateBBps")
    val sh   = shRows.select(col("doc_id"), col("s")).distinct()
    val sigs = precomputedSigs.getOrElse(minhashSignaturesFromRows(shRows))
    val cands = lshPairsImpl(
      sigs, estThreshold, maxBandDf,
      anchorGate  = Some(id => Portable.sampleGate(id, rateABps, seedA)),
      partnerGate = Some(id => Portable.sampleGate(id, rateBBps, seedB)))
      .select(col("doc_a"), col("doc_b"))
    rescoreCandidates(cands, sh, threshold)
  }

  /** Word-SEQUENCE fingerprint: md5 of the whitespace word sequence
    * re-joined by single spaces. Equal fp ⟺ equal `words(text)` array
    * (words contain no whitespace, so the single-space join is
    * injective over word sequences) ⟺ identical [[shingleRows]]
    * output ⟺ identical distinct-shingle set AND minhash signature.
    * This is the collapse key of the reps-first pair forms below —
    * deliberately FINER than [[TextAnalysis.fingerprint]], whose
    * case/punctuation normalization can merge documents whose shingle
    * sets differ (the expansion's exactness needs shingle-set
    * equality, not normalized-content equality). */
  def wordSeqFp(text: Column): Column = md5(concat_ws(" ", words(text)))

  /** doc → exact-group keeper map under [[wordSeqFp]], restricted to
    * documents that carry a minhash signature (≥ n words — docs with
    * no shingles never appear in any pair relation, so their groups
    * must not expand). Returns (doc_id, rep_id); a doc IS its group's
    * rep iff doc_id = rep_id. One linear fingerprint scan + one
    * fp-keyed hash-agg + the keeper re-join — the same sign-once
    * lifecycle artifact as the signatures it filters by. */
  def wordSeqMembers(
      docs: DataFrame,
      id: Column,
      text: Column,
      sigs: DataFrame): DataFrame = {
    val m = docs.select(id.as("doc_id"), wordSeqFp(text).as("__wfp"))
      .join(sigs.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val reps = m.groupBy(col("__wfp")).agg(min(col("doc_id")).as("rep_id"))
    m.join(reps, Seq("__wfp")).select(col("doc_id"), col("rep_id"))
  }

  /** Expand a REP-level pair relation back to the full member-pair
    * relation — the shared tail of the reps-first forms below (and of
    * [[graft.operators.Similarity.neardupPairsViaReps]] via the
    * name parameters). `repPairs` holds pairs among group keepers
    * (aName < bName by construction); `members` is (doc_id, rep_id);
    * `selfScores` is one row per rep — (rep_id, score...) — carrying
    * the score columns a WITHIN-group pair gets (members of one group
    * are byte-equal under the collapse key, so every within pair
    * scores as the rep against itself; callers compute that value
    * with the SAME expressions the direct form would, then filter by
    * the same threshold, so groups whose self-score fails — e.g. a
    * zero-vector cosine null — expand to nothing, exactly like the
    * direct form).
    *
    * Scale shape: three slim equi-joins on rep/group keys, output
    * cardinality = the direct relation's (inherent to pair EXPORT
    * semantics) — but the band self-join and the per-candidate
    * rescore upstream ran on REPS only, so compute is ∝ distinct
    * content, not ∝ copies². */
  private[operators] def expandRepPairs(
      repPairs: DataFrame,
      members: DataFrame,
      selfScores: DataFrame,
      scoreCols: Seq[String],
      aName: String,
      bName: String): DataFrame = {
    val ma = members.select(col("rep_id").as("__ra"), col("doc_id").as("__da"))
    val mb = members.select(col("rep_id").as("__rb"), col("doc_id").as("__db"))
    // cross-group pairs: every member of rep_a's group × every member
    // of rep_b's group collides/scores exactly as the reps do (equal
    // signatures/vectors) — normalize to aName < bName (group id
    // ranges interleave, so member order can flip the rep order)
    val cross = repPairs
      .join(ma, col(aName) === col("__ra"))
      .join(mb, col(bName) === col("__rb"))
      .select(
        least(col("__da"), col("__db")).as(aName) +:
          greatest(col("__da"), col("__db")).as(bName) +:
          scoreCols.map(col): _*)
    // within-group pairs: all member pairs of every group with ≥ 2
    // members, scored as the rep against itself
    val within = ma.join(mb, col("__ra") === col("__rb") && col("__da") < col("__db"))
      .join(selfScores, col("__ra") === col("rep_id"))
      .select(
        col("__da").as(aName) +: col("__db").as(bName) +: scoreCols.map(col): _*)
    cross.unionByName(within)
  }

  /** [[lshPairs]] via exact collapse — the IDENTICAL relation,
    * computed reps-first: band the signatures of one representative
    * per distinct word sequence ([[wordSeqMembers]]), self-join those
    * bands, then expand rep pairs back to member pairs
    * ([[expandRepPairs]]). Exactness: docs with equal [[wordSeqFp]]
    * have byte-equal signatures, so (a) any two members of one group
    * collide in every band with est_jaccard exactly 16/16 = 1.0 — the
    * within-group expansion; (b) a cross-group member pair collides
    * iff its reps collide, with the reps' est_jaccard — the
    * cross-group expansion. Uncapped form only: a band-df cap counts
    * DOCS per bucket, which the collapse changes by construction —
    * capped consumers stay on [[lshPairs]].
    *
    * Why: on a copy-heavy corpus the direct band self-join is
    * quadratic in copies (a K-copy group collides K²/2 times per
    * band); here it is quadratic only in DISTINCT near-dup content —
    * measured ×100 (SCALING.md round-14): the collapse moved the
    * banded candidate mass to the reps' share and the expansion is
    * three output-bound joins. */
  def lshPairsViaReps(
      docs: DataFrame,
      id: Column,
      text: Column,
      sigs: DataFrame,
      estThreshold: Double,
      precomputedMembers: Option[DataFrame] = None): DataFrame = {
    val members = precomputedMembers.getOrElse(wordSeqMembers(docs, id, text, sigs))
    val repIds  = members.filter(col("doc_id") === col("rep_id")).select(col("doc_id"))
    val repSigs = sigs.join(repIds, Seq("doc_id"), "left_semi")
    val repPairs = lshPairs(repSigs, estThreshold)
    // identical signatures agree in all 16 slots: est = 1.0 exactly
    // (the direct form computes 16/16 in double); keep the threshold
    // filter for textual parity with the direct plan
    val self = repIds.select(col("doc_id").as("rep_id"), lit(1.0).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
    expandRepPairs(repPairs, members, self, Seq("est_jaccard"), "doc_a", "doc_b")
  }

  /** [[lshRescoredPairs]] via exact collapse — the IDENTICAL relation
    * with band join AND exact rescore running on one representative
    * per distinct word sequence. Exactness extends
    * [[lshPairsViaReps]]'s argument to the rescore: equal word
    * sequences ⇒ equal distinct-shingle sets, so a cross-group pair's
    * exact Jaccard equals its reps' (same sets), and a within-group
    * pair's is |S|/|S| = 1.0 exactly in double. The rescore — the
    * expensive per-candidate shingle-intersection aggregate — sees
    * only rep candidates over rep shingles. Uncapped form only (see
    * [[lshPairsViaReps]]). */
  def lshRescoredPairsViaReps(
      docs: DataFrame,
      id: Column,
      text: Column,
      shRows: DataFrame,
      estThreshold: Double,
      threshold: Double,
      precomputedSigs: Option[DataFrame] = None,
      precomputedMembers: Option[DataFrame] = None): DataFrame = {
    val sigs    = precomputedSigs.getOrElse(minhashSignaturesFromRows(shRows))
    val members = precomputedMembers.getOrElse(wordSeqMembers(docs, id, text, sigs))
    val repIds  = members.filter(col("doc_id") === col("rep_id")).select(col("doc_id"))
    val repSigs = sigs.join(repIds, Seq("doc_id"), "left_semi")
    val repSh = shRows.select(col("doc_id"), col("s")).distinct()
      .join(repIds, Seq("doc_id"), "left_semi")
    val repCands = lshPairs(repSigs, estThreshold).select(col("doc_a"), col("doc_b"))
    val repPairs = rescoreCandidates(repCands, repSh, threshold)
    val self = repIds.select(col("doc_id").as("rep_id"), lit(1.0).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    expandRepPairs(repPairs, members, self, Seq("jaccard"), "doc_a", "doc_b")
  }

  /** Connected components over a near-duplicate pair relation
    * (doc_a, doc_b) — the dedup DECISION step: every doc in a
    * component keeps/drops together, keeper = component minimum.
    * Returns (doc_id, cluster_id) for documents appearing in ≥1 pair.
    * Delegates to [[starContract]]; see it for algorithm and scale
    * notes; whether its truncations survive executor loss follows the
    * deployment's checkpoint directory, not an argument. */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 30): DataFrame =
    starContract(pairs, maxIter)._1

  /** Connected components by alternating large-star / small-star
    * contraction (the public MapReduce CC algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14):
    * converges in O(log n) rounds, vs the O(diameter) of min-label
    * propagation — a million-doc near-dup CHAIN costs ~20 rounds here
    * where propagation would need a million. Each round is two
    * aggregate+join rewrites of the canonical (child > parent) edge
    * set and ONE symmetric-difference convergence job. The input is
    * truncated eagerly and each round lazily ([[Materialize.truncate]]:
    * reliable under a checkpoint directory); superseded rounds are
    * released, so a finished call holds two truncations, the input and
    * the final round. A non-converged run releases both and THROWS
    * rather than silently returning a split clustering.
    *
    * Returns (labels, rounds) — rounds exposed so callers (and the
    * spec) can assert the logarithmic bound. */
  def starContract(pairs: DataFrame, maxIter: Int = 30): (DataFrame, Int) = {
    val a = col("doc_a"); val b = col("doc_b")
    // `pairs` is evaluated ONCE: the initial truncation keeps the
    // canonicalized relation INCLUDING degenerate self-pairs, so the
    // selfOnly labeling at the end reads this materialization instead
    // of re-running the caller's (possibly join-heavy) pair source a
    // second time (r15 — for the hamming verdict chains the old
    // selfOnly subtree re-evaluated the whole band self-join).
    val canon = Materialize.truncate(
      pairs.select(greatest(a, b).as("src"), least(a, b).as("dst")).distinct())
    var cur: DataFrame = canon.filter(col("src") =!= col("dst"))
    var iter      = 0
    var converged = false
    // Rounds stay under AQE deliberately (r15: an AQE-off loop was
    // built, measured and REVERTED — it made each round ONE job, 22/24
    // jobs total for q207/q208, but the rounds' joins lost runtime
    // broadcast conversion and partition coalescing and fell back to
    // 32-partition sort-merge machinery: q208 floor 5.1 → 9.5 s.
    // Static broadcast hints on lsMins/ssMins would restore local
    // speed but OOM at corpus scale, where those relations are
    // node-count-sized — AQE's runtime decision is the right call at
    // every scale; the per-exchange stage-jobs are the price).
    while (!converged && iter < maxIter) {
      // large-star: every node u connects its LARGER neighbors to
      // m = min(Γ(u) ∪ {u}) — long tails fold onto small labels.
      // Output stays canonical: v > u ≥ m.
      val sym = cur.unionByName(cur.select(col("dst").as("src"), col("src").as("dst")))
      val lsMins = sym.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
      val ls = sym.filter(col("dst") > col("src"))
        .join(lsMins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      // small-star: every node u connects itself and its (smaller, by
      // canonical form) neighbors to their minimum — stars flatten
      // onto the root.
      val ssMins = ls.groupBy("src").agg(min(col("dst")).as("m"))
      val next = Materialize.truncate(
        ls.join(ssMins, "src")
          .select(col("dst").as("src"), col("m").as("dst"))
          .unionByName(ssMins.select(col("src"), col("m").as("dst")))
          .filter(col("src") =!= col("dst"))
          .distinct(), eager = false)
      // Convergence = `next` IS a star forest (then both ops are
      // identities): every child has exactly one parent AND no child
      // is itself a parent. Detected in the round that PRODUCES the
      // fixed point — an equality probe against `cur` would burn one
      // extra full LS+SS round just to confirm. Canonical form
      // (src > dst) makes each star's root its smallest node, and the
      // ops preserve connectivity, so star roots are component minima.
      //
      // The probe is the round's ONLY action: `next` is truncated
      // LAZILY, so this count's job materializes it while computing
      // the violation counts — one job submission per round where the
      // eager-truncate + isEmpty form paid two, plus isEmpty's
      // executeTake partition escalation on the converged (empty)
      // round (guide §2.1/§2.6: each job is a scheduler round trip).
      // Both violation kinds fold into ONE aggregation over ONE scan
      // of `next` — a single scan matters beyond byte counts, because
      // two map stages over a lazily-truncated relation would race
      // its materialization and compute the LS+SS round twice.
      // Per-node edge roles from the explode: c = times a child
      // (c > 1 ⇔ multiple parents), p = times a parent (c > 0 AND
      // p > 0 ⇔ a child is itself a parent). Accumulator-based
      // counting inside the materialization was considered and
      // rejected: task retries/speculation double-count transformation
      // -stage accumulators, which could stamp a converged round
      // non-converged.
      val viol = next
        .select(explode(array(
          struct(col("src").as("n"), lit(1L).as("c"), lit(0L).as("p")),
          struct(col("dst").as("n"), lit(0L).as("c"), lit(1L).as("p")))).as("e"))
        .groupBy(col("e.n"))
        .agg(sum(col("e.c")).as("c"), sum(col("e.p")).as("p"))
        .filter(col("c") > 1L || (col("c") > 0L && col("p") > 0L))
      converged = viol.count() == 0L
      // round 1's `cur` is a filter over `canon`, so its release frees
      // nothing; every later one frees the superseded round
      Materialize.release(cur)
      cur = next
      iter += 1
    }
    if (!converged) {
      Materialize.release(cur)
      Materialize.release(canon)
      throw new IllegalStateException(
        s"starContract did not converge in $maxIter rounds (rounds grow " +
          "logarithmically in component size — raise maxIter)")
    }
    // fixed point = star forest rooted at component minima: non-roots
    // are the edges themselves, roots label themselves
    val labels = cur.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .unionByName(
        cur.select(col("dst").as("doc_id")).distinct().withColumn("cluster_id", col("doc_id")))
    // docs whose ONLY pairs were degenerate self-pairs never enter the
    // contraction — label them as their own singleton cluster so the
    // "every doc appearing in ≥1 pair gets a label" contract holds for
    // any pair source, not just doc_a < doc_b ones. Served from the
    // canonicalized truncation (already distinct), never from `pairs`.
    val selfOnly = canon
      .filter(col("src") === col("dst"))
      .select(col("src").as("doc_id"))
      .join(labels, Seq("doc_id"), "left_anti")
      .withColumn("cluster_id", col("doc_id"))
    (labels.unionByName(selfOnly), iter)
  }

  /** Per-document 32-bit SimHash over whitespace tokens (with
    * multiplicity): each token hashes to 32 bits; bit b of the
    * fingerprint is 1 iff the (+1/−1) vote sum over tokens at bit b is
    * positive.
    *
    * Relational shape on purpose: explode tokens, hash each ONCE,
    * then one hash-aggregate with 32 conditional-sum columns and a
    * bit-recombine projection. (A whole-row nested-`aggregate` form
    * re-evaluates the token-hash array on every one of the 32 bit
    * iterations after CollapseProject inlining — measured ~30× the
    * md5 work; and the aggregate here doubles as the projection
    * barrier that lets the pair-join reuse one exchange.) */
  def simhashes(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = docs
      .select(id.as("doc_id"), explode(words(text)).as("t"))
      .select(col("doc_id"), Portable.hash32(col("t")).as("h"))
    val bitAggs = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1, 1L).otherwise(-1L)).as(s"b$b"))
    tok
      .groupBy("doc_id")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(
        col("doc_id"),
        (0 until 32).map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("sh"))
  }

  /** SimHash near-duplicate pairs: block on any equal fingerprint byte
    * (4 blocks per doc), then keep pairs within `maxHamming` bits.
    * By pigeonhole, a shared-byte block is guaranteed only for
    * hamming ≤ 3 over 4 bytes; wider radii trade recall for cost —
    * the standard multi-index trade-off, documented not hidden. */
  def simhashPairs(docs: DataFrame, id: Column, text: Column, maxHamming: Int): DataFrame =
    simhashPairsFromHashes(simhashes(docs, id, text), maxHamming)

  /** [[simhashPairs]] over an already-computed (doc_id, sh) relation
    * (e.g. a persisted [[simhashes]] output shared with other
    * consumers — the materialized-intermediate pattern). `bands` sizes
    * the pigeonhole blocking to the hash width: 4 byte-bands cover the
    * 32-bit simhash (guarantee at hamming ≤ 3); 64-bit fingerprints
    * (image aHash, [[Multimodal.aHash64]]) pass 8 for the ≤ 7
    * guarantee. The guarantee is maxHamming ≤ bands − 1 over the bits
    * the bands cover. */
  /** The (doc_id, sh, bpos, bval) band-block relation both hamming
    * joins build on — ONE definition of the banding scheme, so the
    * self-join pair path and the index probe can never diverge on
    * which candidates they generate. */
  private def bandBlocks(fps: DataFrame, bands: Int): DataFrame = {
    require(bands >= 1 && bands <= 8, s"bands must be in [1, 8] (got $bands)")
    val bytes = array((0 until bands).map(j => shiftright(col("sh"), 8 * j).bitwiseAND(lit(255L))): _*)
    fps.select(col("doc_id"), col("sh"), posexplode(bytes).as(Seq("bpos", "bval")))
  }

  def simhashPairsFromHashes(fps: DataFrame, maxHamming: Int, bands: Int = 4): DataFrame = {
    val blocks = bandBlocks(fps, bands)
    blocks.as("a")
      .join(
        blocks.as("b"),
        col("a.bpos") === col("b.bpos") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      // filter BEFORE the dedup exchange: hamming is identical for
      // every block collision of a pair, so only the (small) surviving
      // pair set rides the shuffle instead of all block candidates
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Dedup DECISION list over a 64-bit fingerprint relation
    * (doc_id, sh) — [[dedupVerdicts]]' contract for hamming-keyed
    * modalities (image aHash, text simhash), computed EXACT-LAYER
    * FIRST: identical hashes collapse to their keep-min representative
    * in one hash-agg, the banded pair join and cluster contraction run
    * on REPRESENTATIVES only, and every document inherits its
    * representative's survivor through one join.
    *
    * Provably identical to running the full-pair chain over all
    * documents (the q169 DuckDB oracle IS that full-pair recursive
    * form — the hash match is the proof executed): identical hashes
    * pair with exactly the same things, so the full-pair cluster is
    * the union of the exact groups of a representative cluster, its
    * minimum is a representative minimum (each rep is its group's
    * min), and the verdict labels depend only on doc-vs-rep and
    * rep-vs-survivor. What changes is COST: a dup-dense corpus stops
    * paying |group|² hamming-0 candidates per hot band bucket —
    * measured 36× on the ×100 media gate (SCALING.md). */
  def hammingDedupVerdicts(fps: DataFrame, maxHamming: Int, bands: Int = 4): DataFrame = {
    val keepers = fps.groupBy(col("sh")).agg(min(col("doc_id")).as("__rep"))
    val repFps  = keepers.select(col("__rep").as("doc_id"), col("sh"))
    val repV = dedupVerdicts(
      repFps, col("doc_id"), col("sh"),
      simhashPairsFromHashes(repFps, maxHamming, bands))
    fps.select(col("doc_id"), col("sh"))
      .join(keepers, "sh")
      .join(
        repV.select(col("doc_id").as("__rep"), col("survivor_doc_id")), "__rep")
      .select(
        col("doc_id"),
        col("survivor_doc_id"),
        when(col("doc_id") === col("survivor_doc_id"), "keep")
          .when(col("doc_id") =!= col("__rep"), "drop_exact")
          .otherwise("drop_near")
          .as("verdict"))
  }

  /** Incremental twin of [[simhashPairsFromHashes]]: which NEW
    * fingerprints sit within `maxHamming` bits of any INDEX member —
    * the membership probe a streaming ingest gate runs per batch, cost
    * ∝ |batch| · collision rate, never |batch| · |index|. Same banded
    * pigeonhole (guarantee maxHamming ≤ bands − 1), same
    * rescore-before-dedup-exchange shape. Output one row per matched
    * (doc_id, index_id) pair with the exact hamming; novel docs simply
    * don't appear (anti-join downstream). */
  def simhashProbeIndex(
      newFps: DataFrame,
      indexFps: DataFrame,
      maxHamming: Int,
      bands: Int = 4): DataFrame = {
    bandBlocks(newFps, bands).as("a")
      .join(bandBlocks(indexFps, bands).as("b"),
        col("a.bpos") === col("b.bpos") && col("a.bval") === col("b.bval"))
      .select(
        col("a.doc_id").as("doc_id"), col("b.doc_id").as("index_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_id", "index_id")
  }

  /** Ids of `corpus` rows whose 64-bit fingerprint sits within
    * `maxHamming` bits of ANY `bench` fingerprint — the cross-modal
    * decontamination probe (q214's image side: does this training
    * image near-dup an eval-benchmark image?). REPS-FIRST on both
    * sides (the q213 discipline): the banded join runs on ONE row per
    * DISTINCT hash, and a rep hit expands back to every corpus row
    * holding that hash — provably the same leak set, since membership
    * depends only on the hash, at linear candidate mass on dup-dense
    * corpora instead of |group|² per hot band bucket. Both inputs are
    * (doc_id, sh); output is the distinct leaked corpus doc_ids. */
  def hammingLeakSet(
      corpus: DataFrame,
      bench: DataFrame,
      maxHamming: Int,
      bands: Int = 8): DataFrame = {
    val corpusReps = corpus.groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
    val benchReps  = bench.groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
    val leakHashes = simhashProbeIndex(corpusReps, benchReps, maxHamming, bands)
      .select(col("doc_id"))
      .join(corpusReps, Seq("doc_id"))
      .select(col("sh"))
      .distinct()
    corpus.join(leakHashes, Seq("sh")).select(col("doc_id")).distinct()
  }

  /** Bloom-gated incremental exact dedup: which NEW-batch docs
    * already exist (by content fingerprint) in a much larger HISTORY
    * corpus — the daily-ingest membership check, without joining the
    * whole batch against history.
    *
    * Plan shape: history fingerprints fold into a Bloom filter in ONE
    * pass (`stat.bloomFilter` = treeAggregate, no shuffle of history)
    * that broadcasts to executors; the new batch is then gated
    * map-side, and ONLY bloom-hit rows — true dups plus the ~fpp
    * false-positive sliver — reach the history join. Bloom filters
    * have no false negatives, so a bloom-miss is PROVABLY novel and
    * the gated join returns exactly the full join's answer: fpp
    * trades JOIN VOLUME, never correctness, which is why this query
    * stays bit-deterministic and oracle-checkable despite the
    * probabilistic structure. (Same design as Spark's own
    * InjectRuntimeFilter bloom pre-filter — and the same EXPRESSIONS:
    * the filter is built over `xxhash64(fp)` and membership is the
    * native codegen'd `BloomFilterMightContain`, not a Scala UDF, so
    * the gate projection stays inside whole-stage codegen. The
    * serialized filter is a binary literal in the plan; Spark
    * broadcasts task binaries per stage, so executors receive it once,
    * exactly like the explicit `sparkContext.broadcast` it replaces.)
    *
    * Scale bound: the broadcast bloom is ~9.6 bits/item at fpp 0.01 —
    * ~1.2 GB at 1e9 history fingerprints, the practical ceiling. For
    * a 1e10-doc history, raise fpp (costing only extra join rows) or
    * gate per date-partition of history; correctness is unaffected
    * either way.
    *
    * Returns one row per new-batch doc: (doc_id, is_dup_exact). */
  def bloomDedupGate(
      newBatch: DataFrame,
      newId: Column,
      newFp: Column,
      historyFps: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    val gated = bloomHitGate(
      newBatch.select(newId.as("doc_id"), newFp.as("fp")), col("fp"), historyFps, fpp)
    val novel = gated
      .filter(!col("__hit"))
      .select(col("doc_id"), lit(false).as("is_dup_exact"))
    val checked = gated
      .filter(col("__hit"))
      .join(historyFps.distinct().withColumn("__in_hist", lit(true)), Seq("fp"), "left")
      .select(col("doc_id"), coalesce(col("__in_hist"), lit(false)).as("is_dup_exact"))
    novel.unionByName(checked)
  }

  /** Shared bloom machinery for [[bloomDedupGate]] and the streaming
    * [[graft.streaming.DocStream.historyGated]]: builds the filter from
    * `historyFps` in one treeAggregate pass (no shuffle of history) and
    * adds a boolean `__hit` column to `df`. Built over the 64-bit hash
    * (putLong) to match what the native membership expression tests
    * (mightContainLong of xxhash64) — inserting raw strings would make
    * every probe a miss. The serialized filter rides the plan as a
    * binary literal (task binaries are broadcast once per stage), and
    * the test is the codegen'd `BloomFilterMightContain` — stateless,
    * so it composes with streaming plans. */
  private[graft] def bloomHitGate(
      df: DataFrame,
      fp: Column,
      historyFps: DataFrame,
      fpp: Double): DataFrame = {
    require(historyFps.columns.toSeq == Seq("fp"), "historyFps must be a single-column (fp) relation")
    val nHistory = historyFps.count()
    // Empty history (first batch of a growing index): nothing can hit —
    // and Spark's bloom aggregate returns null over zero rows, so the
    // build below would NPE on serialization.
    if (nHistory == 0L) return df.withColumn("__hit", lit(false))
    val expected = nHistory
    val bloom = historyFps
      .select(xxhash64(col("fp")).as("__h"))
      .stat.bloomFilter("__h", expected, fpp)
    val ser = new java.io.ByteArrayOutputStream()
    bloom.writeTo(ser)
    val mightContain = ColumnBridge.column(
      new BloomFilterMightContain(
        Literal(ser.toByteArray),
        ColumnBridge.expression(xxhash64(fp))))
    df.withColumn("__hit", fp.isNotNull && mightContain)
  }

  /** Cross-source duplication matrix: how much near-dup mass each PAIR
    * of ingest sources shares — the diagnostic that catches one crawl
    * re-serving another's content (or a source re-ingesting itself)
    * before the duplicate mass trains. Input is any (doc_a, doc_b,
    * jaccard) pair relation plus the doc→source mapping; output one
    * row per unordered source pair: (source_a ≤ source_b, n_pairs,
    * max_jaccard).
    *
    * Scale shape: the pair relation is orders of magnitude smaller
    * than the corpus, so the two id→source joins are classic
    * small-probe joins (AQE broadcasts the pair side); the matrix
    * aggregate is |sources|² rows. The corpus-sized side is a
    * 2-column projection — column pruning reaches the scan. */
  def dupSourceMatrix(
      pairs: DataFrame,
      docs: DataFrame,
      id: Column,
      source: Column): DataFrame = {
    val g = docs.select(id.as("__did"), source.as("__src"))
    pairs
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .join(g.select(col("__did").as("doc_a"), col("__src").as("__sa")), Seq("doc_a"))
      .join(g.select(col("__did").as("doc_b"), col("__src").as("__sb")), Seq("doc_b"))
      .groupBy(
        least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** Recall/precision audit of an approximate pair-finding path
    * against exact truth — the number a pipeline owner needs before
    * trusting LSH at 100 TB ("how much near-dup mass does the fast
    * path miss?"). Both inputs are (doc_a, doc_b, …) pair relations;
    * output is ONE row: n_truth, n_candidate, tp, fn, fp and
    * recall/precision in exact integer ppm.
    *
    * Scale shape: one full-outer join on the pair key (both sides are
    * PAIR relations — orders of magnitude smaller than the corpus)
    * folded into a single count aggregate; nothing corpus-sized moves.
    * Deterministic, so the audit itself is oracle-checkable. */
  /** [[recallAudit]] in SAMPLED mode over ARBITRARY pair relations: a
    * deterministic hash gate ([[Portable.sampleGate]]) restricts both
    * inputs to ANCHORS (doc_a) in the `rateBps`/10000 sample before
    * the compare. CAVEAT (the round-12 ×100 lesson): this gate sits
    * ABOVE the inputs — it is only affordable if the pair relations
    * are themselves cheap, already materialized for another consumer,
    * or declared LAZILY so Catalyst can push the doc_a filter through
    * their pair-forming joins. A persisted/cached full-truth input is
    * a materialization boundary no filter crosses: the K²-spill truth
    * is paid first, then sampled — which DNF'd on disk at ×100. For
    * the LSH-vs-exact audit, use [[prefixJaccardPairsSampled]] +
    * [[lshRescoredPairsSampled]], which apply the SAME gate below
    * their pair-forming joins, and compare with [[recallAudit]] —
    * identical relation, cost ∝ sample by construction.
    * Deterministic gate ⇒ still oracle-checkable. */
  def recallAuditSampled(
      truth: DataFrame,
      candidate: DataFrame,
      rateBps: Int,
      seed: String = "audit"): DataFrame = {
    require(rateBps > 0 && rateBps <= 10000, s"rateBps must be in (0, 10000]: $rateBps")
    recallAudit(
      truth.filter(Portable.sampleGate(col("doc_a"), rateBps, seed)),
      candidate.filter(Portable.sampleGate(col("doc_a"), rateBps, seed)))
  }

  def recallAudit(truth: DataFrame, candidate: DataFrame): DataFrame = {
    val t = truth.select(col("doc_a"), col("doc_b")).withColumn("__t", lit(1))
    val c = candidate.select(col("doc_a"), col("doc_b")).withColumn("__c", lit(1))
    t.join(c, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        count(when(col("__t") === 1 && col("__c") === 1, 1)).as("tp"),
        count(when(col("__t") === 1 && col("__c").isNull, 1)).as("fn"),
        count(when(col("__t").isNull && col("__c") === 1, 1)).as("fp"))
      .select(
        (col("tp") + col("fn")).as("n_truth"),
        (col("tp") + col("fp")).as("n_candidate"),
        col("tp"), col("fn"), col("fp"),
        expr("(tp * 1000000L) div greatest(tp + fn, 1L)").as("recall_ppm"),
        expr("(tp * 1000000L) div greatest(tp + fp, 1L)").as("precision_ppm"))
  }

  /** Token-yield accounting for exact dedup — "what does dedup save,
    * per source": total docs/tokens vs the docs/tokens that survive
    * keep-minimum exact dedup (keeper = min doc_id per fingerprint
    * group, the [[exactDupGroups]] contract), and the duplicated-token
    * rate in exact integer ppm. The keeper is assigned GLOBALLY (a
    * cross-source duplicate is kept in exactly one source), then the
    * rollup attributes each doc to its own source — so the per-source
    * rows sum to the corpus totals with no double counting.
    *
    * Scale shape: token counts are map-only; keeper assignment is one
    * window-min over the fingerprint exchange (no separate groups
    * relation to join back); the final hash-agg reduces to |sources|
    * rows with map-side partials. */
  def dedupTokenYield(docs: DataFrame, id: Column, key: Column, source: Column, text: Column): DataFrame = {
    val w = Window.partitionBy(col("__fp"))
    docs
      .select(
        id.as("doc_id"),
        key.as("__fp"),
        source.as("source"),
        size(TextAnalysis.tokens(text)).cast("long").as("__nt"))
      .withColumn("__keeper", min(col("doc_id")).over(w))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        sum(when(col("doc_id") === col("__keeper"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("doc_id") === col("__keeper"), col("__nt")).otherwise(lit(0L))).as("kept_tokens"))
      .withColumn(
        "dup_token_ppm",
        when(col("total_tokens") > 0,
          expr("((total_tokens - kept_tokens) * 1000000) div total_tokens")))
  }

  /** Epoch-rotated exact-dedup keepers: one representative per
    * fingerprint group, chosen by a SEEDED deterministic hash of the
    * group key — so successive epochs (seeds) rotate through the
    * copies instead of always training on the same one, while each
    * epoch still sees exactly one doc per duplicate group. The
    * complement of [[graft.operators.Profile.withSplit]]-style
    * hash-gating: the unit of sampling is the GROUP, not the row.
    * (Quality-ranked selection is [[dedupVerdicts]]' sibling
    * `canonicalKeepers`; this one is uniform-rotating by design.)
    *
    * pick = hash60(fp‖seed) mod group_size (0-based rank in doc_id
    * order) — 60-bit positive hash, so Spark `pmod` and DuckDB `%`
    * agree. One fingerprint exchange carries the window rank, count
    * and pick; no second shuffle, no join. */
  def epochKeepers(docs: DataFrame, id: Column, key: Column, seed: String): DataFrame = {
    val wFp = Window.partitionBy(col("fp"))
    docs
      .select(id.as("doc_id"), key.as("fp"))
      .withColumn("group_size", count(lit(1)).over(wFp))
      .withColumn("__rn", row_number().over(wFp.orderBy(col("doc_id"))))
      .withColumn("__pick", pmod(Portable.hash60(concat(col("fp"), lit(seed))), col("group_size")) + 1)
      .filter(col("__rn") === col("__pick"))
      .select(col("doc_id"), col("fp"), col("group_size"))
  }
}
