package graft.queries

import graft.Tables
import graft.operators.{Materialize, Multimodal, Packing, Profile, Ranking, Relevance, Similarity, Snapshot, TextAnalysis, TextDedup}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** LLM-training-data operator pack over `documents` / `embeddings`:
  * dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash), similarity
  * search (brute-force + LSH ANN), text analysis, multimodal plumbing.
  *
  * Every pseudo-random ingredient is md5-derived and every float path
  * integer-quantized ([[graft.functions.Portable]]), so each query has
  * a full DuckDB oracle despite hash-based semantics.
  */
object Documents {

  /** The harness's 5-probe query set as a RELATION — the production
    * shape every ANN entry point takes (a query batch is data, not an
    * In-list expression; PlanSpec pins the no-In-list plan). The range
    * predicate still pushes down to the parquet scan. */
  private def QueryRel(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") < 5)

  /** The dedup family (q31/q32/q33/q53) consumes ONE logical shingle
    * relation, and q54/q57 share the winnowing fingerprint relation
    * the same way. At 100 TB these are materialized intermediates —
    * compute once, read by every downstream stage — so the local
    * analogue is a persisted DataFrame shared per (session, dir)
    * ([[DirCached]]). */
  private val shingleCache = new DirCached("shingle")
  private def sharedShingles(s: SparkSession, dir: String): DataFrame =
    shingleCache(s, dir)(
      TextDedup.shingleRows(Tables.documents(s, dir), col("doc_id"), col("text"), 3))

  // Shingles over exact-dedup KEEPER REPS (min doc_id per normalized
  // fingerprint) — the once-per-snapshot shingle base of the
  // rep-collapsed audit (q216). Linear in the corpus, so the cache
  // boundary is safe: the audit's anchor gate applies at the pair
  // joins ABOVE this relation, and pushdown INTO a linear shingle
  // build buys nothing.
  private val repShingleCache = new DirCached("repShingle")
  private def sharedRepShingles(s: SparkSession, dir: String): DataFrame =
    repShingleCache(s, dir) {
      val d = Tables.documents(s, dir)
      val reps = d.join(
        TextDedup.exactDupGroups(
            d, col("doc_id"), TextAnalysis.fingerprint(col("text")))
          .select(col("keeper_doc_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      TextDedup.shingleRows(reps, col("doc_id"), col("text"), 3)
    }

  // MinHash signatures over the keeper reps — the rep-level twin of
  // [[sharedSigs]], same sign-once lifecycle and the same linearity
  // argument as the rep shingles above: signing is one hash-agg over
  // the (linear) rep shingle relation, so the cache boundary is safe;
  // q216's sampled gates apply at the pair joins ABOVE this relation
  // (r14: the per-run re-sign was 29% of q216's warm time for an
  // artifact every audit of the snapshot would reuse).
  private val repSigsCache = new DirCached("repSigs")
  private def sharedRepSigs(s: SparkSession, dir: String): DataFrame =
    repSigsCache(s, dir)(
      TextDedup.minhashSignaturesFromRows(sharedRepShingles(s, dir)))

  private val winnowCache = new DirCached("winnow")
  private def sharedWinnowFps(s: SparkSession, dir: String): DataFrame =
    winnowCache(s, dir)(
      TextAnalysis.winnowingFingerprints(Tables.documents(s, dir), col("doc_id"), col("text")))

  // q219's normalized-fingerprint rep map (doc → exact-content group
  // keeper among fp-bearing docs) — the q218 word-seq sibling, a
  // once-per-snapshot artifact so the per-run cost is the rep-level
  // pair machinery, not a corpus md5 re-scan.
  private val winnowMembersCache = new DirCached("winnowMembers")
  private def sharedWinnowMembers(s: SparkSession, dir: String): DataFrame =
    winnowMembersCache(s, dir)(
      TextDedup.fingerprintMembers(
        Tables.documents(s, dir), col("doc_id"), col("text"), sharedWinnowFps(s, dir)))

  // The exact-Jaccard pair relation and its connected-component labels
  // are the two most expensive dedup intermediates, each consumed by
  // several queries (pairs: q31/q53/q64; labels: q53/q64) — both are
  // materialized once per (session, dir) like the shingles they derive
  // from. Note the labels cache builds EAGERLY on first access
  // (starContract runs its rounds driver-side), which is exactly the
  // "train once, read forever" lifecycle of a real dedup stage.
  /** Hot-shingle df cap for the shared exact-Jaccard relation
    * (q31/q53/q64/q85). At 100 TB an uncapped posting-list self-join
    * is quadratic on any boilerplate trigram shared corpus-wide —
    * the one genuine scale risk in the dedup family — so the
    * production path runs CAPPED by default: shingles in more than
    * 128 documents are dropped before the join (bounding candidate
    * volume to ≤ 128²/2 per shingle) and Jaccard is measured over
    * the capped universe, exactly as [[TextDedup.jaccardPairsFromRows]]
    * documents. The DuckDB oracles mirror the cap (`shj` CTE), so the
    * contract stays hash-exact at any scale. Observed max shingle df
    * in the test corpus: 7 at sf0.01, 25 at sf0.1 — well under the
    * cap, which exists for the corpus where it matters. */
  private[graft] val SharedJaccardDfCap = 128L

  /** q175 fixed merge table — five common-English merges (th, the,
    * an, in, er chains) that all fire on the synthetic corpus. */
  private[graft] val Q175Merges: Seq[(String, String)] =
    Seq(("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"), ("e", "r"))

  /** q172 source-overlap df cap — bites at test scale (observed max
    * shingle df: 7 at sf0.01, 25 at sf0.1), so the capped semantics
    * are actually exercised by the oracle, not just configured. */
  private[graft] val SourceOverlapDfCap = 4L

  // The rare-shingle KEEP SET is the once-per-snapshot artifact the
  // capped overlap serves from (exact doc-frequency costs a full
  // (s, doc_id) dedup — ~2× the whole overlap query at ×100, so it is
  // paid once and reused, like the signatures/codebooks above).
  private val rareShCache = new DirCached("rareSh")
  private def sharedRareShingles(s: SparkSession, dir: String): DataFrame =
    rareShCache(s, dir)(
      TextDedup.rareShingles(sharedShingles(s, dir), SourceOverlapDfCap))

  /** q106 paragraph-dedup knobs: mean segment length (words) and the
    * document-frequency above which a segment is boilerplate. */
  private[graft] val ParagraphBreakDivisor = 4
  private[graft] val ParagraphMaxDf = 1L

  private val pairsCache = new DirCached("pairs")
  private def sharedJaccardPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache(s, dir)(
      TextDedup.jaccardPairsFromRows(
        sharedShingles(s, dir), 0.8, maxShingleDf = Some(SharedJaccardDfCap)))

  // Exact full-universe Jaccard pairs (PPJoin prefix filter) — the
  // ground-truth relation consumed by q99 (export) and q112 (audit
  // truth side). Exactness makes it cost ∝ true-pair mass, so at
  // scale it is computed once per corpus snapshot (or on a sample)
  // and read by every auditor — the cache models that lifecycle.
  private val prefixPairsCache = new DirCached("prefixPairs")
  private def sharedPrefixPairs(s: SparkSession, dir: String): DataFrame =
    prefixPairsCache(s, dir)(
      TextDedup.prefixJaccardPairs(sharedShingles(s, dir), 0.8))

  // The production near-dup PAIR relation (LSH candidates + exact
  // rescore, reps-first) — q84 exports it, q112 audits it against the
  // exact truth above: the same compute-once-read-by-every-auditor
  // lifecycle as sharedPrefixPairs (before r14, q112 re-ran the whole
  // candidate+rescore pipeline per run to rebuild a relation q84 had
  // already computed).
  private val rescoredPairsCache = new DirCached("rescoredPairs")
  private def sharedRescoredPairs(s: SparkSession, dir: String): DataFrame =
    rescoredPairsCache(s, dir)(
      TextDedup.lshRescoredPairsViaReps(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        sharedShingles(s, dir), estThreshold = 0.5, threshold = 0.8,
        precomputedSigs = Some(sharedSigs(s, dir)),
        precomputedMembers = Some(sharedWordSeqMembers(s, dir))))

  private val clustersCache = new DirCached("clusters")
  private def sharedClusters(s: SparkSession, dir: String): DataFrame =
    clustersCache(s, dir)(
      TextDedup.dedupClusters(sharedJaccardPairs(s, dir)))

  // The q85 funnel's two doc-id gate sets, materialized once and
  // shared by q85 (the pipeline) and q153 (the funnel report): the
  // dedup KEEP set and the contamination set. The contamination set is
  // computed over ALL non-benchmark docs — a superset of the funnel's
  // stage-3 population — which is sound because
  // [[TextDedup.contaminationFlags]] scores each doc independently
  // against the broadcast benchmark grams (no cross-doc dependence):
  // flags on docs that already exited the funnel are never read. The
  // superset is what lets q153 classify every doc in ONE pass instead
  // of re-deriving each stage's prefix chain, and it means the
  // expensive contamination gram-join runs ONCE per corpus snapshot
  // no matter how many downstream stages/reports consume it.
  private val keepSetCache = new DirCached("keepSet")
  private def sharedKeepSet(s: SparkSession, dir: String): DataFrame =
    keepSetCache(s, dir) {
      val d = Tables.documents(s, dir)
      TextDedup.dedupVerdictsFromClusters(
        d, col("doc_id"), TextAnalysis.fingerprint(col("text")), sharedClusters(s, dir))
        .filter(col("verdict") === "keep")
        .select("doc_id")
    }

  private val contamSetCache = new DirCached("contamSet")
  private def sharedContamSet(s: SparkSession, dir: String): DataFrame =
    contamSetCache(s, dir) {
      val d = Tables.documents(s, dir)
      TextDedup.contaminationFlags(
        d.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        d.filter(col("source") === "src0"), col("text"), 5)
        .select("doc_id")
    }

  private val simhashCache = new DirCached("simhash")
  private def sharedSimhashes(s: SparkSession, dir: String): DataFrame =
    simhashCache(s, dir)(
      TextDedup.simhashes(Tables.documents(s, dir), col("doc_id"), col("text")))

  // MinHash signatures are consumed by four queries (q32 export, q33
  // banding, q84 rescoring, q95 index probing) and cost one full
  // shuffle of the shingle relation to compute — the classic
  // sign-once-read-forever index artifact, so it is materialized like
  // the shingles it derives from.
  private val sigsCache = new DirCached("sigs")
  private def sharedSigs(s: SparkSession, dir: String): DataFrame =
    sigsCache(s, dir)(
      TextDedup.minhashSignaturesFromRows(sharedShingles(s, dir)))

  // The word-sequence exact-group map (doc → keeper rep) behind the
  // reps-first pair forms (q33/q84): one linear fingerprint pass per
  // corpus snapshot, consumed by every collapse-then-expand plan —
  // the same sign-once lifecycle as the signatures it filters by.
  private val wordSeqCache = new DirCached("wordSeq")
  private def sharedWordSeqMembers(s: SparkSession, dir: String): DataFrame =
    wordSeqCache(s, dir)(
      TextDedup.wordSeqMembers(
        Tables.documents(s, dir), col("doc_id"), col("text"), sharedSigs(s, dir)))

  // Image fingerprints are hash-once artifacts: q163 materializes
  // them, q164 pairs them, q166 probes them — each image is DECODED
  // once per corpus, not once per consumer.
  private val aHashCache = new DirCached("aHash")
  private def sharedAHashes(s: SparkSession, dir: String): DataFrame =
    aHashCache(s, dir)(
      Multimodal.aHash64(
        Multimodal.syntheticImages(Tables.documents(s, dir), col("doc_id"))))

  // Decoded audio frames are THE decode-once artifact for the audio
  // modality (the video discipline): q191 segments them, q201/q202's
  // barcodes derive from them — each clip's WAV container is decoded
  // exactly once per corpus, for every consumer.
  private val audioFramesCache = new DirCached("audioFrames")
  private def sharedAudioFrames(s: SparkSession, dir: String): DataFrame =
    audioFramesCache(s, dir)(
      Multimodal.decodeAudioFrames(
        Multimodal.syntheticAudio(Tables.documents(s, dir), col("doc_id"))))

  private val audioHashCache = new DirCached("audioHash")
  private def sharedAudioHashes(s: SparkSession, dir: String): DataFrame =
    audioHashCache(s, dir)(
      Multimodal.audioHash64(sharedAudioFrames(s, dir)))

  // Decoded video frames are the decode-once artifact for the video
  // modality: q203 exports the lumas, q204 segments them — each
  // clip's AVI container is walked and its PNG frames decoded once
  // per corpus.
  private val videoFramesCache = new DirCached("videoFrames")
  private def sharedVideoFrames(s: SparkSession, dir: String): DataFrame =
    videoFramesCache(s, dir)(
      Multimodal.decodeVideoFrames(
        Multimodal.syntheticVideo(Tables.documents(s, dir), col("doc_id"))))

  // Video barcodes are hash-once artifacts exactly like the audio twin
  // above: q205 exports them, q206 pairs them, q208's verdict chain
  // consumes them — before r14 each of the three re-ran the
  // envelope-hash aggregation over the decoded frames per run.
  private val videoHashCache = new DirCached("videoHash")
  private def sharedVideoHashes(s: SparkSession, dir: String): DataFrame =
    videoHashCache(s, dir)(
      Multimodal.videoHash64(sharedVideoFrames(s, dir)))

  // Keyframe perceptual hashes are the decode-once artifact of the
  // cross-modal family: q209 probes them against the image index,
  // q211 groups them for shared-still detection, q213 collapses them
  // to reps — before r14 each consumer re-extracted and re-decoded
  // every keyframe PNG per run (the exact anti-pattern the
  // sharedAHashes comment above names).
  private val kfHashCache = new DirCached("kfHash")
  private def sharedKfHashes(s: SparkSession, dir: String): DataFrame =
    kfHashCache(s, dir) {
      val kf = Multimodal.videoKeyframes(
        Multimodal.syntheticVideo(Tables.documents(s, dir), col("doc_id")), everyK = 4)
      Multimodal.aHash64(
        kf.select(
          Multimodal.keyframeId(col("doc_id"), col("frame_idx")).as("doc_id"),
          col("payload")))
    }

  // The image dedup DECISION list is itself a shared artifact: q169
  // exports it, q170 rolls it up — the verdict chain (exact collapse +
  // banded pair join + cluster contraction) runs once per corpus, not
  // once per consumer.
  private val imageVerdictsCache = new DirCached("imageVerdicts")
  private def sharedImageVerdicts(s: SparkSession, dir: String): DataFrame =
    imageVerdictsCache(s, dir)(
      TextDedup.hammingDedupVerdicts(sharedAHashes(s, dir), maxHamming = 3, bands = 8))

  // The caption-quality gate SET (q137's keep verdicts, ids only) and
  // the image-dedup KEEP set (q169's verdicts filtered) as shared
  // artifacts: the paired-dataset pipeline (q210) composes them with
  // the mutual-pair miner, and each gate must be a materialized
  // id-relation scan there — never a re-run of the gate's own scan
  // (text) or decode (images) inside the composed plan.
  private val captionKeepCache = new DirCached("captionKeep")
  private def sharedCaptionKeepSet(s: SparkSession, dir: String): DataFrame =
    captionKeepCache(s, dir)(
      TextAnalysis.heuristicGate(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        minWords = 30, minStopHits = 1)
        .filter(col("keep"))
        .select("doc_id"))

  private val imageKeepCache = new DirCached("imageKeep")
  private def sharedImageKeepSet(s: SparkSession, dir: String): DataFrame =
    imageKeepCache(s, dir)(
      sharedImageVerdicts(s, dir)
        .filter(col("verdict") === "keep")
        .select("doc_id"))

  // The EVAL-IMAGE manifest (src0 docs' image fingerprints) is a tiny
  // STATIC artifact at corpus scale — the benchmark set changes when
  // the benchmark does, not per snapshot — so q214's image-leak probe
  // must read it as a persisted id relation (the sharedKeepSet
  // discipline), never re-derive the src0 membership join per run.
  private val evalImgCache = new DirCached("evalImg")
  private def sharedEvalImgHashes(s: SparkSession, dir: String): DataFrame =
    evalImgCache(s, dir)(
      sharedAHashes(s, dir)
        .select(col("doc_id"), col("sh"))
        .join(
          Tables.documents(s, dir)
            .filter(col("source") === "src0")
            .select("doc_id"),
          Seq("doc_id")))

  // The mutual pairs over the modality split, annotated by BOTH gate
  // sets — q210 (card) and q212 (alignment histogram) consume the SAME
  // construction, so a fix to the pairing or gate semantics can never
  // diverge them. __cap/__img are the raw gate flags; __ok = both.
  private def sharedGatedPairs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val pairs = Similarity.marginMutualPairs(
      e.filter(col("vec_id") % 2 === 0),
      e.filter(col("vec_id") % 2 === 1),
      sharedCodebook(s, dir))
    val capOk = sharedCaptionKeepSet(s, dir)
      .select(col("doc_id").as("a_id"), lit(true).as("__cap"))
    val imgOk = sharedImageKeepSet(s, dir)
      .select(col("doc_id").as("b_id"), lit(true).as("__img"))
    pairs
      .join(capOk, Seq("a_id"), "left")
      .join(imgOk, Seq("b_id"), "left")
      .withColumn("__ok", coalesce(col("__cap"), lit(false)) &&
        coalesce(col("__img"), lit(false)))
  }

  // The trained codebook is the canonical materialized intermediate:
  // q61 assigns with it, q63 probes with it ("train once").
  private val codebookCache = new DirCached("codebook")
  private def sharedCodebook(s: SparkSession, dir: String): DataFrame =
    codebookCache(s, dir)(
      Similarity.kmeansCentroids(Tables.embeddings(s, dir), 8))

  // Score-once artifacts — the PRODUCTION lifecycle for the rank
  // family: q192/q195 are the analysis forms whose two-phase
  // rank/prefix-sum branches re-evaluate their scorer once per branch
  // (the documented two-evaluation law); a pipeline scores the corpus
  // ONCE into a compact materialized (doc_id, scores) artifact and
  // ranks that. q197/q198 are the oracle-checked score-once twins.
  private val qualityDensityCache = new DirCached("qualityDensity")
  private def sharedQualityDensity(s: SparkSession, dir: String): DataFrame =
    qualityDensityCache(s, dir)(
      TextAnalysis
        .hashedQualityScores(Tables.documents(s, dir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_tokens"),
          TextAnalysis.qualityDensityMilli(col("logit_milli"), col("n_tokens"))
            .as("density_q_milli")))

  // Corpus-trained n-gram LM PROB TABLES — the model IS the artifact
  // (train once per snapshot, read by every scorer run: q76/q114 the
  // bigram, q152 the trigram — before r15 each run re-counted the gram
  // relations and re-derived the marginals, evaluating the corpus-wide
  // occurrence subtree twice). Vocab-bounded relations, the
  // sharedCodebook lifecycle; the per-run cost that remains is the
  // honest one: tokenize + join occurrences against the model + one
  // per-doc agg.
  private val bigramModelCache = new DirCached("bigramModel")
  private def sharedBigramModel(s: SparkSession, dir: String): DataFrame =
    bigramModelCache(s, dir)(
      TextAnalysis.bigramLmModel(Tables.documents(s, dir), col("doc_id"), col("text")))

  private val trigramModelCache = new DirCached("trigramModel")
  private def sharedTrigramModel(s: SparkSession, dir: String): DataFrame =
    trigramModelCache(s, dir)(
      TextAnalysis.trigramLmModel(Tables.documents(s, dir), col("doc_id"), col("text")))

  private val dsirScoreCache = new DirCached("dsirScore")
  private def sharedDsirScores(s: SparkSession, dir: String): DataFrame =
    dsirScoreCache(s, dir)(
      TextAnalysis
        .dsirWeights(Tables.documents(s, dir), col("doc_id"), col("text"),
          isTarget = col("source") === "src1")
        .select(col("doc_id"), col("dsir_ppm")))

  // SQ8 per-dimension scales: |dims| rows, trained once on the corpus
  // (the scalar-quantization twin of the PQ codebooks below) — q135
  // encodes with them, q136 audits the ranking they serve.
  private val sqScalesCache = new DirCached("sqScales")
  private def sharedSqScales(s: SparkSession, dir: String): DataFrame =
    sqScalesCache(s, dir)(Similarity.sqScales(Tables.embeddings(s, dir)))

  // Residual (IVF-PQ) codebooks: trained over residuals to the SHARED
  // coarse codebook — q141 encodes with them, q142 serves ADC probes.
  private val ivfPqCbCache = new DirCached("ivfPqCb")
  private def sharedIvfPqCodebooks(s: SparkSession, dir: String): DataFrame =
    ivfPqCbCache(s, dir)(
      Similarity.ivfPqCodebooks(
        Tables.embeddings(s, dir), sharedCodebook(s, dir), EmbDim, PqM, PqK))

  // The IVF-PQ CODE relation itself — q141 materializes it, q142
  // serves from it: encode once, serve forever. At 100 TB this is the
  // cell-partitioned parquet artifact; serving never re-derives a
  // residual for the corpus side.
  private val ivfPqCodesCache = new DirCached("ivfPqCodes")
  private def sharedIvfPqCodes(s: SparkSession, dir: String): DataFrame =
    ivfPqCodesCache(s, dir)(
      Similarity.ivfPqEncode(
        Tables.embeddings(s, dir), sharedCodebook(s, dir),
        sharedIvfPqCodebooks(s, dir), EmbDim, PqM))

  // PQ compression parameters: 64 dims → 4 subspaces × 16 dims,
  // 8 codewords each; the trained per-subspace codebooks are the
  // train-once artifact q101 encodes with and q102 serves from.
  private[queries] val PqM = 4
  private[queries] val PqK = 8
  private[queries] val EmbDim = 64
  private val pqCbCache = new DirCached("pqCb")
  private def sharedPqCodebooks(s: SparkSession, dir: String): DataFrame =
    pqCbCache(s, dir)(
      Similarity.pqCodebooks(Tables.embeddings(s, dir), EmbDim, PqM, PqK))

  // The PQ CODE relation — q101 materializes it, q102/q127 serve from
  // it (encode once, serve forever; the corpus vectors appear nowhere
  // in a serving plan).
  private val pqCodesCache = new DirCached("pqCodes")
  private def sharedPqCodes(s: SparkSession, dir: String): DataFrame =
    pqCodesCache(s, dir)(
      Similarity.pqEncode(Tables.embeddings(s, dir), EmbDim, PqM, sharedPqCodebooks(s, dir)))

  /** Queries that BY DESIGN rebuild their expensive relations per run
    * instead of consuming a shared [[DirCached]] artifact — the
    * sampled-audit family, whose whole point (round 13) is NOT riding
    * a materialized full-truth artifact no 100 TB pipeline could
    * afford. Bench reports their warm total separately
    * (`rebuild_cost`) so suite growth from per-run-rebuild entries is
    * visible as protocol cost, not mistaken for regression. */
  private[graft] val rebuildCost: Set[String] = Set(
    "q156_sampled_lsh_audit",  // anchor-gated truth built per run
    "q215_sampled_truth_pairs", // the truth side as a per-run export
    "q216_sampled_audit_reps", // rep truth built per run (rep sigs are
                               // sign-once artifacts like sharedSigs, r14)
    "q217_two_sided_audit")    // doubly-gated truth built per run

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup via normalized-content fingerprint: hash-groupBy,
    // one shuffle on the 128-bit key, partial agg map-side.
    "q30_exact_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.exactDupGroups(d, col("doc_id"), TextAnalysis.fingerprint(col("text")))
    }),

    // Exact word-3gram Jaccard near-dup pairs ≥ 0.8 (finds the
    // corpus's planted near-duplicates). Shingle join = blocking.
    "q31_ngram_jaccard_pairs" -> ((s, dir) => sharedJaccardPairs(s, dir)),

    // MinHash signatures (16 perms), computed whole-row; exploded to
    // (doc_id, k, minhash) rows for the oracle compare.
    "q32_minhash_signatures" -> ((s, dir) =>
      sharedSigs(s, dir)
        .select(col("doc_id"), posexplode(col("sig")).as(Seq("k", "minhash")))),

    // MinHash-LSH candidate pairs (8 bands × 2 rows) with estimated
    // Jaccard ≥ 0.5 — the scale path for q31. Reps-first since round
    // 14: the band self-join runs on one rep per distinct word
    // sequence and expands back — the IDENTICAL relation (oracle
    // unchanged; equivalence spec-pinned), with copy-heavy corpora
    // costing ∝ distinct content instead of copies².
    "q33_minhash_lsh_pairs" -> ((s, dir) =>
      TextDedup.lshPairsViaReps(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        sharedSigs(s, dir), 0.5,
        precomputedMembers = Some(sharedWordSeqMembers(s, dir)))),

    // Per-doc 32-bit SimHash fingerprints (persisted, shared with q35
    // — the same materialized-intermediate pattern as the shingles).
    "q34_simhash" -> ((s, dir) => sharedSimhashes(s, dir)),

    // SimHash near-dup pairs: byte-block candidates, hamming ≤ 6.
    "q35_simhash_pairs" -> ((s, dir) =>
      TextDedup.simhashPairsFromHashes(sharedSimhashes(s, dir), 6)),

    // Brute-force cosine top-10 for 5 broadcast query vectors —
    // exact ANN baseline on integer-quantized embeddings.
    "q36_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), QueryRel(s, dir), 10)
        .withColumnRenamed("rank", "rk")),

    // Hyperplane-LSH ANN: same queries restricted to their bucket.
    "q37_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), QueryRel(s, dir), dim = 64, k = 5)
        .withColumnRenamed("rank", "rk")),

    // Multi-probe LSH: own bucket + all single-bit flips — recall
    // recovered at (H+1)× candidate cost, corpus still unshuffled.
    "q88_ann_multiprobe" -> ((s, dir) =>
      Similarity.lshTopKMultiProbe(Tables.embeddings(s, dir), QueryRel(s, dir), dim = 64, k = 5)
        .withColumnRenamed("rank", "rk")),

    // Token counting (whitespace + BPE-ish regex) & quality scoring.
    "q38_text_quality" -> ((s, dir) =>
      TextAnalysis.qualityMetrics(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // Stopword-vote language ID, confusion rollup vs labeled lang.
    "q39_langid" -> ((s, dir) =>
      TextAnalysis.languageIdSummary(Tables.documents(s, dir), col("text"))),

    // Multimodal: REAL PNG decode (javax.imageio) over manifest-
    // generated payloads — the oracle recomputes dims + pixel hash
    // from the closed-form manifest; PNG losslessness makes a correct
    // codec round trip hash-exact.
    "q40_multimodal_decode" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Multimodal.decodeImages(Multimodal.syntheticImages(d, col("doc_id")))
    }),

    // Frame sampling over the decoded media (every 4th frame).
    "q41_frame_sample" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val decoded = Multimodal.decodeFeatures(Multimodal.asMediaTable(d, col("doc_id"), col("text")))
      Multimodal.sampleFrames(decoded, 4)
    }),

    // Embedding-cosine near-dup pairs: LSH-band blocking + exact
    // rescoring (threshold below the corpus max-cos so output is
    // non-trivial on unplanted data).
    // Reps-first since round 14: the band self-join runs on one rep
    // per DISTINCT quantized vector and expands back — identical
    // relation (re-ingested/mirrored embeddings are byte-identical,
    // the copy-heavy case at corpus scale), cost ∝ distinct vectors.
    "q43_embedding_neardup" -> ((s, dir) =>
      Similarity.neardupPairsViaReps(Tables.embeddings(s, dir), dim = 64, threshold = 0.35)),

    // Corpus vocabulary: top-50 tokens by document frequency.
    "q44_vocabulary" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables.documents(s, dir), col("doc_id"), col("text"), 50)),

    // IVF ANN: 16 seed-centroid cells, 2-cell probe, exact rescoring.
    "q45_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), QueryRel(s, dir), nCells = 16, nProbe = 2, k = 5)
        .withColumnRenamed("rank", "rk")),

    // Multimodal resize: REAL decode + aspect-fit + nearest-neighbor
    // resample of the decoded raster (thumbnail box 8×6 keeps the
    // oracle's pixel grid small at any SF).
    "q49_multimodal_resize" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Multimodal.resizeImages(
        Multimodal.syntheticImages(d, col("doc_id")), maxW = 8L, maxH = 6L)
    }),

    // One-pass column profile of the documents table (nulls, distinct,
    // bounds) — the pre-flight check of every data pipeline.
    "q51_profile" -> ((s, dir) => Profile.columnProfile(Tables.documents(s, dir))),

    // Deterministic hash-based train/val/test split (80/10/10) —
    // reproducible across engines/partitionings, never rand().
    "q52_split" -> ((s, dir) =>
      Profile.withSplit(Tables.documents(s, dir), col("doc_id"), 80, 10)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), graft.functions.Det.dsum(col("n_chars")).as("sum_chars"))),

    // Dedup decision: connected components over the exact near-dup
    // pairs (q31) — every doc in a cluster labeled with the component
    // minimum (the keeper).
    "q53_dedup_clusters" -> ((s, dir) => sharedClusters(s, dir)),

    // MOSS winnowing fingerprints (8-char grams, window 4): the
    // partial-overlap detection key — map-only, no shuffle.
    "q54_winnowing" -> ((s, dir) => sharedWinnowFps(s, dir)),

    // Gopher-style repetition/boilerplate signals per document.
    "q55_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionMetrics(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // Deterministic stratified sample (downsample en, keep all de...)
    // rolled up per language for a stable, oracle-checkable result.
    "q56_stratified_sample" -> ((s, dir) =>
      Profile.stratifiedSample(
        Tables.documents(s, dir),
        col("lang"),
        col("doc_id"),
        Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "es" -> 0.1, "zh" -> 0.75))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          graft.functions.Det.dsum(col("n_chars")).as("sum_chars"))),

    // Containment pairs over df-capped winnowing fingerprints — the
    // partial-overlap detector Jaccard misses.
    "q57_winnow_overlap" -> ((s, dir) =>
      TextDedup.winnowOverlapPairsFromFps(sharedWinnowFps(s, dir))),

    // Benchmark decontamination: src0 documents stand in for the eval
    // set; every other doc sharing a word-5-gram with them is flagged.
    "q58_decontamination" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.contaminationFlags(
        d.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        d.filter(col("source") === "src0"), col("text"), 5)
    }),

    // Contamination by SOURCE — q58's doc-level flags rolled to the
    // per-source rate in exact ppm: which corpus components carry the
    // benchmark leak (the number that decides whether a source is
    // cleaned or dropped). One left join of the flag set, one
    // hash-agg; the expensive gram join is q58's and runs once.
    "q176_contamination_by_source" -> ((s, dir) => {
      val d      = Tables.documents(s, dir)
      val corpus = d.filter(col("source") =!= "src0")
      val flagged = TextDedup.contaminationFlags(
        corpus, col("doc_id"), col("text"),
        d.filter(col("source") === "src0"), col("text"), 5)
        .select(col("doc_id")).withColumn("__c", lit(1L))
      corpus.select(col("source"), col("doc_id"))
        .join(flagged, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(coalesce(col("__c"), lit(0L))).as("n_contaminated"))
        .withColumn(
          "contaminated_ppm", expr("(n_contaminated * 1000000) div n_docs"))
    }),

    // Per-language top-5 word bigrams: the per-subcorpus frequency
    // table (vocab pruning / boilerplate discovery per language).
    "q59_lang_ngrams" -> ((s, dir) =>
      TextAnalysis.topNgramsPerGroup(Tables.documents(s, dir), col("lang"), col("text"), 2, 5)
        .withColumnRenamed("grp", "lang")),

    // Sequence packing: global token offsets + 512-token training-bin
    // assignment via the two-phase distributed prefix sum.
    "q60_seq_packing" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Packing.packSequences(
        d, col("doc_id"), size(TextAnalysis.tokens(col("text"))), capacity = 512L)
    }),

    // Distributed k-means (8 cells, one Lloyd refinement from seed
    // centroids) — codebook training for the IVF index; the trained
    // codebook is persisted and shared with q63.
    "q61_kmeans" -> ((s, dir) =>
      Similarity.kmeansAssignWith(Tables.embeddings(s, dir), sharedCodebook(s, dir))),

    // IVF ANN served from the TRAINED codebook (q61's centroids) —
    // the production lifecycle: train once, probe forever.
    "q63_ann_ivf_trained" -> ((s, dir) =>
      Similarity.ivfTopKWith(
        Tables.embeddings(s, dir), sharedCodebook(s, dir), QueryRel(s, dir), nProbe = 2, k = 5)
        .withColumnRenamed("rank", "rk")),

    // The dedup DECISION list: keep / drop_exact / drop_near per doc
    // with the survivor it defers to — exact fingerprint groups +
    // near-dup clusters (q30 ∘ q53) composed into the verdict a
    // pipeline actually consumes.
    "q64_dedup_verdicts" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.dedupVerdictsFromClusters(
        d, col("doc_id"), TextAnalysis.fingerprint(col("text")),
        sharedClusters(s, dir))
    }),

    // PII scrub over deterministically PLANTED pii (the corpus is
    // synthetic word salad, so the harness appends an email per doc, a
    // phone every 3rd, an IPv4 every 5th — making the cross-engine
    // regex match/redact behavior real, not vacuously zero).
    "q62_pii_scrub" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val planted = d.select(
        col("doc_id"),
        concat(
          col("text"),
          lit(" reach user"), col("doc_id").cast("string"), lit("@example.com"),
          when(pmod(col("doc_id"), lit(3L)) === 0,
            concat(lit(" or 555-"), lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5L)) === 0,
            concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"), lit(".25")))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.piiScrub(planted, col("doc_id"), col("text"))
    }),

    // Top-3 TF-IDF terms per document (rational smoothed idf — exact
    // integer counts, one fixed-order double divide; see Relevance).
    "q72_tfidf" -> ((s, dir) =>
      Relevance.topTfidfPerDoc(Tables.documents(s, dir), col("doc_id"), col("text"), 3)),

    // BM25 top-20 for a fixed 5-term query bag — inverted-index
    // retrieval with per-doc totals summed in fixed term order.
    "q73_bm25" -> ((s, dir) =>
      Relevance.bm25(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        Bm25Terms, topK = 20)),

    // Temperature-based source rebalancing (α = 0.5): large sources
    // downsampled toward the smallest, deterministic hash gate,
    // rolled up per source.
    "q74_temperature_sample" -> ((s, dir) =>
      Profile.temperatureSample(Tables.documents(s, dir), col("source"), col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), min(col("sample_rate_bps")).as("rate_bps"))),

    // Embedding-quality screen: 3 vectors per label farthest from
    // their label's centroid direction (mislabel / OOD candidates).
    "q75_centroid_outliers" -> ((s, dir) =>
      Similarity.centroidOutliers(Tables.embeddings(s, dir), col("label"), 3)),

    // Corpus-trained bigram-LM likelihood per doc (integer-ppm
    // quantized — the log-free perplexity stand-in). Scores against
    // the shared train-once prob table (r15).
    "q76_lm_score" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(Tables.documents(s, dir), col("doc_id"), col("text"),
        model = Some(sharedBigramModel(s, dir)))),

    // Quality-gate verdicts: per-doc gate booleans + keep/drop — the
    // filter decision list (quality analogue of q64).
    "q93_quality_verdicts" -> ((s, dir) =>
      TextAnalysis.qualityVerdicts(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // Per-source document cap (max 10 per source, deterministic hash
    // ranking) — the domain-cap curation stage; WindowGroupLimit keeps
    // the per-partition cost at k rows per group (pinned).
    "q94_source_cap" -> ((s, dir) =>
      Profile.groupCap(Tables.documents(s, dir), col("source"), col("doc_id"), k = 10)),

    // Incremental ingest dedup: the odd-id half arrives as a NEW batch
    // and probes the even-id half as the EXISTING signature index —
    // cost scales with the batch, never the corpus self-join.
    // (r15: a reps-first rewrite was built, measured and REVERTED —
    // 0.34 → 1.17–1.84 s at sf0.1 across two collapse variants; unlike
    // q33's self-join the probe's candidate mass is output-bound on
    // copy-dense data, so the collapse can save at most the ×bands
    // multiplicity while its member-map machinery costs more than the
    // whole direct probe here. OPTIMIZATION_r15.md has the numbers.)
    "q95_incremental_neardup" -> ((s, dir) => {
      val sigs = sharedSigs(s, dir)
      TextDedup.lshPairsAgainstIndex(
        sigs.filter(col("doc_id") % 2 === 1),
        sigs.filter(col("doc_id") % 2 === 0),
        estThreshold = 0.5)
    }),

    // Quality-aware canonical keeper per near-dup cluster (q53's
    // clusters + q38's quality score): keep the best copy, not the
    // smallest id — tie-broken exactly, so fully oracle-checkable.
    "q105_canonical_keepers" -> ((s, dir) =>
      TextDedup.canonicalKeepers(
        Tables.documents(s, dir),
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")),
        sharedClusters(s, dir))),

    // CCNet/Dolma-style global paragraph dedup: ban content-defined
    // segments shared across documents, reassemble the cleaned text.
    // The removal op the pair-finding dedup family feeds.
    "q106_paragraph_dedup" -> ((s, dir) =>
      TextDedup.paragraphDedup(
        Tables.documents(s, dir),
        col("doc_id"),
        col("text"),
        breakDivisor = ParagraphBreakDivisor,
        maxDocFreq = ParagraphMaxDf)),

    // Bloom-gated EXACT incremental dedup (q95's exact-match sibling,
    // same even=history / odd=new-batch split): history folds into a
    // broadcast Bloom filter, only bloom-hit new rows reach the
    // history join — deterministic output because bloom misses are
    // provably novel (fpp trades join volume, never correctness).
    "q104_bloom_dedup_gate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.bloomDedupGate(
        d.filter(col("doc_id") % 2 === 1),
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")),
        d.filter(col("doc_id") % 2 === 0)
          .select(TextAnalysis.fingerprint(col("text")).as("fp")),
        fpp = 0.01)
    }),

    // Exact duplicated-passage spans across docs (ExactSubstr-style):
    // strided 32-char gram hashes, cross-doc df ≥ 2, span merge.
    "q89_dup_spans" -> ((s, dir) =>
      TextAnalysis.dupSpans(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // The production near-dup path made explicit: LSH candidates
    // (q33) rescored with EXACT Jaccard (q31's score) — candidates
    // only, never the full shingle self-join. Reps-first since round
    // 14 (same discipline as q33): band join AND exact rescore run on
    // word-sequence reps, then expand — identical relation, rescore
    // cost ∝ distinct content (×100: 338 s → see SCALING.md). Served
    // from [[sharedRescoredPairs]] (computed once per snapshot, also
    // read by the q112 auditor — the q99/sharedPrefixPairs lifecycle).
    "q84_lsh_rescored" -> ((s, dir) => sharedRescoredPairs(s, dir)),

    // CAPSTONE: the whole training-data prep pipeline as ONE plan —
    // dedup verdicts (exact + near) → drop the benchmark source →
    // decontaminate against its grams → temperature-rebalance →
    // per-source rollup. Every stage reuses the operators above; the
    // oracle chains the same CTE fragments.
    "q85_prep_pipeline" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val kept2 = d.join(sharedKeepSet(s, dir), Seq("doc_id"), "left_semi")
        .filter(col("source") =!= "src0")
        .join(sharedContamSet(s, dir), Seq("doc_id"), "left_anti")
      Profile.temperatureSample(kept2, col("source"), col("doc_id"), seed = "prep")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          graft.functions.Det.dsum(col("n_chars")).as("sum_chars"))
    }),

    // SemDeDup: semantic dedup via within-cluster cosine against the
    // SAME trained codebook the IVF index probes — the k-means
    // partition is the blocking structure (pairs only inside a cell).
    "q96_semdedup" -> ((s, dir) =>
      Similarity.semDedupVerdicts(
        Tables.embeddings(s, dir), sharedCodebook(s, dir), tau = 0.4)),

    // DSIR importance weights: src1 as the trusted target corpus,
    // hashed-bigram profile ratio in exact integer ppm — the
    // data-selection score that reweights the raw pool toward target.
    "q97_dsir_weights" -> ((s, dir) =>
      TextAnalysis.dsirWeights(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        isTarget = col("source") === "src1")),

    // Per-source distribution drift vs the corpus: the ingest monitor
    // that catches a source gone wrong before it trains.
    "q98_source_drift" -> ((s, dir) =>
      TextAnalysis.sourceDrift(
        Tables.documents(s, dir), col("doc_id"), col("text"), col("source"))),

    // Prefix-filtered EXACT Jaccard ≥ 0.8 over the FULL shingle
    // universe — no cap, no LSH recall loss; hot posting lists shrink
    // by rarest-first ordering instead of dropping (PPJoin family).
    "q99_prefix_jaccard" -> ((s, dir) => sharedPrefixPairs(s, dir)),

    // PQ encode: the m-codes-per-vector compression artifact (with
    // exact per-subspace quantization error) a 100 TB corpus
    // materializes once — vectors never leave the scan again.
    "q101_pq_codes" -> ((s, dir) => sharedPqCodes(s, dir)),

    // PQ ADC top-k FROM THE MATERIALIZED CODES (q101's artifact):
    // distance tables broadcast, only stored CODES move — the serving
    // plan never touches or re-encodes a vector.
    "q102_pq_topk" -> ((s, dir) =>
      Similarity.pqTopKWithCodes(
        sharedPqCodes(s, dir), sharedPqCodebooks(s, dir),
        QueryRel(s, dir), EmbDim, PqM, k = 5)),

    // Sliding-window chunking: 64-token windows every 48 tokens —
    // the context-length splitter feeding embedding/indexing stages.
    // Map-only explode, amplification exactly ⌈n/48⌉ per doc.
    "q107_chunking" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        chunkTokens = 64, stride = 48)),

    // Deterministic global shuffle into 8 shards: the "randomize
    // training order" step, reproducible across engines/partitionings.
    "q108_global_shuffle" -> ((s, dir) =>
      Profile.globalShuffle(Tables.documents(s, dir), col("doc_id"), shards = 8)),

    // Exact per-source length quantiles over the compressed
    // (source, len) relation — the context-length sizing report.
    "q109_length_quantiles" -> ((s, dir) =>
      Profile.lengthQuantiles(Tables.documents(s, dir), col("source"), col("n_chars"))),

    // Mixture repeat-factor plan (α = 0.5 temperature): the per-source
    // epoch multipliers that realize the rebalanced mixture by
    // UPSAMPLING small sources (complement of q74's downsampling).
    "q110_mixture_plan" -> ((s, dir) =>
      Profile.mixturePlan(Tables.documents(s, dir), col("source"))),

    // Semantic decontamination: label-0 vectors stand in for a
    // benchmark embedding set; corpus vectors with max cosine ≥ 0.35
    // against ANY of them are flagged — the embedding-space complement
    // of q58's n-gram decontamination.
    "q111_semantic_decontamination" -> ((s, dir) =>
      Similarity.semanticContamination(
        Tables.embeddings(s, dir), benchPred = col("label") === 0, threshold = 0.35)),

    // Recall/precision audit of the production LSH near-dup path (q84)
    // against exact full-universe truth (q99's prefix-filtered join):
    // the measured answer to "what does the fast path miss?". Both
    // sides reuse the shared shingle/signature intermediates.
    "q112_lsh_recall_audit" -> ((s, dir) =>
      TextDedup.recallAudit(
        sharedPrefixPairs(s, dir),
        sharedRescoredPairs(s, dir))),

    // Vocabulary coverage curve: % of token occurrences covered by the
    // top-K words — the tokenizer-sizing number. Distributed rank over
    // the compressed vocab relation, never a one-reducer sort.
    "q113_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(
        Tables.documents(s, dir), col("text"), Seq(10, 100, 1000))),

    // CCNet-style head/middle/tail split by corpus-LM score: q76's
    // bigram-LM doc scores bucketed with the DISTRIBUTED exact ntile
    // (the single-reducer-free q81 machinery reused on text).
    "q114_perplexity_buckets" -> ((s, dir) => {
      // Scores against the shared train-once bigram prob table, and
      // the compact (doc_id, avg_p_ppm) relation is materialized
      // IN-PLAN (Materialize.truncate, per run) so the ntile's two
      // branches read it instead of re-running the occurrence join (r15).
      val scored = Materialize.truncate(TextAnalysis.bigramLmScore(
          Tables.documents(s, dir), col("doc_id"), col("text"),
          model = Some(sharedBigramModel(s, dir)))
        .select(col("doc_id"), col("avg_p_ppm")))
      // avg_p_ppm is a per-bigram mean of unsmoothed MLE bigram
      // probabilities quantized to ppm ((c2·10^6) div c1, and c2 ≤ c1
      // — Laplace smoothing lives in dsirWeights, not here) — provably
      // in [0, 1e6] — so the lead key is a-priori bounded and the
      // min/max discovery pass disappears (guide §1.2 step 1).
      Ranking.globalNtile(scored, -col("avg_p_ppm"), Seq(col("doc_id")), buckets = 3,
        keyBounds = Some((-1000000L, 0L)))
        .drop("rank")
        .withColumn(
          "bucket",
          when(col("tile") === 1, "head").when(col("tile") === 2, "middle").otherwise("tail"))
    }),

    // Realized epochs: materialize q110's repeat plan into the
    // epoch-expanded training list (⌊repeat⌋ copies each + hash-gated
    // fractional extras) — map-only explode, plan broadcast back.
    "q115_realized_epochs" -> ((s, dir) =>
      Profile.realizeMixture(Tables.documents(s, dir), col("source"), col("doc_id"))),

    // Hybrid retrieval: q73's BM25 list fused with q36's per-query
    // vector lists by reciprocal-rank fusion (integer-ppm RRF — ranks
    // only, no score calibration). The fixture pairs vec_id 1:1 with
    // doc_id, so both lists speak the same id space.
    "q116_hybrid_rrf" -> ((s, dir) =>
      Relevance.rrfFuse(
        Relevance.bm25(
          Tables.documents(s, dir), col("doc_id"), col("text"), Bm25Terms, topK = 20),
        Similarity.bruteForceTopK(Tables.embeddings(s, dir), QueryRel(s, dir), 10))),

    // Per-doc character statistics via the one-pass codegen'd
    // CharSimpson expression — map-only; the per-character explode
    // only the ORACLE runs would be a corpus-of-chars shuffle.
    "q117_char_stats" -> ((s, dir) =>
      TextAnalysis.charStats(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // What a 64-token context window costs per source — map-only token
    // counts, one hash-agg to |sources| rows.
    "q118_truncation_loss" -> ((s, dir) =>
      TextAnalysis.truncationLoss(
        Tables.documents(s, dir), col("source"), col("text"), maxLen = 64)),

    // Token savings of exact dedup per source: global keep-min keeper
    // assignment (one fp window), per-source rollup.
    "q119_dedup_token_yield" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.dedupTokenYield(
        d, col("doc_id"), TextAnalysis.fingerprint(col("text")), col("source"), col("text"))
    }),

    // Hard negatives for contrastive training: top-10 most-similar
    // DIFFERENT-label vectors per query; corpus never shuffles.
    "q120_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir), QueryRel(s, dir), 10)
        .withColumnRenamed("rank", "rk")),

    // Epoch-rotated exact-dedup keepers: seeded hash of the GROUP key
    // picks which copy trains this epoch — one per group, rotating.
    "q121_epoch_keepers" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.epochKeepers(
        d, col("doc_id"), TextAnalysis.fingerprint(col("text")), seed = "epoch0")
    }),

    // MMR diversity re-rank of the cosine top-10 pool down to 5 — the
    // greedy loop touches poolSize rows per query; corpus only sees
    // the broadcast top-k scan.
    "q124_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrTopK(Tables.embeddings(s, dir), QueryRel(s, dir), poolSize = 10, k = 5)),

    // ANN recall audit: IVF(nProbe=2) top-5 measured against the
    // exact top-5 — the trust gate before serving an index at scale.
    "q125_ann_recall_audit" -> ((s, dir) =>
      Similarity.topKRecallAudit(
        Similarity.bruteForceTopK(Tables.embeddings(s, dir), QueryRel(s, dir), 5),
        Similarity.ivfTopK(Tables.embeddings(s, dir), QueryRel(s, dir), nCells = 16, nProbe = 2, k = 5))),

    // Cross-source duplication matrix over the shared (capped) exact
    // Jaccard pairs — which ingest sources share near-dup mass.
    "q126_dup_source_matrix" -> ((s, dir) =>
      TextDedup.dupSourceMatrix(
        sharedJaccardPairs(s, dir),
        Tables.documents(s, dir), col("doc_id"), col("source"))),

    // PQ recall audit: ADC top-5 vs EXACT L2 top-5 (PQ ranks by
    // distance, so the truth side is L2, not cosine) — completes the
    // audit family: LSH pairs q112, IVF q125, PQ here.
    "q127_pq_recall_audit" -> ((s, dir) =>
      Similarity.topKRecallAudit(
        Similarity.bruteForceL2TopK(Tables.embeddings(s, dir), QueryRel(s, dir), 5),
        Similarity.pqTopKWithCodes(
          sharedPqCodes(s, dir), sharedPqCodebooks(s, dir),
          QueryRel(s, dir), EmbDim, PqM, k = 5))),

    // Recall-vs-nProbe tuning curve for the IVF index: the number an
    // operator reads before fixing nProbe in production. Truth side
    // computed once; each point is one ivfTopK plan + a top-k-sized
    // audit join.
    "q128_ivf_recall_curve" -> ((s, dir) =>
      Similarity.ivfRecallCurve(
        Tables.embeddings(s, dir), QueryRel(s, dir),
        nCells = 16, nProbes = Seq(1, 2, 4, 8), k = 10)),

    // SemDeDup under the hot-cell cap, with a cap chosen so it BITES
    // at test scale (cap 4 vs cells ≈ 250: drop count falls 21 → 4 vs
    // uncapped q96) — the capped SEMANTICS, head-comparison rank and
    // all, are oracle-checked, not just spec-pinned; both engines must
    // agree on exactly which drops survive the cap.
    "q129_semdedup_capped" -> ((s, dir) =>
      Similarity.semDedupVerdicts(
        Tables.embeddings(s, dir), sharedCodebook(s, dir), tau = 0.4,
        maxCellCompare = Some(4L))),

    // Recall-vs-probe-count curve for the LSH index (q128's twin on
    // the multi-probe dial): own bucket + first f bit-flip neighbors,
    // f ∈ {0, 2, 4, 8}, audited against exact truth at k=10.
    "q130_lsh_recall_curve" -> ((s, dir) =>
      Similarity.lshRecallCurve(
        Tables.embeddings(s, dir), QueryRel(s, dir),
        dim = 64, nFlips = Seq(0, 2, 4, 8), k = 10)),

    // Incremental SemDeDup (q95/q104's vector sibling, same odd=new /
    // even=index split): the new batch joins only its own cell's index
    // members — cost ∝ batch × cell occupancy, never index².
    "q131_semdedup_incremental" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.semDedupAgainstIndex(
        e.filter(col("vec_id") % 2 === 1),
        e.filter(col("vec_id") % 2 === 0),
        sharedCodebook(s, dir), tau = 0.4)
    }),

    // Quality-bar token-yield sweep: docs/tokens surviving each
    // candidate gate threshold — the number read before fixing the
    // quality bar (one scoring pass, |bars|-row rollup).
    "q132_quality_yield_curve" -> ((s, dir) =>
      TextAnalysis.qualityYieldCurve(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        bars = Seq(0.3, 0.5, 0.7, 0.9))),

    // Near-dup threshold sweep over the SHARED capped exact-Jaccard
    // pair relation (scored once at the production bar 0.8): pair mass
    // and affected-doc count per tighter candidate bar — the number
    // read before fixing the dedup threshold. Bars chosen to
    // discriminate on this corpus (25 → 24 → 0 pairs at sf0.01).
    "q133_dedup_threshold_sweep" -> ((s, dir) =>
      TextDedup.thresholdSweep(
        sharedJaccardPairs(s, dir),
        thresholds = Seq(0.8, 0.95, 0.99))),

    // Leakage-free train/val/test split: the split hash keys on the
    // dedup SURVIVOR (q64's verdict relation), so a whole near-dup
    // cluster moves between splits as a unit — membership in test
    // implies no near-copy leaked into train.
    "q134_leakfree_split" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Profile.leakFreeSplit(
        d.select(col("doc_id")), col("doc_id"),
        TextDedup.dedupVerdictsFromClusters(
          d, col("doc_id"), TextAnalysis.fingerprint(col("text")),
          sharedClusters(s, dir)),
        trainPct = 80, valPct = 10)
    }),

    // Int8 scalar quantization (SQ8): per-dim symmetric scales trained
    // on the corpus, codes + exact decode error per (vector, dim) —
    // the 4-byte→1-byte compression artifact every 100 TB vector
    // store materializes before building indexes.
    "q135_sq8_codes" -> ((s, dir) =>
      Similarity.sqEncode(Tables.embeddings(s, dir), sharedSqScales(s, dir))),

    // Recall@10 of cosine ranking over the SQ8-compressed corpus vs
    // exact truth — the audit read before trusting 4×-compressed
    // serving (the SQ sibling of q127's PQ audit).
    "q136_sq8_recall" -> ((s, dir) =>
      Similarity.topKRecallAudit(
        Similarity.bruteForceTopK(Tables.embeddings(s, dir), QueryRel(s, dir), 10),
        Similarity.sqTopKWith(
          Tables.embeddings(s, dir), sharedSqScales(s, dir), QueryRel(s, dir), 10))),

    // C4/Gopher heuristic rule bundle: one named boolean per published
    // rule + the composed keep verdict — every drop attributable to
    // its rule. minWords=30 splits this corpus ~1:4.
    "q137_heuristic_gate" -> ((s, dir) =>
      TextAnalysis.heuristicGate(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        minWords = 30, minStopHits = 1)),

    // Unicode char-class census + script verdict — the is-this-even-
    // text screen that runs before language ID on crawled data.
    "q138_script_profile" -> ((s, dir) =>
      TextAnalysis.scriptProfile(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // Clustering-quality report for the SHARED trained codebook (the
    // one IVF probes and SemDeDup cells ride): per cell n, mean own
    // d², mean separation ppm — read before trusting q45/q63/q96.
    "q139_codebook_quality" -> ((s, dir) =>
      Similarity.codebookQuality(Tables.embeddings(s, dir), sharedCodebook(s, dir))),

    // UniMax budget allocation across languages (epoch cap 2.0,
    // budget 200 k chars): the fairer alternative to temperature
    // sampling — closed-form water-filling in exact int64.
    "q140_unimax_plan" -> ((s, dir) =>
      Profile.unimaxPlan(
        Tables.documents(s, dir), col("lang"), col("n_chars"),
        budget = 200000L, epochCapX1000 = 2000L)),

    // IVF-PQ encode (IVFADC, Jégou et al. 2011): coarse cell + m
    // residual codes + exact per-subspace quantization error — the
    // bytes-per-vector index artifact a 100 TB corpus materializes
    // once and serves from.
    "q141_ivfpq_codes" -> ((s, dir) => sharedIvfPqCodes(s, dir)),

    // IVFADC serving FROM THE MATERIALIZED CODES (q141's artifact) —
    // probe 2 coarse cells, ADC over residual code lists; the corpus
    // side is codes-only, never a vector, never a re-encode.
    "q142_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopKWithCodes(
        sharedIvfPqCodes(s, dir), sharedCodebook(s, dir),
        sharedIvfPqCodebooks(s, dir), QueryRel(s, dir),
        EmbDim, PqM, nProbe = 2, k = 5)),

    // Curriculum schedule: quality-phased ntiles (phase 1 = cleanest
    // third) + deterministic (shard, pos) order — the artifact a
    // curriculum-training data loader consumes phase by phase.
    "q143_curriculum_schedule" -> ((s, dir) =>
      Profile.curriculumSchedule(
        Tables.documents(s, dir), col("doc_id"),
        TextAnalysis.qualityScore(col("text")), phases = 3, shards = 8)),

    // Contrastive triplet mining: near-dup positives (q43's relation)
    // × hard different-label negatives mined THROUGH the trained IVF
    // index (q61's codebook, q63's probe discipline) — the (anchor,
    // positive, negative) list an embedding trainer consumes. The
    // anchor set is corpus-fraction, so it is never broadcast: probes
    // meet the cell-assigned corpus in a keyed shuffle.
    "q144_triplet_mining" -> ((s, dir) =>
      Similarity.tripletMiningIndexed(
        Tables.embeddings(s, dir), sharedCodebook(s, dir), dim = 64,
        posThreshold = 0.35, nProbe = 2, kNeg = 3)),

    // Matryoshka truncation-recall curve: recall@10 of prefix-dim
    // cosine ranking vs full-dim truth — the number read before
    // choosing a truncated serving dimension (the cheapest
    // compression: no codebooks at all).
    "q145_matryoshka_curve" -> ((s, dir) =>
      Similarity.matryoshkaRecallCurve(
        Tables.embeddings(s, dir), QueryRel(s, dir),
        dims = Seq(8, 16, 32, 64), k = 10)),

    // Cross-label near-dup matrix (vector twin of q126): where
    // semantic duplication concentrates — off-diagonal mass is
    // cross-source/cross-lingual duplication.
    // Same reps-first pair form as q43 (identical pair relation →
    // identical rollup; oracle unchanged).
    "q146_crosslabel_neardups" -> ((s, dir) =>
      Similarity.crossLabelNeardupsViaReps(
        Tables.embeddings(s, dir), dim = 64, threshold = 0.35)),

    // Per-doc novelty / memorization-risk rate: share of a doc's
    // distinct 6-grams appearing in ≥1 other doc — the per-doc
    // summary next to q89's span view.
    "q147_novelty_scores" -> ((s, dir) =>
      TextAnalysis.noveltyScores(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // Packing-vs-padding efficiency: per source, bins and waste under
    // pad-to-512 vs contiguous packing, savings in exact ppm — the
    // number read before choosing the batch layout.
    "q150_packing_efficiency" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Packing.packingEfficiency(
        d, col("source"), size(TextAnalysis.tokens(col("text"))), capacity = 512L)
    }),

    // IVF cell-population skew: min/median/p99/max cell size +
    // imbalance factor over the shared codebook — the probe-latency
    // early warning next to q139's geometric quality view.
    "q154_cell_skew" -> ((s, dir) =>
      Similarity.cellSkewReport(Tables.embeddings(s, dir), sharedCodebook(s, dir))),

    // Curation funnel report: docs/chars surviving each stage of the
    // q85 prep pipeline (raw → dedup → bench-drop → decontaminate →
    // rebalance) — the dashboard artifact an operator reads to see
    // where the corpus went; every stage reuses q85's exact operators.
    // Rewritten round 6 as a SINGLE pass: instead of five unioned agg
    // branches each re-deriving its prefix of the stage chain (the
    // contamination join ran twice, the dedup semi-join four times),
    // every doc is classified ONCE with its max surviving stage —
    // three doc-id-set left joins against the shared (persisted) gate
    // sets — then one tiny groupBy and a 5-row cumulative expansion.
    // Stages are nested subsets, so stage i's totals = Σ over docs
    // with __stage ≥ i.
    "q153_curation_funnel" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val kept2 = d.join(sharedKeepSet(s, dir), Seq("doc_id"), "left_semi")
        .filter(col("source") =!= "src0")
        .join(sharedContamSet(s, dir), Seq("doc_id"), "left_anti")
      val tempKept = Profile.temperatureSample(kept2, col("source"), col("doc_id"), seed = "prep")
        .select("doc_id")
      val flagged = d
        .join(sharedKeepSet(s, dir).withColumn("__k", lit(1)), Seq("doc_id"), "left")
        .join(sharedContamSet(s, dir).withColumn("__c", lit(1)), Seq("doc_id"), "left")
        .join(tempKept.withColumn("__t", lit(1)), Seq("doc_id"), "left")
        .withColumn("__stage",
          when(col("__k").isNull, lit(1))
            // survives the bench drop only if source ≠ 'src0' is TRUE
            // (a NULL source exits here, matching the =!= filter)
            .when(!coalesce(col("source") =!= lit("src0"), lit(false)), lit(2))
            .when(col("__c").isNotNull, lit(3))
            .when(col("__t").isNull, lit(4))
            .otherwise(lit(5)))
      val per = flagged.groupBy(col("__stage")).agg(
        count(lit(1)).as("__nd"), sum(col("n_chars")).as("__nc"))
      val stageRel = s.createDataFrame(Seq(
        (1, "raw"), (2, "dedup"), (3, "bench_drop"),
        (4, "decontaminated"), (5, "rebalanced"))).toDF("stage_idx", "stage")
      stageRel.join(broadcast(per), col("__stage") >= col("stage_idx"), "left")
        .groupBy(col("stage_idx"), col("stage"))
        .agg(
          coalesce(sum(col("__nd")), lit(0L)).as("n_docs"),
          coalesce(sum(col("__nc")), lit(0L)).as("n_chars"))
    }),

    // Interpolated trigram LM (Jelinek-Mercer 0.5/0.3/0.2): the
    // quality signal one order above q76's bigram model, smoothing
    // included — unseen prefixes still score via backoff mass. Scores
    // against the shared train-once prob table (r15).
    "q152_trigram_lm" -> ((s, dir) =>
      TextAnalysis.trigramLmScore(Tables.documents(s, dir), col("doc_id"), col("text"),
        model = Some(sharedTrigramModel(s, dir)))),

    // BPE merge-candidate kernel: corpus-wide adjacent char-pair
    // counts within words (round 1 of byte-pair tokenizer training,
    // over the raw character vocabulary), top 50.
    "q161_bpe_pair_counts" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), col("text"), k = 50)),

    // Boilerplate-shingle review: the top-20 shingles by DOCUMENT
    // frequency — what the dedup family's df-caps would drop; read
    // before tuning SharedJaccardDfCap. Reuses the shared persisted
    // shingle relation.
    "q162_boilerplate_shingles" -> ((s, dir) =>
      TextDedup.boilerplateShingles(sharedShingles(s, dir), k = 20)),

    // Perceptual image hash: REAL decode → 8×8 integer block-mean
    // aHash (64-bit), oracle recomputed from the closed-form manifest
    // like q40/q49 — PNG losslessness makes the codec round trip
    // hash-exact.
    "q163_image_ahash" -> ((s, dir) => sharedAHashes(s, dir)),

    // Image NEAR-DUP pairs at hamming ≤ 3 over the aHash fingerprints
    // — the banded pigeonhole join (8 bands ⇒ exact up to hamming 7),
    // sharing the text-simhash pair machinery across modalities.
    "q164_image_neardup" -> ((s, dir) =>
      TextDedup.simhashPairsFromHashes(sharedAHashes(s, dir), maxHamming = 3, bands = 8)),

    // q164's PRODUCTION twin for a dup-dense corpus (the ingest steady
    // state the reference's overlapping fetches create): the EXACT
    // layer collapses hash-identical images to their keep-min
    // representative FIRST (one hash-agg), and near-dup pairs are
    // mined among representatives only — raw q164's output grows ∝ K²
    // in the within-group pair mass, this stays ∝ distinct
    // fingerprints (measured 60.2 s → 4.2 s at ×100, SCALING.md). The
    // pair join's input being the distinct-fingerprint relation is
    // plan-pinned.
    "q171_image_neardup_distinct" -> ((s, dir) =>
      TextDedup.simhashPairsFromHashes(
        sharedAHashes(s, dir)
          .groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), col("sh")),
        maxHamming = 3, bands = 8)),

    // kNN label-noise audit (confident-learning style): each vector's
    // 5 nearest within-cell neighbors vote on its label; a strict
    // minority own-label is a mislabel suspect. Rides the SHARED
    // trained codebook (train once).
    "q165_label_audit" -> ((s, dir) =>
      Similarity.knnLabelAudit(
        Tables.embeddings(s, dir), sharedCodebook(s, dir), col("label"), k = 5)),

    // Inter-source shingle-overlap matrix: for every source pair, how
    // much distinct-shingle mass they share (containment vs the
    // smaller side) — the "is CC already inside C4" dataset-analysis
    // question, asked before mixing. Per-shingle fan-out is bounded by
    // |sources|² (tiny), so the hot-boilerplate skew Jaccard pairs
    // fight never appears here.
    "q167_source_overlap" -> ((s, dir) =>
      TextDedup.sourceOverlapMatrix(
        sharedShingles(s, dir),
        Tables.documents(s, dir).select(col("doc_id"), col("source")))),

    // q167 under the production df-cap — the same rail every other
    // shingle consumer has: shingles in more than SourceOverlapDfCap
    // documents never reach the overlap join, so its cost stays
    // bounded by RARE-shingle mass on a boilerplate-heavy corpus
    // (q167's measured ×5.0 per decade is ∝ total distinct-shingle
    // mass). The keep set is the cached once-per-snapshot artifact;
    // the cap is chosen to BITE at test scale (cap 4 vs observed max
    // df 7 at sf0.01 / 25 at sf0.1), and the capped SEMANTICS —
    // totals over the capped universe included — are oracle-checked,
    // the q129 pattern.
    "q172_source_overlap_capped" -> ((s, dir) =>
      TextDedup.sourceOverlapMatrix(
        sharedShingles(s, dir),
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        keepShingles = Some(sharedRareShingles(s, dir)))),

    // Crawl-frontier dedup: canonicalize URL variants (case, default
    // ports, fragments, tracking params, param order, empty path) and
    // collapse to one keep-min fetch per canonical URL — the gate a
    // web-corpus ingest runs before spending a fetch. URLs come from a
    // closed-form manifest (the syntheticImages trick): five variants
    // per (host, path) cell that the canonicalizer must collapse into
    // exactly two groups (https with sorted params / http bare host),
    // recomputed independently by the DuckDB oracle.
    "q173_url_frontier" -> ((s, dir) =>
      TextAnalysis.urlFrontier(q173Urls(s, dir), col("doc_id"), col("url"))),

    // DPO-style preference pairs: per (source, lang) group, the
    // highest-quality document (chosen) vs the lowest (rejected) with
    // the quality margin — preference-tuning data construction from a
    // scored proxy when no human labels exist. Deterministic
    // tie-breaks; single-doc groups emit nothing.
    "q174_preference_pairs" -> ((s, dir) =>
      TextAnalysis.preferencePairs(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        groups = Seq("source", "lang"))),

    // BPE segmentation with a FIXED merge table (the serve side of
    // the trained artifact — bpeTrain's output applied at corpus
    // scale): per doc, the subword count and the full segmentation.
    // The engine runs the sequential greedy kernel
    // (TextAnalysis.bpeApplyMerges); the oracle replays the same
    // merges as sentinel-delimited string replaces (left-to-right
    // non-overlapping — exactly the greedy rule), so the two
    // implementations share nothing but the semantics.
    "q175_bpe_segmentation" -> ((s, dir) =>
      TextAnalysis.bpeApplyMerges(
        Tables.documents(s, dir), col("doc_id"), col("text"), Q175Merges)
        .select(
          col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          array_join(col("subwords"), " ").as("seg_text"))),

    // Tokenizer fertility per language: BPE-ish subwords per
    // whitespace word — the number that sizes sequence budgets per
    // language before committing a tokenizer. One map-side-combined
    // hash-agg; both tokenizations are single-pass column expressions.
    "q168_token_fertility" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_words"),
          sum(size(TextAnalysis.bpeTokens(col("text"))).cast("long")).as("n_subwords"))
        .withColumn(
          "fertility_ppm",
          expr("(n_subwords * 1000000) div greatest(n_words, 1L)"))),

    // Image dedup DECISIONS — what a pipeline actually consumes for
    // images: exact keepers by identical fingerprint + near-dup
    // clusters over the hamming pairs, one keep/drop_exact/drop_near
    // verdict per image with its survivor. The SAME verdict machinery
    // text dedup runs (one definition of "keeper" across modalities).
    // Engine side runs the exact-layer-first form; the oracle is the
    // FULL-PAIR recursive chain — the hash match executes the
    // equivalence proof on real data.
    "q169_image_verdicts" -> ((s, dir) => sharedImageVerdicts(s, dir)),

    // Image dedup YIELD — the ops-dashboard rollup of q169 (the image
    // twin of the text keeper/yield family): verdict counts + share of
    // the corpus in exact ppm.
    "q170_image_yield" -> ((s, dir) =>
      sharedImageVerdicts(s, dir)
        .groupBy(col("verdict"))
        .agg(count(lit(1)).as("n_images"))
        .withColumn(
          "share_ppm",
          expr("(n_images * 1000000) div sum(n_images) over ()"))),

    // Incremental image-dedup probe (the MediaStream gate's batch
    // operator): odd-id images as the NEW batch, even-id images as the
    // admitted INDEX — which new images sit within hamming 3 of an
    // index member. Cost ∝ batch × band-collision rate, never
    // batch × index.
    "q166_image_probe" -> ((s, dir) => {
      val fps = sharedAHashes(s, dir)
      TextDedup.simhashProbeIndex(
        fps.filter(col("doc_id") % 2 === 1),
        fps.filter(col("doc_id") % 2 === 0),
        maxHamming = 3, bands = 8)
    }),

    // Two-stage retrieval — ADC + exact refine (IVFADC's "+R"): the
    // compressed index proposes 20 candidates per query from STORED
    // codes, only those 20 vectors are fetched and exactly re-scored
    // to the final top-5. Cheap recall from the index, precision from
    // the refine; the corpus is never scanned uncompressed.
    "q159_pq_rerank" -> ((s, dir) =>
      Similarity.pqRerank(
        Tables.embeddings(s, dir), sharedPqCodes(s, dir), sharedPqCodebooks(s, dir),
        QueryRel(s, dir), EmbDim, PqM, kCand = 20, k = 5)),

    // Dataset card: the one-row corpus summary every shipped training
    // set carries — docs/tokens/chars, language and source breadth,
    // exact-dup rate (keep-min keeper contract), mean doc length.
    // One pass + one fingerprint window; everything exact-integer.
    "q160_dataset_card" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))
      d.select(
        col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("__nt"),
        TextAnalysis.fingerprint(col("text")).as("__fp"))
        .withColumn("__keeper", min(col("doc_id")).over(w))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("__nt")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          expr("(sum(CASE WHEN doc_id <> __keeper THEN 1 ELSE 0 END) * 1000000) div count(1)")
            .as("dup_doc_ppm"),
          expr("sum(__nt) div count(1)").as("mean_doc_tokens"))
    }),

    // Near-dup cluster-size histogram: how duplicate mass distributes
    // — many pairs or few giant blobs decides dedup write
    // amplification and cluster-contraction round count; the dedup
    // health dashboard next to q53's raw labels. Singletons (docs in
    // no cluster) are the size-1 row via one anti-join count.
    "q157_cluster_histogram" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val members = sharedClusters(s, dir)
      val multi = members
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .select(
          col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
      val singles = d
        .join(members.select("doc_id"), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_clusters"))
        .select(lit(1L).as("cluster_size"), col("n_clusters"), col("n_clusters").as("n_docs"))
      multi.unionByName(singles)
    }),

    // Incremental codebook refresh — the ANN-index-maintenance twin of
    // q148: per-(cell, dim) exact-int sums/counts are the MERGEABLE
    // state, a delta batch is absorbed at O(|delta|), and the
    // refreshed centroids (one more Lloyd round over the shared
    // codebook) come out bit-identical to the full recompute — this
    // query IS the equivalence, built as merge(state(even half),
    // state(odd half)) and oracle-checked against the direct
    // full-corpus round.
    "q158_codebook_refresh" -> ((s, dir) => {
      val e  = Tables.embeddings(s, dir)
      val cb = sharedCodebook(s, dir)
      val merged = Similarity.mergeCodebookStates(
        Similarity.codebookState(e.filter(col("vec_id") % 2 === 0), cb),
        Similarity.codebookState(e.filter(col("vec_id") % 2 === 1), cb))
      Similarity.centroidsFromState(merged)
        .select(col("cell"), posexplode(col("cv")).as(Seq("i", "cx")))
    }),

    // SAMPLED audit mode — the 100 TB shape of q125: a deterministic
    // hash gate (Portable.sampleGate, 50% here → qids 0 and 3 of the
    // probe set) restricts BOTH the exact brute-force truth and the
    // IVF list to the sampled queries; the gate pushes through the
    // rank windows to the query scan, so exact-truth cost shrinks
    // with the sample instead of the corpus.
    "q155_sampled_ann_audit" -> ((s, dir) =>
      Similarity.topKRecallAuditSampled(
        Similarity.bruteForceTopK(Tables.embeddings(s, dir), QueryRel(s, dir), 5),
        Similarity.ivfTopK(
          Tables.embeddings(s, dir), QueryRel(s, dir), nCells = 16, nProbe = 2, k = 5),
        rateBps = 5000)),

    // SAMPLED LSH recall audit — q112 with the anchor-gated sample.
    // The gate is applied BELOW both pair-forming joins (the PPJoin
    // prefix self-join's anchor side and the LSH band join's anchor
    // side), NOT as a post-filter on the cached full-truth relation:
    // doc_a ≡ the a-side id in both joins, so the relation is
    // identical (hash-green vs the same oracle), but the exact-truth
    // cost is ∝ sample — the round-12 ×100 run measured the cached
    // post-filter form DNF on K²-spill disk. This is the ONLY audit
    // shape a 100 TB corpus runs; sharedPrefixPairs stays the
    // once-per-snapshot artifact for the full-export consumers
    // (q99/q112).
    "q156_sampled_lsh_audit" -> ((s, dir) =>
      TextDedup.recallAudit(
        TextDedup.prefixJaccardPairsSampled(
          sharedShingles(s, dir), 0.8, rateBps = 5000, seed = "audit"),
        TextDedup.lshRescoredPairsSampled(
          sharedShingles(s, dir), estThreshold = 0.5, threshold = 0.8,
          rateBps = 5000, seed = "audit",
          precomputedSigs = Some(sharedSigs(s, dir))))),

    // The SAMPLED exact-truth pair EXPORT — the once-per-snapshot
    // artifact a 100 TB pipeline actually materializes for its audits
    // (full-universe q99 is the analysis/export form; its spill is
    // ∝ K² on a dup-dense corpus). Same pushed-down PPJoin path the
    // q156 audit consumes — here the relation's CONTENT is row-level
    // hash-checked, not just the audit's tp/fn/fp counts.
    "q215_sampled_truth_pairs" -> ((s, dir) =>
      TextDedup.prefixJaccardPairsSampled(
        sharedShingles(s, dir), 0.8, rateBps = 5000, seed = "audit")),

    // The REP-COLLAPSED sampled audit — the form that holds on a
    // dup-DENSE corpus. Anchor sampling divides audit cost by the rate
    // but cannot linearize per-group quadratic pair mass: each K-copy
    // duplicate group contributes ~rate·K² sampled true pairs, so at
    // any fixed rate the ×K fixture's sampled truth still grows ∝ K²
    // (measured to the disk wall at ×100, SCALING.md round 13) — while
    // identical copies test NOTHING about LSH recall (the exact layer
    // already owns them, q105's keeper contract). So the production
    // audit collapses exact-duplicate texts to their keeper reps FIRST
    // (min doc_id per fingerprint), then runs the SAME pushed-down
    // sampled truth-vs-LSH compare over rep shingles: cost
    // ∝ rate · rep-pair mass, independent of copy count — on the ×K
    // corpus reps ≈ the base corpus, so the audit is flat in K.
    "q216_sampled_audit_reps" -> ((s, dir) => {
      val sh = sharedRepShingles(s, dir)
      TextDedup.recallAudit(
        TextDedup.prefixJaccardPairsSampled(sh, 0.8, rateBps = 5000, seed = "audit"),
        TextDedup.lshRescoredPairsSampled(
          sh, estThreshold = 0.5, threshold = 0.8, rateBps = 5000, seed = "audit",
          precomputedSigs = Some(sharedRepSigs(s, dir))))
    }),

    // The TWO-SIDED sampled audit — the estimator that stays flat on
    // VARIANT-heavy corpora, where q216's exact collapse can't help
    // (one-word variants are genuine near-dups an audit must count).
    // Independent anchor/partner hash gates, each pushed below the
    // pair-forming joins on its own side of BOTH the truth and LSH
    // relations (PlanSpec-pinned): the same gated pair universe on
    // each side keeps recall unbiased, and per-group sampled pair
    // mass becomes rate_a·rate_b·K² — scale both rates ∝ 1/K and the
    // pair budget is FIXED at any copy count (ScaleBench q217_budget
    // rows measure it at ×10/×100). Registered at the 50%/50% fixture
    // rates so the sf0.01 oracle row is non-vacuous.
    "q217_two_sided_audit" -> ((s, dir) => {
      val sh = sharedShingles(s, dir)
      TextDedup.recallAudit(
        TextDedup.prefixJaccardPairsSampledBoth(
          sh, 0.8, rateABps = 5000, rateBBps = 5000),
        TextDedup.lshRescoredPairsSampledBoth(
          sh, estThreshold = 0.5, threshold = 0.8,
          rateABps = 5000, rateBBps = 5000,
          precomputedSigs = Some(sharedSigs(s, dir))))
    }),

    // The word-sequence REP MAP itself, row-level oracle-checked: the
    // collapse key behind the round-14 reps-first pair forms
    // (q33/q84/q43 via [[TextDedup.wordSeqMembers]]) as a first-class
    // relation — doc → its group's keeper rep, restricted to docs
    // long enough to shingle. Making the map itself hash-checked
    // means the expansion correctness of every reps-first consumer
    // rests on an independently verified artifact, not just on the
    // in-test equivalence fixtures.
    "q218_wordseq_reps" -> ((s, dir) => sharedWordSeqMembers(s, dir)),

    // q57's reps-first production form with the fp df-cap measured
    // over DISTINCT content: exact duplicates collapse (q105's
    // normalized-fingerprint contract — the same normalization
    // winnowing itself applies) BEFORE the df window and posting-list
    // pair generation, so 1 000 copies of one page can neither flood
    // a fingerprint past the cap (erasing the overlap signal for
    // every OTHER doc sharing it) nor pay copies² join cost. On a
    // corpus with no exact dups this is q57 exactly
    // (Round14OperatorsSpec pins both laws).
    "q219_winnow_overlap_reps" -> ((s, dir) =>
      TextDedup.winnowOverlapPairsViaRepsFromFps(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        sharedWinnowFps(s, dir),
        precomputedMembers = Some(sharedWinnowMembers(s, dir)))),

    // Split-leakage audit: near-dup pairs straddling a split boundary
    // under the per-doc hash split vs the survivor-keyed split — the
    // survivor row is structurally ZERO and the oracle re-derives it.
    "q151_split_leakage" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Profile.splitLeakageAudit(
        d, col("doc_id"), sharedJaccardPairs(s, dir),
        TextDedup.dedupVerdictsFromClusters(
          d, col("doc_id"), TextAnalysis.fingerprint(col("text")),
          sharedClusters(s, dir)),
        trainPct = 80, valPct = 10)
    }),

    // ── Corpus snapshot lifecycle (q177–q181) ──────────────────────
    // Two deterministic snapshot VERSIONS derived from the documents
    // table (closed-form, so the oracle rebuilds them bit-identically):
    // the OLD snapshot misses every 7th doc and carries a truncated
    // older text for every 5th; the NEW snapshot misses doc_id%11==3.

    // Snapshot diff: per doc added/removed/changed/unchanged — the
    // "what did the re-crawl actually change" relation an incremental
    // curation run starts from. One co-partitioned full-outer join.
    "q177_snapshot_diff" -> ((s, dir) =>
      Snapshot.diff(
        snapshotOld(s, dir), snapshotNew(s, dir), col("doc_id"), col("text"))),

    // Modality coverage: which sources are missing embeddings (docs
    // with no vec_id) — the completeness gate a multimodal corpus is
    // admitted through. Exact ppm per source.
    "q178_modality_coverage" -> ((s, dir) =>
      Snapshot.coverage(
        Tables.documents(s, dir), col("doc_id"), col("source"),
        Tables.embeddings(s, dir), col("vec_id"))),

    // Per-doc curation lineage: ALL admission gates evaluated
    // independently into a reason bitmask (bit set = gate failed) —
    // the funnel (q153) shows first-exit, this shows every reason.
    // Gate sets (dedup keep, contamination) are the same shared
    // once-per-snapshot artifacts q85/q153 read.
    "q179_curation_lineage" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val flagged = d
        .join(sharedKeepSet(s, dir).withColumn("__k", lit(1)), Seq("doc_id"), "left")
        .join(sharedContamSet(s, dir).withColumn("__c", lit(1)), Seq("doc_id"), "left")
      Profile.gateLineage(
        flagged, col("doc_id"),
        Seq(
          "dedup_keep"    -> col("__k").isNotNull,
          "not_benchmark" -> (col("source") =!= "src0"),
          "clean"         -> col("__c").isNull,
          "length_ok"     -> col("n_chars").between(100L, 450L)))
        .withColumnRenamed("row_id", "doc_id")
    }),

    // Length-distribution drift between the snapshot versions: per
    // 64-char bucket, each snapshot's exact-ppm share and the absolute
    // delta — integer drift (no PSI logarithms), engine-exact.
    "q180_length_drift" -> ((s, dir) =>
      Snapshot.distributionDrift(
        snapshotOld(s, dir), snapshotNew(s, dir),
        expr("least(length(text) div 64, 9)"))),

    // Domain reputation over the q173 crawl manifest: per canonical
    // host, raw fetches vs distinct pages and the duplicate-fetch
    // rate — the crawler's budget/politeness table.
    "q181_domain_reputation" -> ((s, dir) =>
      TextAnalysis.domainStats(
        q173Urls(s, dir), col("doc_id"), col("url"))),

    // Incremental re-curation: ONLY the diff's added/changed docs
    // re-enter the dedup gate, probed against the OLD snapshot's
    // fingerprint index — re-curation cost ∝ |delta|, not |corpus|
    // (the point of q177 at 100 TB). Verdict per worklist doc:
    // admit (novel fingerprint) / drop_exact (already indexed, with
    // the old keeper id).
    "q182_incremental_recurate" -> ((s, dir) => {
      val wl = Snapshot.deltaWorklist(
        snapshotOld(s, dir), snapshotNew(s, dir), col("doc_id"), col("text"))
      val oldIndex = snapshotOld(s, dir)
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper_id"))
      wl.withColumn("fp", TextAnalysis.fingerprint(col("payload")))
        .join(oldIndex, Seq("fp"), "left")
        .select(
          col("snap_id"), col("status"),
          when(col("keeper_id").isNotNull, lit("drop_exact"))
            .otherwise(lit("admit")).as("verdict"),
          col("keeper_id"))
    }),

    // Embedding-population drift per IVF cell between snapshot
    // versions under the FIXED trained codebook (q61's artifact) —
    // the monitor that decides when q158's codebook refresh runs: a
    // cell whose share moved is a cell whose centroid no longer
    // represents its population. Assignment computed ONCE over the
    // full corpus (the index's posting lists), drift is two slim
    // hash-aggs over the (vec_id, cell) relation.
    "q183_embedding_drift" -> ((s, dir) => {
      val assign = Similarity
        .kmeansAssignWith(Tables.embeddings(s, dir), sharedCodebook(s, dir))
        .select(col("vec_id"), col("cluster_id"))
      Snapshot.distributionDrift(
        assign.filter(col("vec_id") % 7 =!= 0),
        assign.filter(col("vec_id") % 11 =!= 3),
        col("cluster_id"))
        .withColumnRenamed("bucket", "cell")
    }),

    // Surgical span dedup: the q89 detection APPLIED as a rewrite —
    // per-doc excision ledger with the keeper-aware rule (the min-doc
    // occurrence of each duplicated anchor survives; every other
    // doc's spans are cut). The "remove all but one copy" step of
    // Lee et al.'s exact-substring dedup, as a cut ledger.
    "q184_span_surgery" -> ((s, dir) =>
      TextAnalysis.spanSurgery(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // Model-based quality scoring (fasttext-linear shape): hashing-
    // trick unigram buckets × a fixed weight table, exact integer
    // logit per doc, pass = logit ≥ 0. Map-only — no shuffle.
    "q185_hashed_quality" -> ((s, dir) =>
      TextAnalysis.hashedQualityScores(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // Count-min-sketch heavy hitters: the fixed-size (depth×width)
    // counter relation probed for the exact top-32 tokens — sketch
    // estimate vs exact count, overestimate ≥ 0 by construction.
    "q186_cms_heavyhitters" -> ((s, dir) =>
      TextAnalysis.cmsHeavyHitters(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // Margin-based mutual-NN pair mining (bitext/CLIP-pair curation):
    // even vec_ids vs odd vec_ids as the two populations under the
    // shared trained codebook; mutual top-1 + integer ppm ratio
    // margin. All-int64 scoring (floor(cos·1e6)).
    "q187_mutual_pairs" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.marginMutualPairs(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1),
        sharedCodebook(s, dir))
    }),

    // Quality-model calibration: q185's score buckets × the dedup
    // keep-set — does the classifier's score track curation
    // survival? Reliability-diagram shape in exact integer ppm.
    "q188_quality_calibration" -> ((s, dir) => {
      val scored = TextAnalysis.hashedQualityScores(
        Tables.documents(s, dir), col("doc_id"), col("text"))
      Profile.calibrationByBucket(
        scored, col("doc_id"),
        greatest(least(floor(col("avg_w_milli") / 100.0), lit(9.0)), lit(-10.0)).cast("long"),
        sharedKeepSet(s, dir), col("doc_id"))
    }),

    // HLL distinct-shingle audit per source: the q186 CMS's
    // cardinality sibling — distinct 3-gram mass per source is the
    // cost driver of the dedup/overlap family (q167/q172), counted at
    // ≤ 2^p register rows per source instead of a corpus-wide
    // distinct shuffle. Estimate + in-bounds verdict computed
    // bit-exactly by BOTH engines (no assumed-TRUE oracle rows,
    // unlike q47's engine-internal HLL++). Grams are HASHED inside
    // the per-row projection and exploded as longs
    // (TextDedup.hashedNgramsAllFromWords) — exploding the gram
    // strings measured 16× slower end-to-end at ×100 (45.9 s → 2.9 s);
    // duplicates are fine, HLL and COUNT DISTINCT are both
    // multiplicity-blind.
    "q189_hll_distinct" -> ((s, dir) =>
      Profile.hllDistinctAudit(
        Tables.documents(s, dir)
          .select(col("source"), TextAnalysis.tokens(col("text")).as("ws"))
          .select(col("source"),
            explode(TextDedup.hashedNgramsAllFromWords(col("ws"), 3)).as("h")),
        col("source"), col("h"))
        .withColumnRenamed("grp", "source")),

    // DoReMi-style domain reweighting: ONE multiplicative-weights
    // step over per-domain excess loss (rarity proxy), linear MW
    // update in exact integer ppm — no exp(), so the step is
    // bit-portable (libm exponentials are not correctly rounded).
    // The corpus collapses map-side to (source, cell) partials;
    // nothing bigger than |sources|·256 rows shuffles.
    "q190_domain_reweight" -> ((s, dir) =>
      Profile.domainReweight(
        Tables.documents(s, dir), col("source"), col("text"))),

    // Energy-threshold VAD over REAL decoded audio: closed-form
    // RIFF/WAVE payloads (PCM16 mono, the q40 manifest trick) are
    // decoded by the JDK's audio codec, per-frame mean-square
    // energies come from the DECODED samples, and maximal voiced runs
    // form via the gaps-and-islands key; n_frames rides every decoder
    // row so the media table is read ONCE (no join back).
    // consumes the shared decode-once frames artifact (the q203
    // discipline): a corpus is container-decoded once, not once per
    // consumer — ScaleBench's cold row carries the codec cost, warm
    // passes are flat like every other artifact reader
    "q191_audio_vad" -> ((s, dir) =>
      Multimodal.vadSegmentsFromEnergies(sharedAudioFrames(s, dir))),

    // Token-budget greedy selection (DCLM-style "take the best docs
    // until the token budget is spent"): quality-DENSITY order
    // (per-token logit, +1000-shifted so the division's numerator is
    // non-negative and floor == truncate on both engines), exact
    // distributed prefix sum of token costs via
    // Ranking.globalRunningSum — the two-phase sharded shape, never
    // a single-reducer global window — admit while cum <= budget.
    "q192_budget_selection" -> ((s, dir) => {
      // Scored PER RUN (score-inline analysis form; q197 is the
      // artifact twin) but materialized IN-PLAN (Materialize.truncate,
      // inside the timed region): the prefix sum's two branches read
      // the compact (doc_id, n_tokens, density) relation instead of
      // each re-running the corpus-wide hashed scorer (r15; Ranking's
      // documented lever 2).
      val scored = Materialize.truncate(TextAnalysis
        .hashedQualityScores(Tables.documents(s, dir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_tokens"),
          TextAnalysis.qualityDensityMilli(col("logit_milli"), col("n_tokens"))
            .as("density_q_milli")))
      // keyBounds: density_q_milli ∈ [0, 2000] by construction (each
      // token weight ∈ [-1000, 1000]), so the negated lead key is in
      // [-2000, 0] — no min/max discovery branch, and an out-of-bounds
      // key raises instead of mis-sharding
      Ranking.globalRunningSum(
        scored, -col("density_q_milli"), Seq(col("doc_id")), col("n_tokens"),
        keyBounds = Some((-2000L, 0L)))
        .withColumn("admitted", col("running_total") <= 10000L)
    }),

    // DDSketch-style mergeable quantile audit (the sketch-family
    // sibling of q186/q189): per-source p50/p90/p99 of doc length
    // from the <= 63·2^k-bucket integer log histogram, vs the exact
    // ⌈p·n⌉ quantile, plus the guaranteed in-bounds verdict
    // (rep <= exact <= hi, relative width <= 2^-4) — all integer,
    // both engines bit-exact, no assumed-TRUE rows.
    "q193_dd_quantiles" -> ((s, dir) =>
      Profile.ddQuantileAudit(
        Tables.documents(s, dir)
          .select(col("source"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("v")),
        col("source"), col("v"))
        .withColumnRenamed("g", "source")),

    // Fill-in-the-middle augmentation (PSM order): hash-gated 50% of
    // docs, per-doc deterministic split points, pure per-row
    // projection — no shuffle, scan speed at any corpus size.
    "q194_fim_split" -> ((s, dir) =>
      Packing.fimSplit(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // Rank-disagreement mining: the 50 docs where the QUALITY model
    // (q185 hashed density) and the RELEVANCE model (q97 DSIR
    // target-similarity) disagree hardest — high-quality-but-
    // off-target and on-target-but-junk, the disputed examples an
    // active-learning/curation review queue surfaces first. Exact
    // integer ranks via the sharded globalRank (each scorer ranked
    // over its own full domain), |Δrank| top-k.
    "q195_rank_disagreement" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // Both scorers run PER RUN (this is the score-inline analysis
      // form; q198 is the artifact twin) but each compact (doc_id,
      // score) relation is materialized IN-PLAN via Materialize.truncate
      // — inside the timed region, per invocation — so the two-phase
      // rank's branches (and the DSIR side's min/max discovery, which
      // has no a-priori bound: dsir_ppm is a ratio whose denominator
      // can floor to 0 ppm on a huge corpus)
      // read a few-columns-per-doc materialized relation instead of
      // re-evaluating the corpus-wide scorer 2–4× (Ranking's
      // documented lever 2, guide §1.2 step 1 / §5 lineage truncation).
      val qual = Materialize.truncate(TextAnalysis
        .hashedQualityScores(docs, col("doc_id"), col("text"))
        .select(col("doc_id"),
          TextAnalysis.qualityDensityMilli(col("logit_milli"), col("n_tokens")).as("__dq")))
      val dsir = Materialize.truncate(TextAnalysis
        .dsirWeights(docs, col("doc_id"), col("text"),
          isTarget = col("source") === "src1")
        .select(col("doc_id"), col("dsir_ppm")))
      // keyBounds on the quality side (density ∈ [0, 2000] by
      // construction — the q192 argument) stays: out-of-bounds keys
      // raise, never mis-shard, and the discovery branch is gone.
      val rq = Ranking.globalRank(qual, -col("__dq"), Seq(col("doc_id")),
          keyBounds = Some((-2000L, 0L)))
        .select(col("doc_id"), col("rank").as("r_quality"))
      val rd = Ranking.globalRank(dsir, -col("dsir_ppm"), Seq(col("doc_id")))
        .select(col("doc_id"), col("rank").as("r_dsir"))
      rq.join(rd, "doc_id")
        .withColumn("rank_gap", abs(col("r_quality") - col("r_dsir")))
        .orderBy(desc("rank_gap"), asc("doc_id"))
        .limit(50)
    }),

    // q187 under the PRODUCTION hot-cell cap — the linear 100 TB form
    // (candidate mass Σ|A∩cell|·cap instead of the uncapped
    // Σ|A∩cell|·|B∩cell|, which is quadratic by construction on
    // dup-dense data and was measurement-killed at ×100). Cap 4 BITES
    // at test scale (odd-side cells ≈ 31 ≫ 4: 126 uncapped mutual
    // pairs → 28 capped at sf0.01 — most best-Bs fall outside the
    // 4-id cap), so BOTH engines must agree on exactly which mutual
    // pairs the capped neighborhood produces — the q129 discipline.
    // q187 stays as the uncapped analysis form.
    "q196_mutual_pairs_capped" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.marginMutualPairs(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1),
        sharedCodebook(s, dir),
        maxCellCompare = Some(4L))
    }),

    // q192's PRODUCTION shape: the token-budget selection ranker over
    // the score-once (doc_id, n_tokens, density) artifact. The
    // two-phase prefix sum's branches re-evaluate their INPUT — over
    // the materialized artifact that is two cache reads, not two
    // corpus-wide scorer passes (q192 stays as the score-inline
    // analysis form; same result, different execution shape, both
    // oracle-checked against the same SQL).
    "q197_budget_prescored" -> ((s, dir) =>
      Ranking.globalRunningSum(
        sharedQualityDensity(s, dir), -col("density_q_milli"),
        Seq(col("doc_id")), col("n_tokens"),
        keyBounds = Some((-2000L, 0L)))
        .withColumn("admitted", col("running_total") <= 10000L)),

    // q195's PRODUCTION shape: both rank inputs are score-once
    // materialized artifacts (quality density + DSIR), so the sharded
    // global ranks run over compact relations and each scorer subtree
    // is evaluated once — the 6.6× gap measured between the analysis
    // and prescored forms at ×100 is exactly this re-evaluation.
    "q198_rank_prescored" -> ((s, dir) => {
      val rq = Ranking.globalRank(
          sharedQualityDensity(s, dir).select(col("doc_id"), col("density_q_milli")),
          -col("density_q_milli"), Seq(col("doc_id")),
          keyBounds = Some((-2000L, 0L))) // density ∈ [0, 2000], the q192 argument
        .select(col("doc_id"), col("rank").as("r_quality"))
      val rd = Ranking.globalRank(
          sharedDsirScores(s, dir), -col("dsir_ppm"), Seq(col("doc_id")))
        .select(col("doc_id"), col("rank").as("r_dsir"))
      rq.join(rd, "doc_id")
        .withColumn("rank_gap", abs(col("r_quality") - col("r_dsir")))
        .orderBy(desc("rank_gap"), asc("doc_id"))
        .limit(50)
    }),

    // Multi-round DoReMi (the full reweight → re-score loop over
    // q190's single MW step): the corpus collapses ONCE to
    // (source, cell) token partials and every round re-scores the
    // REWEIGHTED mixture from that bounded relation — per-round cost
    // ≤ cells·|sources| rows, never a corpus re-scan. Round-2 weights
    // oracle-checked end-to-end (two explicit round CTEs in the SQL).
    "q199_doremi_rounds" -> ((s, dir) =>
      Profile.doremiRounds(
        Tables.documents(s, dir), col("source"), col("text"), rounds = 2)),

    // q199's round-2 weights REALIZED as the epoch-expanded training
    // list — the artifact a trainer actually consumes (q115's oracle
    // pattern over the round-2 CTE). The production shape: weights
    // are computed on the FULL corpus, then realized onto the SHARD
    // being materialized (a hash-half here), whose natural token
    // share differs from the corpus weights — so the repeat factors
    // actually bite at sf0.01 (0.67×–2.56× measured: floor copies,
    // gated fractional extras AND n_copies=0 drops all exercised;
    // realizing onto the full uniform corpus gives 1.000 everywhere).
    // Mass = per-doc token count, so the TOKEN mixture converges to
    // w_ppm (doremiRounds' weights are token-share); expansion is the
    // shared map-only hash-gated explode, plan = |sources| rows
    // broadcast back.
    "q200_doremi_realize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w2 = Profile.doremiRounds(docs, col("source"), col("text"), rounds = 2)
        .filter(col("round") === 2L)
        .select(col("source"), col("w_ppm"))
      val shard = docs.filter(
        pmod(graft.functions.Portable.hash60(
            concat(lit("shard_"), col("doc_id").cast("string"))),
          lit(2L)) === 0L)
      Profile.doremiRealize(
        shard, col("source"), col("doc_id"), w2,
        mass = size(TextAnalysis.tokens(col("text"))))
    }),

    // REAL-codec audio fingerprints: complete RIFF/WAVE payloads,
    // JDK decode to PCM16, thermometer barcode over the measured
    // frame energies — the oracle recomputes the identical integer
    // barcode from the closed-form manifest (the q191 trick).
    "q201_audio_fingerprint" -> ((s, dir) => sharedAudioHashes(s, dir)),

    // Near-dup audio pairs through the SHARED hamming machinery
    // (q164's bands, q171's exact-layer-first discipline): identical
    // barcodes collapse to keep-min reps in one hash-agg, then the
    // 8-band pigeonhole join mines pairs at hamming ≤ 1 (exact to 7).
    "q202_audio_neardup" -> ((s, dir) => {
      val reps = sharedAudioHashes(s, dir)
        .groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
      TextDedup.simhashPairsFromHashes(reps, maxHamming = 1, bands = 8)
    }),

    // REAL video decode: complete RIFF/AVI containers (PNG-coded
    // frames — lossless, so decoded pixels ARE the manifest), parsed
    // by a genuine chunk walk and frame-decoded via ImageIO; per-frame
    // mean luma from the decoded samples, which the manifest makes
    // exactly Σpixels div 48 — the oracle recomputes the formula.
    "q203_video_luma" -> ((s, dir) => sharedVideoFrames(s, dir)),

    // Bright-scene segmentation over the decoded lumas — the video
    // twin of q191's VAD through the shared gaps-and-islands core.
    "q204_video_scenes" -> ((s, dir) =>
      Multimodal.sceneSegmentsFromLumas(sharedVideoFrames(s, dir))
        .withColumnRenamed("voiced_ppm", "bright_ppm")),

    // Video barcodes through the SAME thermometer/hamming machinery
    // as audio (ONE envelopeHash64 core): q205 exports them, q206
    // mines near-dup pairs over exact-layer reps at hamming ≤ 1.
    "q205_video_fingerprint" -> ((s, dir) => sharedVideoHashes(s, dir)),
    "q206_video_neardup" -> ((s, dir) => {
      val reps = sharedVideoHashes(s, dir)
        .groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
      TextDedup.simhashPairsFromHashes(reps, maxHamming = 1, bands = 8)
    }),

    // The DECISION lists for the new modalities — q169's verdict chain
    // (exact collapse → banded pair join → cluster contraction →
    // keep/drop_exact/drop_near per clip) over the audio and video
    // barcodes, closing the modality symmetry: every media type now
    // has fingerprints, pairs, an ingest gate AND a dedup verdict list.
    "q207_audio_verdicts" -> ((s, dir) =>
      TextDedup.hammingDedupVerdicts(
        sharedAudioHashes(s, dir), maxHamming = 1, bands = 8)),
    "q208_video_verdicts" -> ((s, dir) =>
      TextDedup.hammingDedupVerdicts(
        sharedVideoHashes(s, dir), maxHamming = 1, bands = 8)),

    // CROSS-MODAL near-dup: sampled video KEYFRAMES (every 4th frame,
    // extracted as PNG stills — no transcode, MPNG frames ARE PNGs)
    // aHashed with the SAME 8×8 perceptual hash as the image corpus
    // and PROBED against it through the shared banded machinery — a
    // training pipeline's "is this still already in the image set"
    // check, one keyed join in the shared 64-bit hamming space (the
    // round-10 simulation predicts 1,435 pairs at hamming ≤ 1 on the
    // 500-doc fixture). Keyframe ids ride doc_id·16 + frame_idx
    // through the generic probe (frame_idx < 8 < 16), decomposed on
    // output.
    "q209_crossmodal_neardup" -> ((s, dir) => {
      val kfHashes = sharedKfHashes(s, dir)
      TextDedup.simhashProbeIndex(kfHashes, sharedAHashes(s, dir), maxHamming = 1, bands = 8)
        .select(
          Multimodal.keyframeVideoId(col("doc_id")).as("video_id"),
          Multimodal.keyframeFrameIdx(col("doc_id")).as("frame_idx"),
          col("index_id").as("image_id"),
          col("hamming"))
    }),

    // Image–text PAIRED-dataset curation (the LAION shape), the
    // multimodal sibling of q85's end-to-end text pipeline in ONE
    // plan: mutual-margin pair mining over the two modality embedding
    // sides (q187's operator — even ids are captions, odd ids images),
    // each candidate pair annotated by the caption QUALITY gate
    // (q137's keep set) and the image DEDUP survivor set (q169's keep
    // verdicts), rolled into the paired-dataset card. Both gate sets
    // are SHARED ARTIFACTS (DirCached id relations) — the composed
    // plan re-scans neither the text corpus nor any image payload
    // (PlanSpec-pinned: no decode mapPartitions in this plan).
    "q210_paired_dataset_card" -> ((s, dir) =>
      sharedGatedPairs(s, dir)
        .agg(
          count(lit(1)).as("n_candidate_pairs"),
          sum(when(coalesce(col("__cap"), lit(false)), 1L).otherwise(0L))
            .as("n_caption_gated"),
          sum(when(col("__ok"), 1L).otherwise(0L)).as("n_pairs"),
          countDistinct(when(col("__ok"), col("a_id"))).as("n_captions"),
          countDistinct(when(col("__ok"), col("b_id"))).as("n_images"),
          sum(when(col("__ok"), col("margin_ppm"))).as("sum_margin_ppm"),
          min(when(col("__ok"), col("cos_ppm"))).as("min_cos_ppm"))),

    // SHARED-STILL detection — the video BOILERPLATE detector (the
    // q162 sibling for moving pictures): keyframes whose exact
    // perceptual hash recurs across ≥ 2 DIFFERENT clips are shared
    // intros/outros/cards; each group reports its still count, clip
    // span and keep-min representative. Exact-layer grouping only —
    // on a dup-dense corpus the group relation is the production
    // artifact (48 groups on the 500-doc fixture, pre-simulated),
    // while a full pair export would be quadratic in group size.
    "q211_shared_stills" -> ((s, dir) => {
      sharedKfHashes(s, dir)
        .groupBy(col("sh"))
        .agg(
          count(lit(1)).as("n_stills"),
          countDistinct(Multimodal.keyframeVideoId(col("doc_id"))).as("n_clips"),
          min(col("doc_id")).as("__keeper"))
        .filter(col("n_clips") >= 2)
        .select(col("sh"), col("n_stills"), col("n_clips"),
          Multimodal.keyframeVideoId(col("__keeper")).as("keeper_video"),
          Multimodal.keyframeFrameIdx(col("__keeper")).as("keeper_frame"))
    }),

    // Paired-dataset ALIGNMENT histogram — the calibration diagnostic
    // for q210's curation: every mutual pair bucketed by its cosine
    // (deciles of cos_ppm), with how many survive the two gates —
    // kept pairs should concentrate in the high-alignment buckets,
    // and a flat ratio says the gates are ignoring alignment. One
    // ≤10-row relation over the SAME shared artifacts as q210 (no
    // re-scan, no decode).
    "q212_pair_alignment" -> ((s, dir) =>
      sharedGatedPairs(s, dir)
        .groupBy(expr("cos_ppm div 100000").as("cos_bucket"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("__ok"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("margin_ppm")).as("sum_margin_ppm"))),

    // q209's PRODUCTION form as a first-class query: both sides
    // collapse to exact-layer REPS (one row per distinct hash) before
    // the banded probe — on a dup-dense corpus the full id-pair export
    // is quadratic in copy count by OUTPUT cardinality (measured 45.4
    // vs 1.77 s at ×10), while the rep relation carries the same
    // information at linear mass (10 rep pairs on the 500-doc fixture,
    // pre-simulated).
    "q213_crossmodal_reps" -> ((s, dir) => {
      val kfReps = sharedKfHashes(s, dir)
        .groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("sh"))
      val imgReps = sharedAHashes(s, dir)
        .groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("sh"))
      TextDedup.simhashProbeIndex(kfReps, imgReps, maxHamming = 1, bands = 8)
        .select(
          Multimodal.keyframeVideoId(col("doc_id")).as("video_id"),
          Multimodal.keyframeFrameIdx(col("doc_id")).as("frame_idx"),
          col("index_id").as("image_id"),
          col("hamming"))
    }),

    // CROSS-MODAL decontamination of the PAIRED dataset — the
    // multimodal leak gate the text-only q58/q111/q176 family cannot
    // see: an eval-benchmark IMAGE (or its caption) must not survive
    // into q210's curated pairs. src0 documents stand in for the
    // benchmark (q58's convention): their images are the eval-image
    // manifest, their texts the eval-caption set. Every q210 SURVIVOR
    // pair (__ok over the literally-same [[sharedGatedPairs]]) gets
    // two verdicts:
    //  - img_leak: the pair's image is within hamming ≤ 1 of ANY eval
    //    image — probed REPS-FIRST through the shared banded machinery
    //    (one row per distinct hash on BOTH sides, the q213
    //    discipline; a rep hit expands to every survivor image holding
    //    the hash), over the persisted image-fingerprint artifact — no
    //    image is re-decoded here (PlanSpec-pinned);
    //  - cap_leak: the pair's caption IS an eval doc, or shares a
    //    word-5-gram with any eval text (q58's machinery, run over the
    //    SURVIVOR captions only — the gram join is broadcast-bench
    //    over the gated subset, never the corpus).
    // Output: one row per surviving pair with both flags — the
    // relation a production pipeline anti-joins to land the
    // decontaminated set. Linear in survivors: banded reps probe +
    // broadcast gram join, no quadratic form. Pre-simulated fixture
    // counts: sf0.01 (500 docs) — 11 surviving pairs (q210's n_pairs),
    // 1 caption-side leak, 0 image-side; sf0.1 (5k docs) — 3 surviving
    // pairs, 0 caption-side, 1 image-side. Both branches fire on real
    // fixtures; the rep-expansion semantics are additionally pinned at
    // the operator level (hammingLeakSet, Round12OperatorsSpec).
    "q214_crossmodal_decontamination" -> ((s, dir) => {
      val d        = Tables.documents(s, dir)
      val evalDocs = d.filter(col("source") === "src0")
      val survivors = sharedGatedPairs(s, dir)
        .filter(col("__ok"))
        .select(col("a_id"), col("b_id"))
      // image side: reps-first banded probe of survivor-image hashes
      // against the PERSISTED eval-image manifest at hamming ≤ 1 —
      // the manifest is a once-per-benchmark artifact
      // ([[sharedEvalImgHashes]]), never re-derived per run
      val hashes = sharedAHashes(s, dir).select(col("doc_id"), col("sh"))
      val survImgHashes = hashes
        .join(survivors.select(col("b_id").as("doc_id")).distinct(), Seq("doc_id"))
      val evalImgHashes = sharedEvalImgHashes(s, dir)
      val leakImgs = TextDedup
        .hammingLeakSet(survImgHashes, evalImgHashes, maxHamming = 1, bands = 8)
        .select(col("doc_id").as("b_id"))
        .withColumn("__img_leak", lit(true))
      // caption side: exact eval membership ∪ shared word-5-gram
      val survCaps = survivors.select(col("a_id").as("doc_id")).distinct()
      val capDocs  = d.join(survCaps, Seq("doc_id"))
      val leakCaps = TextDedup
        .contaminationFlags(
          capDocs, col("doc_id"), col("text"), evalDocs, col("text"), 5)
        .select(col("doc_id"))
        .unionByName(capDocs.filter(col("source") === "src0").select("doc_id"))
        .distinct()
        .select(col("doc_id").as("a_id"))
        .withColumn("__cap_leak", lit(true))
      survivors
        .join(leakCaps, Seq("a_id"), "left")
        .join(leakImgs, Seq("b_id"), "left")
        .select(
          col("a_id"), col("b_id"),
          coalesce(col("__cap_leak"), lit(false)).as("cap_leak"),
          coalesce(col("__img_leak"), lit(false)).as("img_leak"))
    })
  )

  /** OLD snapshot version: every 7th doc absent; every 5th doc's text
    * is the truncated older revision (last 7 chars not yet appended);
    * plus two SHADOW populations — the same page crawled earlier under
    * a different id (NEGATIVE ids −(2d+1)/−(2d+2): disjoint from each
    * other by parity and from every real non-negative id at ANY corpus
    * cardinality — a fixed positive offset collides once a ScaleData
    * copy block holds more ids than the offset): doc_id%14==0 pages
    * pre-crawled with their
    * current text (so those `added` docs hit the q182 exact index) and
    * doc_id%15==0 revisions already seen (so some `changed` docs hit
    * it too). Closed-form so the DuckDB oracle derives the identical
    * relation. */
  private def snapshotOld(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.filter(col("doc_id") % 7 =!= 0)
      .select(
        col("doc_id"),
        when(col("doc_id") % 5 === 0,
          col("text").substr(lit(1), greatest(col("n_chars") - 7L, lit(1L)).cast("int")))
          .otherwise(col("text"))
          .as("text"))
      .unionByName(
        d.filter(col("doc_id") % 14 === 0)
          .select((-(col("doc_id") * 2 + 1)).as("doc_id"), col("text")))
      .unionByName(
        d.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 15 === 0)
          .select((-(col("doc_id") * 2 + 2)).as("doc_id"), col("text")))
  }

  /** NEW snapshot version: current texts, doc_id%11==3 dropped. */
  private def snapshotNew(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"), col("text"))

  /** The q173 crawl-log URL manifest (five spelling variants per
    * (host, path) cell), shared by q173 and q181. */
  private[queries] def q173Urls(s: SparkSession, dir: String): DataFrame = {
    val d    = Tables.documents(s, dir)
    val host = concat(lit("www.site"), col("doc_id") % 37, lit(".com"))
    val path = concat(lit("/doc/"), col("doc_id") % 211)
    val url = when(col("doc_id") % 5 === 0,
        concat(lit("https://"), host, path, lit("?a=1&b=2")))
      .when(col("doc_id") % 5 === 1,
        concat(lit("HTTPS://"), upper(host), lit(":443"), path, lit("?b=2&a=1#frag")))
      // 'gclid' VALUELESS: pins the (=|$) tracking-param rule — a
      // bare '?gclid' must canonicalize identically to '?gclid=g'
      .when(col("doc_id") % 5 === 2,
        concat(lit("https://"), host, path, lit("?utm_source=x&gclid&b=2&a=1")))
      .when(col("doc_id") % 5 === 3,
        concat(lit("http://"), host, lit(":80")))
      .otherwise(concat(lit("http://"), host, lit("/")))
    d.select(col("doc_id"), url.as("url"))
  }

  /** Fixed BM25 query bag (shared with the oracle SQL). */
  private val Bm25Terms = Seq("spark", "join", "window", "hash", "filter")

  /** DuckDB oracle SQL for every key in [[defs]] — the bodies live in
    * [[DocumentsOracles]] (split out: the SQL strings were ~60% of this
    * file). */
  val oracles: Map[String, String] = DocumentsOracles.oracles ++ DocumentsOracles2.oracles
}
