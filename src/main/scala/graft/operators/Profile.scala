package graft.operators

import graft.functions.Portable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.{DoubleType, NumericType, StringType}

/** Dataset profiling + deterministic splitting — the bookkeeping ops
  * every training-data pipeline runs before and after the interesting
  * ones. Extension beyond the reference.
  */
object Profile {

  /** One-job column profile: per column null count, distinct count
    * (orderable types only — maps get null, they can't be compared),
    * and bounds: numerics min/max as double, strings min/max LENGTH
    * (value bounds make no sense as doubles), other types null. One
    * aggregate job for the whole table. ⚠ Plan-shape caveat for
    * `exact = true` (the default, and the oracle contract): multiple
    * exact count-distincts make Catalyst plan an Expand — one row
    * replica per distinct column, so a k-column profile pushes ~k×
    * rows through the exchange. At 100 TB on wide tables pass
    * `exact = false`: `approx_count_distinct` (HyperLogLog++, ~2%
    * default error) fuses all columns into a single partial aggregate
    * with NO Expand — the scan is read once, map-side combined once
    * (PlanSpec pins both shapes via [[profileAggregate]]). Output: one
    * row per column, unpivoted from the single aggregated row — a
    * constant-size driver transfer, not a data collect. */
  def columnProfile(df: DataFrame, exact: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.schema.fields
    val row  = profileAggregate(df, exact).collect().head
    val n    = row.getAs[Long]("__n")
    // row.get (not getAs[Double/Long]) — primitive getAs unboxes SQL
    // NULL to 0, silently fabricating values
    def optD(name: String): Option[Double] =
      Option(row.get(row.fieldIndex(name))).map(_.asInstanceOf[Double])
    def optL(name: String): Option[Long] =
      Option(row.get(row.fieldIndex(name))).map(_.asInstanceOf[Long])
    cols.map { f =>
      (f.name, f.dataType.simpleString, n,
        row.getAs[Long](s"${f.name}__nulls"),
        optL(s"${f.name}__distinct"),
        optD(s"${f.name}__min"),
        optD(s"${f.name}__max"))
    }.toSeq.toDF("col_name", "dtype", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")
  }

  /** The single-row aggregate behind [[columnProfile]], exposed so
    * plan tests can pin its physical shape: `exact = true` → Expand
    * feeding the distinct rewrite; `exact = false` → one fused
    * partial/final HashAggregate pair, no Expand. */
  def profileAggregate(df: DataFrame, exact: Boolean): DataFrame = {
    def orderable(dt: org.apache.spark.sql.types.DataType): Boolean =
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt)
    val aggs: Seq[Column] = Seq(count(lit(1)).as("__n")) ++ df.schema.fields.flatMap { f =>
      val c = col(f.name)
      val distinct =
        if (!orderable(f.dataType)) lit(null).cast("long")
        else if (exact) countDistinct(c)
        else approx_count_distinct(c)
      Seq(
        count(when(c.isNull, 1)).as(s"${f.name}__nulls"),
        distinct.as(s"${f.name}__distinct")) ++ (f.dataType match {
        case _: NumericType => Seq(
          min(c).cast(DoubleType).as(s"${f.name}__min"),
          max(c).cast(DoubleType).as(s"${f.name}__max"))
        case StringType => Seq(
          min(length(c)).cast(DoubleType).as(s"${f.name}__min"),
          max(length(c)).cast(DoubleType).as(s"${f.name}__max"))
        case _ => Seq(
          lit(null).cast(DoubleType).as(s"${f.name}__min"),
          lit(null).cast(DoubleType).as(s"${f.name}__max"))
      })
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic split assignment from a portable hash of the id:
    * h = hash60(prefix ∥ id) mod 100 → train (< trainPct), val
    * (< trainPct+valPct), else test. Reproducible across runs,
    * engines, and partitionings — never `rand()`, whose per-row values
    * depend on partition layout and retries. */
  def withSplit(df: DataFrame, id: Column, trainPct: Int, valPct: Int, seed: String = "split"): DataFrame = {
    val h = pmod(Portable.hash60(concat(lit(seed), lit("_"), id.cast("string"))), lit(100L))
    df.withColumn(
      "split",
      when(h < trainPct, "train").when(h < trainPct + valPct, "val").otherwise("test"))
  }

  /** Leakage-free split: every member of a duplicate group lands in
    * the SAME split by hashing the group's survivor id instead of the
    * document's own ([[withSplit]] semantics otherwise unchanged).
    * A plain per-doc split leaks near-duplicates across train/test —
    * the classic eval-contamination bug: the model is scored on
    * paraphrases of its own training set. Keying the hash on the
    * dedup survivor (the cluster representative from
    * [[graft.operators.TextDedup.dedupVerdictsFromClusters]], or any
    * (doc_id, survivor_doc_id) relation) makes the whole cluster move
    * as a unit, so membership in test implies NO near-copy in train.
    *
    * Scale shape: one doc_id-keyed join against the survivor relation
    * (same cardinality as the corpus, co-partitioned on the join key)
    * + the map-only hash gate — no new shuffle beyond the join, and
    * splits remain reproducible across engines/partitionings/retries
    * exactly like [[withSplit]]. */
  def leakFreeSplit(
      df: DataFrame,
      id: Column,
      survivors: DataFrame,
      trainPct: Int,
      valPct: Int,
      seed: String = "split"): DataFrame = {
    val sv = survivors.select(col("doc_id").as("__did"), col("survivor_doc_id"))
    val keyed = df.withColumn("__did", id).join(sv, "__did")
    withSplit(keyed, col("survivor_doc_id"), trainPct, valPct, seed).drop("__did")
  }

  /** Split-leakage audit — measures what [[leakFreeSplit]] buys: for a
    * near-dup pair relation, how many pairs STRADDLE a split boundary
    * under (a) the plain per-doc hash split and (b) the survivor-keyed
    * split. One row per mode: (mode, n_pairs, n_cross_split). The
    * survivor-keyed row is structurally zero — a near-dup pair lies
    * inside one cluster, the whole cluster hashes on one survivor —
    * and the oracle gate re-derives that zero independently, so the
    * no-leakage guarantee is itself hash-checked, not just asserted.
    *
    * Scale shape: two slim (doc_id, split) relations joined onto the
    * (pairs-sized) pair relation, one counting agg per mode. */
  def splitLeakageAudit(
      df: DataFrame,
      id: Column,
      pairs: DataFrame,
      survivors: DataFrame,
      trainPct: Int,
      valPct: Int,
      seed: String = "split"): DataFrame = {
    val ids = df.select(id.as("doc_id"))
    val perDoc = withSplit(ids, col("doc_id"), trainPct, valPct, seed)
      .select(col("doc_id"), col("split"))
    val byKeeper = leakFreeSplit(ids, col("doc_id"), survivors, trainPct, valPct, seed)
      .select(col("doc_id"), col("split"))
    def cross(assign: DataFrame, mode: String): DataFrame =
      pairs
        .select(col("doc_a"), col("doc_b"))
        .join(assign.select(col("doc_id").as("doc_a"), col("split").as("__sa")), Seq("doc_a"))
        .join(assign.select(col("doc_id").as("doc_b"), col("split").as("__sb")), Seq("doc_b"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L)).as("n_cross_split"))
        .select(lit(mode).as("mode"), col("n_pairs"), col("n_cross_split"))
    cross(perDoc, "per_doc").unionByName(cross(byKeeper, "survivor_keyed"))
  }

  /** Per-group document cap: keep at most `k` rows per group, chosen
    * by a DETERMINISTIC hash ranking (md5 of seed ∥ id, id tiebreak) —
    * the "max N docs per domain/source" curation stage of a
    * pretraining pipeline, reproducible across runs/engines/
    * partitionings where a `rand()` or arrival-order cap is not.
    * Output: (id, group, rk) for survivors, rk ∈ [1, k].
    *
    * Scale shape: `row_number` + `rk <= k` compiles to Spark's
    * WindowGroupLimit pushdown — each map partition keeps at most k
    * rows per group BEFORE the group exchange (pinned in PlanSpec), so
    * a 10⁹-doc domain ships k rows, not 10⁹, into the sort funnel. */
  def groupCap(
      df: DataFrame,
      group: Column,
      id: Column,
      k: Int,
      seed: String = "cap"): DataFrame = {
    require(k > 0, s"cap must be positive: $k")
    val rank = row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("group"))
        .orderBy(
          md5(concat(lit(s"${seed}_"), col("doc_id").cast("string"))).asc,
          col("doc_id").asc))
    df.select(id.as("doc_id"), group.as("group"))
      .withColumn("rk", rank)
      .filter(col("rk") <= k)
  }

  /** Calibration table: a model score (bucketed) against a downstream
    * binary outcome — "does the quality classifier's score actually
    * track curation survival?" is the audit every model-based filter
    * needs before its threshold is trusted (the reliability-diagram
    * shape, computed in exact integer ppm). `flagged` is the outcome
    * id-set (e.g. the dedup keep-set); rows absent from it count as
    * not-flagged. Returns per bucket: (bucket, n_rows, n_flagged,
    * flagged_ppm).
    *
    * Scale shape: one distinct-collapse of the flag set, one keyed
    * left join, one hash-agg to |buckets| rows — map-side combinable
    * end to end; the flag set is the once-per-snapshot artifact its
    * producers already materialize. */
  def calibrationByBucket(
      rows: DataFrame,
      id: Column,
      bucket: Column,
      flagged: DataFrame,
      flagId: Column): DataFrame = {
    val f = flagged.select(flagId.as("row_id")).distinct().withColumn("__f", lit(1L))
    rows.select(id.as("row_id"), bucket.as("bucket"))
      .join(f, Seq("row_id"), "left")
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(coalesce(col("__f"), lit(0L))).as("n_flagged"))
      .select(
        col("bucket"), col("n_rows"), col("n_flagged"),
        expr("n_flagged * 1000000L div n_rows").as("flagged_ppm"))
  }

  /** Deterministic stratified sampler: keep a row iff
    * hash60(seed ∥ id) mod 10000 < rate(stratum)·10000. Per-stratum
    * rates (4-decimal resolution) rebalance a corpus — e.g. downsample
    * dominant languages — without `rand()`: the keep decision depends
    * only on the row's id, so it is reproducible across runs, engines,
    * partitionings, and retries, and samples at different rates nest
    * (rate 0.1 ⊆ rate 0.5 for the same seed). Strata not in `rates`
    * fall back to `defaultRate`. Pure filter — map-only at any scale. */
  def stratifiedSample(
      df: DataFrame,
      strata: Column,
      id: Column,
      rates: Map[String, Double],
      defaultRate: Double = 0.0,
      seed: String = "strat"): DataFrame = {
    require(
      (rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      s"rates must be in [0,1]: $rates default=$defaultRate")
    val hv = pmod(Portable.hash60(concat(lit(seed), lit("_"), id.cast("string"))), lit(10000L))
    val threshold = rates.toSeq.sortBy(_._1).foldLeft(lit(math.round(defaultRate * 10000).toInt): Column) {
      case (acc, (s, r)) => when(strata === s, lit(math.round(r * 10000).toInt)).otherwise(acc)
    }
    df.filter(hv < threshold)
  }

  /** Temperature-based source rebalancing (the multilingual-corpus
    * mixture trick, e.g. mC4/XLM-R style): keep probability
    * p_g = (n_min/n_g)^(1−α) per group, so at α→1 nothing is dropped
    * and at α→0 every group is downsampled to the smallest group's
    * expected size — flattening the mixture without replicating rows
    * (rates stay ≤ 1 by normalizing on the SMALLEST group).
    *
    * Same deterministic hash-gate as [[stratifiedSample]] (a row's
    * fate depends only on its id — partition- and engine-invariant);
    * the rates come from one tiny per-group count aggregate that is
    * broadcast back, so the corpus is filtered map-only.
    *
    * α = 0.5 (the default) computes the rate with `sqrt`, which is
    * correctly rounded and therefore bit-portable; other α use `pow`,
    * which may drift in the last ulp across libm implementations — fine
    * for sampling, but only the sqrt path carries the exact-oracle
    * guarantee. Output = kept rows + their group's `sample_rate_bps`. */
  def temperatureSample(
      df: DataFrame,
      group: Column,
      id: Column,
      alpha: Double = 0.5,
      seed: String = "temp"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1]: $alpha")
    require(!df.columns.contains("sample_rate_bps"), "column sample_rate_bps already exists")
    val counts = df.groupBy(group.as("__g")).agg(count(lit(1)).as("__n"))
    val nmin   = counts.agg(min(col("__n")).as("__nmin"))
    val ratio  = col("__nmin").cast("double") / col("__n")
    val rate   = if (alpha == 0.5) sqrt(ratio) else pow(ratio, 1.0 - alpha)
    // Rate floored at 1 bps: with extreme skew (n_g/n_min beyond ~1e8
    // at α=0.5) the rounded rate would hit 0 and silently drop the
    // ENTIRE largest source — a floor keeps every group represented,
    // at worst oversampling a pathological group to 1/10000. Rows
    // whose group is NULL are dropped by the inner join below (NULL
    // never equals __g) — by design: a temperature mixture needs a
    // group; pre-bucket nulls if they must survive.
    val bps = counts
      .crossJoin(broadcast(nmin))
      .select(
        col("__g"),
        greatest(lit(1L), round(rate * 10000).cast("long")).as("sample_rate_bps"))
    val hv = pmod(Portable.hash60(concat(lit(seed), lit("_"), id.cast("string"))), lit(10000L))
    df.join(broadcast(bps), group === col("__g"))
      .filter(hv < col("sample_rate_bps"))
      .drop("__g")
  }

  /** Deterministic global shuffle + shard assignment — the "randomize
    * training order and write N shards" step at the end of a data
    * pipeline. Each row gets a portable pseudo-random key
    * (hash60(seed ∥ id)), its shard (key mod `shards`), and its
    * position within the shard (rank by key, id tiebreak). The
    * ordering is a pure function of ids — reproducible across runs,
    * engines, partitionings, and retries, unlike `rand()` or
    * `repartition().sortWithinPartitions` whose layouts drift.
    *
    * Scale shape: ONE exchange hash-partitioned by shard, then a
    * per-shard sort — exactly the physical plan a shard writer wants
    * (each reducer sorts and writes its own shard file). No global
    * sort, no driver funnel; shard sizes are balanced by the uniform
    * hash (expected n/shards ± √n). */
  def globalShuffle(df: DataFrame, id: Column, shards: Int, seed: String = "shuf"): DataFrame = {
    require(shards > 0, s"shards must be positive: $shards")
    val key = Portable.hash60(concat(lit(seed), lit("_"), id.cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("shuffle_key").asc, col("doc_id").asc)
    df.select(id.as("doc_id"))
      .withColumn("shuffle_key", key)
      .withColumn("shard", pmod(col("shuffle_key"), lit(shards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** Exact per-group length quantiles (percentile_disc semantics):
    * the sequence-length distribution report a training pipeline
    * checks before choosing context length / packing capacity.
    * For each group: n, min, p25/p50/p90/p99 (value at the smallest
    * rank ≥ ⌈p·n⌉), max. All-integer rank arithmetic — bit-portable.
    *
    * Scale shape: the naive form (row_number over every row per
    * group) sorts the full corpus through per-group windows. This
    * runs on the COMPRESSED relation instead: one hash-agg to
    * (group, len, cnt) — at most |groups|·|distinct lengths| rows —
    * then the cumulative window and quantile selection over that
    * small relation. The corpus itself is touched by exactly one
    * map-side-combined aggregate. */
  def lengthQuantiles(df: DataFrame, group: Column, len: Column): DataFrame = {
    val h = df.groupBy(group.as("group"), len.as("len")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col("len").asc)
    val cum = h
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("tot", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("group"))))
    // ⌈p·n⌉ in pure integer arithmetic: (num·n + den − 1) div den —
    // Spark `div` = DuckDB `//` for positives, no double detour.
    def target(num: Int, den: Int): Column =
      expr(s"(tot * $num + ${den - 1}) div $den")
    def pick(num: Int, den: Int, name: String): Column =
      min(when(col("cum") >= target(num, den), col("len"))).as(name)
    cum.groupBy(col("group")).agg(
      max(col("tot")).as("n"),
      min(col("len")).as("min_len"),
      pick(25, 100, "p25"),
      pick(50, 100, "p50"),
      pick(90, 100, "p90"),
      pick(99, 100, "p99"),
      max(col("len")).as("max_len"))
  }

  /** Mixture repeat-factor planner: given per-source counts, compute
    * the temperature-α target mixture (w_g ∝ n_g^α — the
    * multilingual/multi-source rebalancing rule) and the per-source
    * REPEAT factor (how many epochs of each source a training run
    * takes to realize that mixture), capped at `maxRepeatX1000`.
    * Upsampling complement of [[temperatureSample]]: instead of
    * dropping rows from big sources, small sources repeat.
    *
    * Bit-portable by integer quantization: √n (α = 0.5, the
    * correctly-rounded case) is quantized to micro-units before the
    * cross-source sum, so shares are exact integer ratios (ppm via
    * trunc-div), never an order-dependent double sum. Output per
    * source: n_docs, natural_ppm, target_ppm, repeat_x1000,
    * effective_docs. The whole plan aggregates to |sources| rows
    * before any nontrivial arithmetic — trivially scale-safe. */
  def mixturePlan(df: DataFrame, source: Column, maxRepeatX1000: Long = 8000L): DataFrame = {
    require(maxRepeatX1000 >= 1000L, s"cap must allow at least 1 epoch: $maxRepeatX1000")
    val counts = df.groupBy(source.as("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("sq", round(sqrt(col("n_docs").cast("double")) * 1000000).cast("long"))
    val totals = counts.agg(
      sum(col("n_docs")).as("__tot"), sum(col("sq")).as("__sqtot"))
    counts.crossJoin(broadcast(totals))
      .select(
        col("source"),
        col("n_docs"),
        expr("(n_docs * 1000000L) div __tot").as("natural_ppm"),
        expr("(sq * 1000000L) div __sqtot").as("target_ppm"))
      .withColumn(
        "repeat_x1000",
        least(
          lit(maxRepeatX1000),
          greatest(lit(1000L), expr("(target_ppm * 1000L) div greatest(natural_ppm, 1L)"))))
      .withColumn("effective_docs", expr("(n_docs * repeat_x1000) div 1000L"))
  }

  /** Curriculum schedule export: phase each document by a quality
    * signal (phase 1 = highest-scoring ntile — train on clean data
    * first, anneal toward the raw tail), then fix a deterministic
    * within-corpus order (shard, pos) a data loader can consume
    * phase-by-phase. The artifact a curriculum-training run reads
    * instead of shuffling at load time.
    *
    * Determinism end to end: phases ride [[Ranking.globalNtile]] (the
    * sharded exact ntile — no single-reducer sort) and order rides
    * [[globalShuffle]]'s portable hash — the same corpus + seed yields
    * the identical schedule on any engine or partitioning. Scale
    * shape: one score pass, the two-phase rank machinery, one
    * doc_id-keyed join — nothing corpus-sized crosses an
    * unpartitioned window.
    *
    * `score` is expected in [0, 1] (a quality DENSITY, the repo's
    * convention): the internal milli-scale shard key clamps to
    * [-1000, 0], so scores outside [0, 1] still rank CORRECTLY (the
    * order key is the raw score) but all land in the end shards —
    * silently reintroducing the single-shard straggler this key
    * exists to fix. Rescale wider scores before calling. */
  def curriculumSchedule(
      df: DataFrame,
      id: Column,
      score: Column,
      phases: Int,
      shards: Int,
      seed: String = "curr"): DataFrame = {
    require(phases >= 1, s"phases must be positive: $phases")
    val scored = df.select(id.as("doc_id"), score.as("__score"))
    // Shard by the CLAMPED milli-score, order by the raw score: a
    // quality score lives in [0, 1], so the default long truncation of
    // the order key collapses every row into shard {-1, 0} — the
    // "parallel" per-shard window became 1–2 corpus-sized partitions
    // (r14 profile: one straggler task owned the corpus sort).
    // trunc(-score·1000) is weakly monotone in -score (scaling and
    // truncation are monotone), so ranks are bit-identical; clamping
    // to [-1000, 0] makes the keyBounds promise unconditional, and
    // the min/max discovery pass (one extra corpus scan of the
    // scorer) disappears.
    val shardKey = greatest(least((-col("__score") * 1000).cast("long"), lit(0L)), lit(-1000L))
    val tiled = Ranking
      .globalNtile(scored, -col("__score"), Seq(col("doc_id")), phases, tileName = "phase",
        keyBounds = Some((-1000L, 0L)), shardKey = Some(shardKey))
      .select(col("doc_id"), col("phase"))
    val order = globalShuffle(df.select(id.as("doc_id")), col("doc_id"), shards, seed)
      .select(col("doc_id"), col("shard"), col("pos"))
    tiled.join(order, "doc_id")
  }

  /** UniMax budget allocation (Chung et al. 2023): split a total
    * training-token budget across languages/sources so every group is
    * sampled as UNIFORMLY as possible without repeating any group more
    * than `epochCapX1000/1000` epochs — the fairer alternative to
    * temperature sampling ([[mixturePlan]]), which over-samples head
    * languages and starves the tail. Water-filling semantics, made
    * closed-form and bit-portable:
    *
    * groups ascending by size n (ties by name), R_i groups from i on,
    * cap_i = ⌊n_i·epochCapX1000/1000⌋; group i is CAPPED iff
    * cap_i·R_i ≤ budget − Σ_{j<i} cap_j (it can take its full epoch
    * cap and still leave every larger group at least as much).
    * Capped groups get cap_i; the rest split the remaining budget
    * evenly (floor). All decisions are exact int64 comparisons — no
    * iterative driver loop, no doubles until nothing is left to get
    * wrong. Output per group: n_tokens, capped, alloc_tokens,
    * epochs_x1000 (= alloc·1000 div n).
    *
    * Scale shape: the corpus collapses to |groups| rows in ONE
    * map-side-combined hash-agg; the ordering window and the leftover
    * rollup run over that tiny relation (same bounded-window pattern
    * as [[lengthQuantiles]]/[[mixturePlan]]). */
  def unimaxPlan(
      df: DataFrame,
      group: Column,
      weight: Column,
      budget: Long,
      epochCapX1000: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(epochCapX1000 >= 1000L, s"epoch cap must allow at least 1 epoch: $epochCapX1000")
    val counts = df
      .groupBy(group.as("language"))
      .agg(sum(weight).as("n_tokens"))
      .withColumn("cap_alloc", expr(s"(n_tokens * ${epochCapX1000}L) div 1000L"))
    // |languages| rows: the unpartitioned windows below are bounded by
    // group cardinality, not corpus size
    val ord = Window.orderBy(col("n_tokens").asc, col("language").asc)
    val flagged = counts
      .withColumn("__idx", row_number().over(ord).cast("long"))
      .withColumn("__l", count(lit(1)).over(Window.partitionBy()))
      .withColumn(
        "__prefix",
        coalesce(sum(col("cap_alloc")).over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn(
        "capped",
        col("cap_alloc") * (col("__l") - col("__idx") + 1) <= lit(budget) - col("__prefix"))
    val leftover = flagged.agg(
      (lit(budget) - coalesce(sum(when(col("capped"), col("cap_alloc"))), lit(0L))).as("__left"),
      sum(when(!col("capped"), 1L).otherwise(0L)).as("__u"))
    flagged
      .crossJoin(broadcast(leftover))
      .withColumn(
        "alloc_tokens",
        // __u = 0 (every group capped — the budget exceeds the whole
        // corpus at its epoch cap) must not divide: guarded to 0
        when(col("capped"), col("cap_alloc"))
          .when(col("__u") > 0, expr("__left div __u"))
          .otherwise(lit(0L)))
      // greatest(…, 1): a zero-weight group (possible with arbitrary
      // caller weights) must report 0 epochs, not NULL/div-by-zero
      .withColumn("epochs_x1000", expr("(alloc_tokens * 1000L) div greatest(n_tokens, 1L)"))
      .select(col("language"), col("n_tokens"), col("capped"), col("alloc_tokens"), col("epochs_x1000"))
  }

  /** Materialize a [[mixturePlan]]: emit each document once per epoch
    * of its source's repeat factor — ⌊repeat⌋ copies for every doc,
    * plus one extra copy for the deterministic hash-gated fraction of
    * docs that realizes the fractional remainder (repeat = 1.666 ⇒
    * every doc once, the hash-selected 66.6% a second time — expected
    * copies per doc = repeat, exactly). The output is the epoch-
    * expanded training list a sampler-free data loader consumes.
    *
    * Scale shape: the plan is |sources| rows broadcast back; the
    * expansion is a map-only `explode` with amplification bounded by
    * the plan's cap — no shuffle. Deterministic: the extra-copy gate
    * hashes the id, so the realized mixture is reproducible across
    * engines and partitionings. */
  def realizeMixture(
      df: DataFrame,
      source: Column,
      id: Column,
      maxRepeatX1000: Long = 8000L,
      seed: String = "epoch"): DataFrame =
    expandByPlan(
      df, source, id,
      mixturePlan(df, source, maxRepeatX1000)
        .select(col("source").as("__src"), col("repeat_x1000")),
      seed)

  /** Shared hash-gated epoch expansion over a broadcast
    * (__src, repeat_x1000) plan — [[realizeMixture]]'s core, also fed
    * by [[doremiRealize]]. Map-only explode, amplification bounded by
    * the plan's cap, deterministic extra-copy gate on the hashed id. */
  private def expandByPlan(
      df: DataFrame,
      source: Column,
      id: Column,
      plan: DataFrame,
      seed: String): DataFrame = {
    // hash the RENAMED id attribute — the caller's `id` expression is
    // unresolvable after the select below
    val hv = pmod(
      Portable.hash60(concat(lit(seed), lit("_"), col("doc_id").cast("string"))), lit(1000L))
    df.select(id.as("doc_id"), source.as("source"))
      .join(broadcast(plan), col("source") === col("__src"))
      .withColumn(
        "n_copies",
        expr("repeat_x1000 div 1000L") + when(hv < col("repeat_x1000") % 1000, 1L).otherwise(0L))
      // n_copies = 0 (a DOWNSAMPLED doc under a sub-1.0 repeat) must
      // drop, not explode: sequence(1, 0) auto-steps backwards and
      // would emit the doc twice
      .filter(col("n_copies") >= 1L)
      .select(
        col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("epoch"))
  }

  /** Realize a [[doremiRounds]] round's mixture over the corpus — the
    * loop's RESAMPLE stage (reweight → resample → rescore): per-source
    * repeat factor r_d = w_d / p_d (×1000), so the expanded list's
    * expected share is the round's w_ppm, applied through the SAME
    * hash-gated epoch expansion as [[realizeMixture]] — the plan is
    * |sources| rows broadcast back, the expansion map-only,
    * amplification capped at `maxRepeatX1000`. `weights` is one
    * round's (source, w_ppm) slice of [[doremiRounds]] output.
    *
    * `mass` decides WHAT share p_d measures. [[doremiRounds]]' w_ppm
    * is a TOKEN-share weight (the reference loop resamples by token
    * mass), so pass the per-doc token count — p_d is then the natural
    * token share and the realized TOKEN mixture converges to w_ppm
    * regardless of per-domain document-length differences. The
    * default `lit(1L)` measures doc share instead, which matches
    * w_ppm only under uniform doc length — use it for doc-count
    * weights like [[mixturePlan]]'s. The repeat factor stays
    * per-SOURCE either way; `mass` shapes p_d, not per-doc copies. */
  def doremiRealize(
      df: DataFrame,
      source: Column,
      id: Column,
      weights: DataFrame,
      maxRepeatX1000: Long = 8000L,
      seed: String = "doremi",
      mass: Column = lit(1L)): DataFrame = {
    require(maxRepeatX1000 >= 1000L, s"cap must allow at least 1 epoch: $maxRepeatX1000")
    val plan = df
      .groupBy(source.as("__src")).agg(sum(mass.cast("long")).as("__n"))
      .withColumn("__ntot", sum(col("__n")).over(Window.partitionBy()))
      .join(weights.select(col("source").as("__src"), col("w_ppm")), "__src")
      .select(
        col("__src"),
        least(
          expr("w_ppm * 1000L div " +
            "greatest(cast(__n as decimal(38,0)) * 1000000 div __ntot, 1L)"),
          lit(maxRepeatX1000)).as("repeat_x1000"))
    expandByPlan(df, source, id, plan, seed)
  }

  /** ONE definition of the hashed-unigram cell for the domain-mixture
    * family — shared by the batch MW step ([[domainReweight]]) and the
    * streaming mixture monitor
    * ([[graft.streaming.DocStream.domainCellMonitor]]) so a window's
    * streamed partials feed the batch step directly (the cmsBuckets
    * discipline). */
  private[graft] def domainCell(t: Column, cells: Int): Column =
    pmod(Portable.hash60(t), lit(cells.toLong))

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * ONE multiplicative-weights step over per-domain EXCESS LOSS,
    * with DoReMi's Hedge exponential replaced by the classic linear
    * MW update w′ ∝ w·(1 + η·excess) (Arora–Hazan–Kale, "The
    * Multiplicative Weights Update Method", 2012 — the same
    * first-order direction) so every quantity stays exact integer
    * ppm. No `exp()`: libm exponentials are not correctly rounded,
    * so Spark and a C++ oracle could disagree in the last ulp;
    * `1 + η·x` is floor-division-exact on both.
    *
    * Loss proxy (no reference model runs in this engine): per-token
    * RARITY under the corpus unigram distribution over 256
    * hashed-token cells (md5-60-bit % 256, Laplace-smoothed — the q97
    * DSIR cell convention). loss_d = mean occurrence rarity of domain
    * d; excess_d = max(0, loss_d − corpus mean). A domain whose
    * tokens are systematically rarer than the corpus average is the
    * one the current mixture underfits, and MW shifts weight toward
    * it — DoReMi's direction. Production swaps rarity for true
    * (proxy − reference) per-token excess log-loss in micro-nats;
    * the relational shape is identical.
    *
    * Scale shape: ONE corpus token pass collapses map-side to
    * (source, cell) partials (≤ cells·|sources| groups); EVERYTHING
    * downstream — the cell dictionary, per-source losses, the corpus
    * reference, the MW step, renormalization — is windows and
    * hash-aggs over that bounded relation in a single linear flow.
    * Deliberately NOT the crossJoin(broadcast(agg)) idiom: every
    * self-referencing branch replans the corpus scan (column pruning
    * makes the subtrees non-identical, so ReuseExchange never fires —
    * measured 16 scans on the naive form vs 2 here). The unpartitioned
    * windows are bounded by cells·|sources| rows, never corpus-sized.
    * The doc-count pass reads only the `source` column (pruned scan).
    * Overflow: the rarity sums and the cell-mass numerators reach
    * 10^6·occurrences, which wraps a Long once a source approaches
    * ~9.2·10^12 tokens — well inside a 100 TB corpus — so those
    * accumulations run in DECIMAL(38,0) and collapse back to Long
    * only after the ppm division (every output column stays LongType).
    *
    * Output per domain: n_docs, n_occ, loss_ppm, excess_ppm, w0_ppm
    * (natural doc-share) and w1_ppm (the reweighted mixture, ppm,
    * renormalized after the MW step). */
  def domainReweight(
      df: DataFrame,
      source: Column,
      text: Column,
      etaPpm: Long = 250000L,
      cells: Int = 256): DataFrame = {
    require(etaPpm >= 0L && etaPpm <= 1000000L, s"etaPpm in [0, 1e6]: $etaPpm")
    require(cells >= 2, s"cells must be >= 2: $cells")
    val wAll = Window.partitionBy() // bounded: ≤ cells·|sources| rows
    val wB   = Window.partitionBy(col("b"))
    val perSource = df
      .select(source.as("source"), explode(TextAnalysis.tokens(text)).as("t"))
      .select(col("source"), domainCell(col("t"), cells).as("b"))
      .groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__tot", sum(col("cnt")).over(wAll))
      .withColumn("__cb", sum(col("cnt")).over(wB))
      .withColumn(
        "__rarity",
        lit(1000000L) -
          expr(s"(cast(__cb as decimal(38,0)) + 1) * 1000000 div (__tot + ${cells}L)"))
      .groupBy(col("source"))
      .agg(
        sum(col("__rarity").cast("decimal(38,0)") * col("cnt")).as("__rsum"),
        sum(col("cnt")).as("n_occ"))
    val docs = df.groupBy(source.as("source")).agg(count(lit(1)).as("n_docs"))
    perSource
      .join(docs, "source") // |sources| rows from here on
      .withColumn("__rall", sum(col("__rsum")).over(wAll))
      .withColumn("__nall", sum(col("n_occ")).over(wAll))
      .withColumn("__ndocs", sum(col("n_docs")).over(wAll))
      .select(
        col("source"), col("n_docs"), col("n_occ"),
        expr("__rsum div n_occ").as("loss_ppm"),
        greatest(lit(0L), expr("__rsum div n_occ") - expr("__rall div __nall"))
          .as("excess_ppm"),
        expr("n_docs * 1000000L div __ndocs").as("w0_ppm"))
      .withColumn(
        "__w1u",
        expr(s"w0_ppm * (1000000L + ${etaPpm}L * excess_ppm div 1000000L) div 1000000L"))
      .withColumn("__w1tot", sum(col("__w1u")).over(wAll))
      .withColumn("w1_ppm", expr("__w1u * 1000000L div greatest(__w1tot, 1L)"))
      .drop("__w1u", "__w1tot")
  }

  /** MULTI-ROUND DoReMi (Xie et al. 2023): the full iterated
    * reweight → re-score loop above [[domainReweight]]'s single MW
    * step. The reference loop resamples the corpus under the new
    * mixture and re-scores it each round; the key identity this
    * operator exploits is that re-scoring a REWEIGHTED mixture needs
    * only the per-(domain, cell) token partials — the mixture's
    * unigram distribution is P_mix(cell) = Σ_d w_d·P_d(cell), a
    * weighted sum over the SAME bounded partial relation every round
    * — so the corpus is touched ONCE and each round costs
    * ≤ cells·|sources| rows, never a corpus re-scan (the
    * [[graft.operators.TextAnalysis.bpeTrain]] discipline: one
    * corpus-sized collapse, vocabulary-sized iteration). A pipeline
    * that wants the physical round-r training list feeds the round's
    * `w_ppm` into [[realizeMixture]]'s plan — the weights ARE the
    * per-source repeat factors, so the composition stays map-only.
    *
    * Per round r (all exact integer ppm, no exp() — the
    * [[domainReweight]] portability rule):
    *   term(d,b)   = w_d · (cnt(d,b)·10⁶ div n_occ_d)
    *   mb(b)       = (Σ_d term) div 10⁶          — mixture cell mass
    *   rarity(b)   = 10⁶ − (mb+1)·10⁶ div (Σmb + cells)   (Laplace)
    *   loss_d      = Σ_b rarity(b)·cnt(d,b) div n_occ_d
    *   lossbar     = Σ_d w_d·loss_d div Σ_d w_d  — MIXTURE mean loss
    *   excess_d    = max(0, loss_d − lossbar)
    *   w′_d        ∝ w_d·(10⁶ + η·excess_d div 10⁶), renormalized
    * Round 1 starts from the natural token share
    * w0_d = n_occ_d·10⁶ div n_occ.
    *
    * Overflow: Σ rarity·cnt and the ·10⁶ numerators reach
    * 10⁶·occurrences — past ~9.2·10^12 tokens per source that wraps a
    * Long, so (as in [[domainReweight]]) the corpus-scale
    * accumulations run in DECIMAL(38,0) and the ppm divisions
    * collapse back to Long; every output column stays LongType.
    *
    * Output: (source, round, loss_ppm, excess_ppm, w_ppm) for
    * round = 1..rounds, w_ppm = the weight AFTER that round's step.
    * Each round's |sources|-row state is persisted (bounded rows;
    * for rounds ≫ 64 materialize-and-free per round like bpeTrain —
    * here lineage depth stays O(rounds) over cells·|sources| data,
    * and construction stays side-effect-free for plan-only
    * consumers). */
  def doremiRounds(
      df: DataFrame,
      source: Column,
      text: Column,
      rounds: Int,
      etaPpm: Long = 250000L,
      cells: Int = 256): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds in [1, 64]: $rounds")
    require(etaPpm >= 0L && etaPpm <= 1000000L, s"etaPpm in [0, 1e6]: $etaPpm")
    require(cells >= 2, s"cells must be >= 2: $cells")
    val wAll  = Window.partitionBy() // bounded: ≤ cells·|sources| rows
    // the ONLY corpus-sized pass
    val partials = df
      .select(source.as("source"), explode(TextAnalysis.tokens(text)).as("t"))
      .select(col("source"), domainCell(col("t"), cells).as("b"))
      .groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .persist(Materialize.level)
    val occ = partials
      .groupBy(col("source")).agg(sum(col("cnt")).as("n_occ"))
      .withColumn("__nall", sum(col("n_occ")).over(wAll))
      .select(col("source"), col("n_occ"),
        expr("cast(n_occ as decimal(38,0)) * 1000000 div __nall").as("w_ppm"))
      .persist(Materialize.level)
    var w   = occ.select(col("source"), col("w_ppm"))
    var out = Vector.empty[DataFrame]
    for (r <- 1 to rounds) {
      val withW = partials
        .join(occ.select(col("source"), col("n_occ")), "source")
        .join(w, "source")
        .withColumn("__term",
          expr("w_ppm * ((cast(cnt as decimal(38,0)) * 1000000) div n_occ)"))
      val cellRarity = withW
        .groupBy(col("b"))
        .agg(sum(col("__term")).as("__m"))
        .withColumn("__mb", expr("__m div 1000000L"))
        .withColumn("__mt", sum(col("__mb")).over(wAll))
        .select(col("b"),
          (lit(1000000L) - expr(s"(__mb + 1L) * 1000000L div (__mt + ${cells}L)"))
            .as("__rar"))
      val stepped = withW
        .join(broadcast(cellRarity), "b") // ≤ cells rows broadcast
        .groupBy(col("source"))
        .agg(
          sum(col("__rar").cast("decimal(38,0)") * col("cnt")).as("__rsum"),
          max(col("n_occ")).as("__n"),
          max(col("w_ppm")).as("__w"))
        .withColumn("loss_ppm", expr("__rsum div __n"))
        .withColumn("__wl", sum(expr("__w * loss_ppm")).over(wAll))
        .withColumn("__ws", sum(col("__w")).over(wAll))
        .withColumn("excess_ppm",
          greatest(lit(0L), col("loss_ppm") - expr("__wl div greatest(__ws, 1L)")))
        .withColumn("__wu",
          expr(s"__w * (1000000L + ${etaPpm}L * excess_ppm div 1000000L) div 1000000L"))
        .withColumn("__wut", sum(col("__wu")).over(wAll))
        .select(col("source"), col("loss_ppm"), col("excess_ppm"),
          expr("__wu * 1000000L div greatest(__wut, 1L)").as("w_ppm"))
        .persist(Materialize.level) // |sources| rows: round r+1 and the output read it, not its lineage
      out = out :+ stepped
        .select(col("source"), lit(r.toLong).as("round"),
          col("loss_ppm"), col("excess_ppm"), col("w_ppm"))
      w = stepped.select(col("source"), col("w_ppm"))
    }
    out.reduce(_.unionByName(_))
  }

  /** Per-row curation LINEAGE: evaluate ALL named gates independently
    * and pack the failures into a reason bitmask — bit k set ⇔ gate k
    * FAILED (a NULL gate value counts as failed: an unscoreable row
    * must not be silently admitted). `admitted` ⇔ mask == 0.
    *
    * This is the complement of the funnel report (q153): the funnel
    * shows where each row EXITED first; the lineage shows every
    * reason it would exit — the relation a curation post-mortem joins
    * against ("how many contaminated docs were ALSO dedup losers?").
    * Gates arrive as boolean columns the caller has already built
    * (typically semi-join flags against gate sets materialized once
    * per snapshot), so the lineage itself adds only a map-side
    * projection over the flagged relation — no new shuffle, no new
    * gate computation, linear at any scale. */
  def gateLineage(df: DataFrame, id: Column, gates: Seq[(String, Column)]): DataFrame = {
    require(gates.nonEmpty && gates.size <= 63, s"1..63 gates, got ${gates.size}")
    val mask = gates.zipWithIndex.map { case ((_, pass), i) =>
      when(coalesce(pass, lit(false)), lit(0L)).otherwise(lit(1L << i))
    }.reduce(_ + _)
    df.select(id.as("row_id"), mask.as("reason_mask"))
      .withColumn("admitted", (col("reason_mask") === 0L).cast("boolean"))
  }

  /** ONE definition of the HyperLogLog (bucket, rho) pair for a 60-bit
    * [[Portable.hash60]] value — shared by the batch audit
    * ([[hllDistinctAudit]]) and the streaming distinct monitor
    * ([[graft.streaming.DocStream.distinctTokenMonitor]]) so the two
    * sketches can never diverge (the cmsBuckets discipline). Takes the
    * HASH, not the key: callers with array-valued keys (n-grams) hash
    * INSIDE their per-row transform and explode longs
    * ([[TextDedup.hashedNgramsAllFromWords]]) — exploding the gram
    * strings measured 16× slower end-to-end at ×100 (q189 audit 45.9 s
    * → 2.9 s; isolated, the string explode alone is 36 s vs 0.9 s for
    * the same count of longs: 26 M UTF8 copies). bucket = low p bits; rho =
    * 1 + leading zeros of the remaining 60−p bits (= 61−p when all
    * zero). `length(bin(x))` gives the MSB position identically in
    * Spark and DuckDB (both print minimal-width binary, `bin(0) =
    * "0"`), and `shiftright` keeps the 60-bit value exact (a double
    * division would lose low bits), so registers are engine-portable. */
  private[graft] def hllBucketRho(hash60: Column, p: Int): Column = {
    val m = 1L << p
    struct(
      pmod(hash60, lit(m)).as("b"),
      when(hash60 < lit(m), lit(61 - p)) // rem == 0: all 60−p bits zero
        .otherwise(lit(61 - p) - length(bin(shiftright(hash60, p))))
        .as("rho"))
  }

  /** HyperLogLog distinct-count audit (Flajolet et al., AofA '07) — the
    * CARDINALITY sibling of the q186 count-min sketch: "how many
    * distinct keys per group" at FIXED state. The sketch is a
    * (group, bucket → max rho) register RELATION of ≤ m = 2^p rows per
    * group regardless of corpus size, max-mergeable across shards,
    * snapshots and stream windows (union → groupBy max — associative,
    * idempotent, so re-counting a key can never move a register).
    * countDistinct at 100 TB shuffles every distinct key; the register
    * relation shuffles ≤ m rows per group after map-side partial max.
    *
    * All-integer, engine-portable estimate: with C = 61−p (the max
    * register), Z·2^C = Σ_j 2^(C − M_j) is an exact int64 (≤ m·2^C =
    * 2^61), and est = α_m·m²·2^C div (Z·2^C·10^6) runs in
    * DECIMAL(38,0) — both engines floor-divide the same integers, so
    * the estimate (and therefore the in-bounds verdict) hash-matches
    * DuckDB bit-exactly, unlike q47's engine-internal HLL++ whose
    * oracle must assume TRUE. α_m = 0.7213/(1 + 1.079/m) is carried as
    * the integer α_ppm = 7213·m·10^5 div (1000·m + 1079).
    *
    * No small-range (linear-counting) correction: `ln` is not
    * correctly-rounded and would break engine portability; below
    * ~2.5·m distinct keys the raw estimate biases high and `in_bounds`
    * says so honestly (both engines compute the same boolean). Audit
    * columns per group: exact distinct (the ground truth this sketch
    * replaces at scale), the estimate, err_ppm, and in_bounds at the
    * 3σ bar (σ ≈ 1.04/√m).
    *
    * `hash60` is the key's [[Portable.hash60]] (see [[hllBucketRho]]);
    * both the sketch AND the exact side count distinct HASHES — md5
    * collisions are ~n²/2⁶¹ (none at any realistic group size), both
    * engines derive identical hashes, and a long shuffles ~4× lighter
    * than an n-gram string. */
  def hllDistinctAudit(
      rows: DataFrame,
      group: Column,
      hash60: Column,
      p: Int = 8): DataFrame = {
    val m        = 1L << p
    val boundPpm = (3.0 * 1040000.0 / math.sqrt(m.toDouble)).toLong
    val est      = hllEstimate(hllRegisters(rows, group, hash60, p), p)
    val exact = rows
      .select(group.as("g"), hash60.as("k")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("exact_distinct"))
    exact
      .join(est, Seq("g"))
      .select(
        col("g").as("grp"),
        col("exact_distinct"),
        col("hll_estimate"),
        expr("abs(hll_estimate - exact_distinct) * 1000000L div exact_distinct")
          .as("err_ppm"))
      .withColumn("in_bounds", col("err_ppm") <= lit(boundPpm))
  }

  /** The PRODUCTION side of [[hllDistinctAudit]]: just the register
    * relation (grp, b, register) — ≤ 2^p rows per group after map-side
    * partial max, the once-per-snapshot artifact shards/windows merge
    * with a further groupBy-max. */
  def hllRegisters(rows: DataFrame, group: Column, hash60: Column, p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 14, s"p must be in [7, 14] (got $p)")
    rows.select(group.as("g"), hllBucketRho(hash60, p).as("br"))
      .groupBy(col("g"), col("br.b").as("b"))
      .agg(max(col("br.rho")).as("register"))
  }

  /** Per-group cardinality estimate from a [[hllRegisters]] relation —
    * all-integer (see [[hllDistinctAudit]]), ≤ 2^p input rows per
    * group, so this step costs nothing at any corpus size. */
  def hllEstimate(regs: DataFrame, p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 14, s"p must be in [7, 14] (got $p)")
    val m        = 1L << p
    val alphaPpm = 7213L * m * 100000L / (1000L * m + 1079L)
    regs
      .groupBy(col("g"))
      .agg(
        count(lit(1)).as("__nb"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${61 - p} - register)")).as("__snz"))
      .select(
        col("g"),
        (col("__snz") + (lit(m) - col("__nb")) * lit(1L << (61 - p))).as("__s"))
      .select(
        col("g"),
        expr(
          s"CAST(${alphaPpm}L AS DECIMAL(38,0)) * ${m * m}L * ${1L << (61 - p)}L" +
            " div (CAST(__s AS DECIMAL(38,0)) * 1000000L)").as("hll_estimate"))
  }

  /** ONE definition of the log-bucket KEY for the quantile sketch
    * (DDSketch, Masson et al. VLDB '19, in pure-integer base-2 form) —
    * shared by the batch audit ([[ddQuantileAudit]]) and the streaming
    * monitor ([[graft.streaming.DocStream.lengthSketchMonitor]]), the
    * cmsBuckets discipline. For a positive long x with msb position
    * e = length(bin(x)) − 1 (the engine-portable MSB trick — see
    * [[hllBucketRho]]) and sub-bucket bits k:
    *   shift = max(e − k, 0);  m = (x >> shift) − 2^min(e,k);
    *   key = e·2^k + m.
    * key is MONOTONE in x (lexicographic (e, m) = truncated binary
    * order), every x in [1, 2^63) lands in exactly one of ≤ 63·2^k
    * buckets, and the bucket [rep, hi] ([[ddBucketRep]]/[[ddBucketHi]])
    * has relative width ≤ 2^−k — the sketch's error guarantee. Values
    * < 2^(k+1) bucket EXACTLY (singletons). x must be ≥ 1: callers
    * gate/shift their domain (token counts are ≥ 1 already). */
  // shift by a COLUMN amount — the functions.shiftleft/right DSL only
  // takes literal Int bits
  private def shl(x: Column, bits: Column): Column =
    call_function("shiftleft", x, bits.cast("int"))
  private def shr(x: Column, bits: Column): Column =
    call_function("shiftright", x, bits.cast("int"))

  private[graft] def ddBucketKey(x: Column, k: Int): Column = {
    val e = (length(bin(x)) - 1).cast("long")
    e * lit((1 << k).toLong) +
      shr(x, greatest(e - k, lit(0L))) - shl(lit(1L), least(e, lit(k.toLong)))
  }

  /** Lower bound (the sketch's representative) of a [[ddBucketKey]]
    * bucket — recomputed FROM the key, so sketch state is just
    * (key, count): addition-mergeable across shards/windows/snapshots. */
  private[graft] def ddBucketRep(key: Column, k: Int): Column = {
    val e = shr(key, lit(k.toLong))
    val m = key.bitwiseAND(lit(((1 << k) - 1).toLong))
    shl(shl(lit(1L), least(e, lit(k.toLong))) + m, greatest(e - k, lit(0L)))
  }

  /** Inclusive upper bound of a [[ddBucketKey]] bucket. */
  private[graft] def ddBucketHi(key: Column, k: Int): Column = {
    val e = shr(key, lit(k.toLong))
    ddBucketRep(key, k) + shl(lit(1L), greatest(e - k, lit(0L))) - lit(1L)
  }

  /** Mergeable-quantile-sketch audit (the sketch-family sibling of
    * [[hllDistinctAudit]] and `cmsHeavyHitters`): per group, the
    * DDSketch log-bucket histogram's p50/p90/p99 of `value` vs the
    * EXACT percentile_disc-convention quantile ([[lengthQuantiles]]'
    * ⌈p·n⌉ rank), plus the in-bounds verdict the sketch GUARANTEES:
    * sketch_rep ≤ exact ≤ sketch_hi, relative width ≤ 2^−k. Both
    * sides all-integer, so estimate AND verdict hash-match an
    * engine-independent oracle bit-exactly — no assumed-TRUE rows.
    *
    * Scale shape: ONE corpus pass collapses map-side to the
    * (group, value) histogram; the sketch keys, both cumulative
    * relations and the quantile picks are windows/aggs over that
    * bounded relation. Production keeps only the ≤ 63·2^k-row
    * (group, key, cnt) sketch — what replaces an exact quantile at
    * 100 TB, shard-mergeable by addition (the streaming monitor
    * emits the same keys). */
  def ddQuantileAudit(
      df: DataFrame,
      group: Column,
      value: Column,
      k: Int = 4): DataFrame = {
    require(k >= 1 && k <= 8, s"k must be in [1, 8] (got $k)")
    val h = df
      .select(group.as("g"),
        when(value.cast("long").isNull || value.cast("long") < 1L,
          raise_error(lit("ddQuantileAudit: value must be a positive long")))
          .otherwise(value.cast("long")).as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("key").asc)
    val wTot = Window.partitionBy(col("g"))
    // sketch side: fold the value histogram into log buckets (key is
    // monotone in v, so bucket order == value order)
    val sk = h
      .select(col("g"), ddBucketKey(col("v"), k).as("key"), col("cnt"))
      .groupBy(col("g"), col("key")).agg(sum(col("cnt")).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("tot", sum(col("cnt")).over(wTot))
    val wCumV = Window.partitionBy(col("g")).orderBy(col("v").asc)
    val ex = h
      .withColumn("cum", sum(col("cnt")).over(wCumV))
      .withColumn("tot", sum(col("cnt")).over(wTot))
    def target(pct: Int): Column = expr(s"(tot * $pct + 99) div 100")
    def pickSk(pct: Int, f: Column => Column, name: String): Column =
      min(when(col("cum") >= target(pct), f(col("key")))).as(name)
    def pickEx(pct: Int, name: String): Column =
      min(when(col("cum") >= target(pct), col("v"))).as(name)
    val sketchQ = sk.groupBy(col("g")).agg(
      max(col("tot")).as("n"),
      pickSk(50, ddBucketRep(_, k), "p50_rep"), pickSk(50, ddBucketHi(_, k), "p50_hi"),
      pickSk(90, ddBucketRep(_, k), "p90_rep"), pickSk(90, ddBucketHi(_, k), "p90_hi"),
      pickSk(99, ddBucketRep(_, k), "p99_rep"), pickSk(99, ddBucketHi(_, k), "p99_hi"))
    val exactQ = ex.groupBy(col("g")).agg(
      pickEx(50, "p50_exact"), pickEx(90, "p90_exact"), pickEx(99, "p99_exact"))
    sketchQ.join(exactQ, "g")
      .select(
        col("g"), col("n"),
        col("p50_rep"), col("p50_exact"),
        (col("p50_rep") <= col("p50_exact") && col("p50_exact") <= col("p50_hi"))
          .as("p50_ok"),
        col("p90_rep"), col("p90_exact"),
        (col("p90_rep") <= col("p90_exact") && col("p90_exact") <= col("p90_hi"))
          .as("p90_ok"),
        col("p99_rep"), col("p99_exact"),
        (col("p99_rep") <= col("p99_exact") && col("p99_exact") <= col("p99_hi"))
          .as("p99_ok"))
  }
}
